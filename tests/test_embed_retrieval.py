"""M2 embedder, T3 semantic segmentation, S8/J10 batch ANN retrieval, and
the M4 two-stage pipeline."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from kgp.ops import embed, simsearch

SF = "/root/testdata/sf0.001"


def test_hash_embed_deterministic_and_batch_parity():
    texts = ["spark table stream", "", "join agg window join", "spark table stream"]
    M = embed.hash_embed_batch(texts)
    for i, t in enumerate(texts):
        assert np.array_equal(M[i], embed.hash_embed(t))
    assert np.array_equal(M[0], M[3])           # deterministic
    assert M[1].sum() == 0.0                     # empty -> zero vector
    assert abs(float(np.linalg.norm(M[0])) - 1.0) < 1e-6


def test_semantic_segments_structure():
    text = ("cats cats cats. cats cats kittens. dogs dogs dogs. "
            "dogs dogs hounds. birds wings feathers. birds sing songs. "
            "fish swim deep. fish scales shine.")
    segs = embed.semantic_segments(text)
    joined = "".join(segs)
    # every sentence survives (incl. the tail the reference drops)
    for sent in ["cats cats cats.", "fish scales shine."]:
        assert sent in joined
    assert len(segs) >= 1


def test_embed_texts_spark_matches_pure(spark):
    pdf = pd.DataFrame({"doc_id": [0, 1], "text": ["alpha beta", "gamma delta gamma"]})
    out = {r["doc_id"]: r["embedding"]
           for r in embed.embed_texts(spark.createDataFrame(pdf)).collect()}
    for i in range(2):
        assert np.allclose(out[i], embed.hash_embed(pdf["text"][i]), atol=1e-6)


def _lsh_index(spark, emb, out_dir):
    simsearch.build_lsh_index(emb, str(out_dir))
    return simsearch.load_lsh_index(spark, str(out_dir))


def test_ann_batch_topk_recall(spark, tmp_path):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 10)
    exact = simsearch.knn_batch_topk(emb, max_qid=10, k=5).collect()
    index = _lsh_index(spark, emb, tmp_path)
    approx = simsearch.ann_batch_topk(queries, emb, index, k=5).collect()
    exact_set = {(r["qid"], r["vec_id"]) for r in exact}
    approx_set = {(r["qid"], r["vec_id"]) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.6  # LSH_BANDS = 4 bands on the fixture corpus
    # every approx hit is scored exactly like the exact path
    escore = {(r["qid"], r["vec_id"]): r["score"] for r in exact}
    for r in approx:
        key = (r["qid"], r["vec_id"])
        if key in escore:
            assert abs(r["score"] - escore[key]) < 1e-9


def test_lsh_index_built_with_other_banding_is_rebuilt(spark, tmp_path, monkeypatch):
    """An index cached before an LSH_BANDS edit stores bkeys of the old
    banding, while the probe and the DuckDB twin band with LSH_BANDS: it
    must be refused and rebuilt, not served."""
    import json

    from kgp import queries

    d = tmp_path / "ann" / "tag"
    monkeypatch.setattr(queries, "_cache_dir", lambda kind, sf_dir: str(tmp_path / kind / "tag"))
    first = {tuple(r) for r in queries._ann_index(spark, SF).collect()}
    meta = json.loads((d / "meta.json").read_text())
    assert meta["bands"] == simsearch.LSH_BANDS
    (d / "meta.json").write_text(json.dumps(dict(meta, bands=simsearch.LSH_BANDS + 1)))

    assert not simsearch.lsh_index_compatible(str(d))
    with pytest.raises(ValueError, match="rebuild"):
        simsearch.load_lsh_index(spark, str(d))
    builds = []
    build = simsearch.build_lsh_index
    monkeypatch.setattr(simsearch, "build_lsh_index",
                        lambda df, out_dir: builds.append(out_dir) or build(df, out_dir))
    again = {tuple(r) for r in queries._ann_index(spark, SF).collect()}
    assert builds == [str(d)]
    assert json.loads((d / "meta.json").read_text()) == meta
    assert again == first


def test_retrieval_pipeline_shape(spark, tmp_path):
    from kgp.ops.retrieval import retrieval_pipeline

    index = _lsh_index(spark, spark.read.parquet(f"{SF}/embeddings.parquet"), tmp_path)
    out = retrieval_pipeline(spark, SF, index, n_queries=4, k_retrieve=20, k_final=3).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["qid"], []).append(r)
    assert set(by_q) <= set(range(4)) and len(by_q) >= 1
    for q, rows in by_q.items():
        ranks = sorted(r["final_rank"] for r in rows)
        assert ranks == list(range(1, len(rows) + 1))
        for r in rows:
            assert r["doc_id"] != q  # self excluded at retrieval
            assert r["context"]      # context expansion produced text
    # deterministic end to end
    out2 = retrieval_pipeline(spark, SF, index, n_queries=4, k_retrieve=20, k_final=3).collect()
    key = lambda r: (r["qid"], r["final_rank"], r["doc_id"], r["context"])
    assert sorted(map(key, out)) == sorted(map(key, out2))


def test_ann_ivf_topk_recall(spark, tmp_path):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    C = simsearch.train_centroids(emb, n_centroids=8)
    C2 = simsearch.train_centroids(emb, n_centroids=8)
    assert np.array_equal(C, C2)  # deterministic quantizer
    queries = emb.filter(F.col("vec_id") < 10)
    exact = simsearch.knn_batch_topk(emb, max_qid=10, k=5).collect()
    approx = simsearch.ann_ivf_topk(queries, emb, C, k=5, nprobe=3).collect()
    exact_set = {(r["qid"], r["vec_id"]) for r in exact}
    approx_set = {(r["qid"], r["vec_id"]) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.5  # 3-of-8 cells probed
    # persisted inverted lists give identical results
    idx_dir = str(tmp_path / "ivf")
    simsearch.build_ivf_index(emb, idx_dir, n_centroids=8)
    cells = spark.read.parquet(f"{idx_dir}/ivf").select("id", "cell")
    approx2 = simsearch.ann_ivf_topk(queries, emb, C, k=5, nprobe=3, index=cells).collect()
    key = lambda r: (r["qid"], r["rank"], r["vec_id"])
    assert sorted(map(key, approx)) == sorted(map(key, approx2))


def test_train_centroids_unbiased_sample(spark):
    """The quantizer sample must NOT be the corpus head: plant a degenerate
    head (first 4096 rows in storage order are one repeated vector) — a
    head-biased limit() sample would hand k-means a single distinct point
    (every centroid identical), while the hash-ordered sample sees the tail
    and spreads the centroids."""
    n = 5000
    rng = np.random.default_rng(7)
    vecs = [[1.0] * 8 for _ in range(4096)] + \
           [list(map(float, rng.standard_normal(8))) for _ in range(n - 4096)]
    pdf = pd.DataFrame({"vec_id": range(n), "embedding": vecs})
    df = spark.createDataFrame(pdf).coalesce(1)  # single file split = worst case
    C = simsearch.train_centroids(df, n_centroids=8)
    assert np.unique(np.round(C, 6), axis=0).shape[0] > 1
    # the head-only sample this replaced really is degenerate on this input
    head = np.stack([np.asarray(r[0], dtype=np.float64)
                     for r in df.select("embedding").limit(4096).collect()])
    assert np.unique(head, axis=0).shape[0] == 1


def test_ann_recall_metric(spark, tmp_path):
    """The registry-visible recall@k metric: sane floor for both ANN paths
    on the fixture corpus, and the exactness property — IVF probing ALL
    cells is a full scan, so its candidate set contains every exact
    neighbor (recall 1.0 by construction)."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    # ANN_RECALL_FLOORS are anchored at sf0.01 (this corpus: lsh 0.58)
    floors = {"lsh": 0.5, "ivf": 0.5}  # random vectors are the LSH worst case
    rows = {r["method"]: r for r in simsearch.ann_recall_at_k(
        emb, _lsh_index(spark, emb, tmp_path), min_recall=floors).collect()}
    assert set(rows) == {"lsh", "ivf"}
    for r in rows.values():
        assert r["n_exact"] == 20 * 10
        # quantized basis points since the entry became a quality gate
        assert r["recall_bp"] >= 5000
    C = simsearch.train_centroids(emb, n_centroids=8)
    queries = emb.filter(F.col("vec_id") < 10)
    exact = {(r["qid"], r["vec_id"])
             for r in simsearch.knn_batch_topk(emb, max_qid=10, k=5).collect()}
    allprobe = {(r["qid"], r["vec_id"])
                for r in simsearch.ann_ivf_topk(queries, emb, C, k=5, nprobe=8).collect()}
    assert exact == allprobe
