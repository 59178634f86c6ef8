"""Tests for the operator library (kgp/ops/*) against numpy/pandas truths
on the driver testdata at sf0.001."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest

from kgp.ops import dedup, events as ev, graph, multimodal, simsearch, textqa
from kgp.ops.tables import load

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return load(spark, SF, "documents").cache()


@pytest.fixture(scope="module")
def emb(spark):
    return load(spark, SF, "embeddings").cache()


# ---------------------------------------------------------------------------
# graph
# ---------------------------------------------------------------------------

def test_kg_counts_consistent(spark):
    n_nation = load(spark, SF, "nation").count()
    n_cust = load(spark, SF, "customer").count()
    n_supp = load(spark, SF, "supplier").count()
    n_ord = load(spark, SF, "orders").count()
    n_li = load(spark, SF, "lineitem").count()
    assert graph.edges(spark, SF).count() == n_nation + n_cust + n_supp + n_ord + 2 * n_li

    by_pred = {r["pred"]: r["n_edges"] for r in graph.edges_by_pred(spark, SF).collect()}
    assert by_pred["contains_part"] == n_li
    assert by_pred["supplied_by"] == n_li
    assert by_pred["in_region"] == n_nation
    assert sum(v for k, v in by_pred.items() if k.startswith("placed_")) == n_ord


def test_bgp_two_hop_matches_relational(spark):
    """The edge-space BGP must equal the equivalent base-table join."""
    from pyspark.sql import functions as F

    nat = load(spark, SF, "nation").filter(F.col("n_name") == "NATION_3")
    expected = (
        load(spark, SF, "lineitem")
        .join(load(spark, SF, "orders"), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(load(spark, SF, "customer"), F.col("o_custkey") == F.col("c_custkey"))
        .join(nat, F.col("c_nationkey") == F.col("n_nationkey"), "left_semi")
        .select("l_partkey").distinct().count()
    )
    assert graph.bgp_two_hop(spark, SF).count() == expected


def test_graph_materialize_partitioned(spark, tmp_path):
    out = str(tmp_path / "graph")
    graph.materialize_graph(spark, SF, out)
    e = spark.read.parquet(f"{out}/edges")
    # pred survives as a partition column and counts round-trip
    assert e.filter(e.pred == "in_region").count() == load(spark, SF, "nation").count()


# ---------------------------------------------------------------------------
# dedup
# ---------------------------------------------------------------------------

def test_ngram_jaccard_matches_pandas(spark, docs):
    got = {(r["a"], r["b"]): r["jaccard"]
           for r in dedup.ngram_jaccard_pairs_sqlable(docs).collect()}

    pdf = docs.toPandas()
    import re

    def grams(t):
        w = re.sub(r"\s+", " ", t.strip().lower()).split(" ")
        return set(f"{a} {b}" for a, b in zip(w, w[1:])) if len(w) >= 2 else {t}

    exp = {}
    rows = list(pdf[["doc_id", "text"]].itertuples(index=False))
    for i, (ida, ta) in enumerate(rows):
        ga = grams(ta)
        for idb, tb in rows[i + 1:]:
            gb = grams(tb)
            j = len(ga & gb) / len(ga | gb)
            if round(j, 6) >= 0.2:
                key = (min(ida, idb), max(ida, idb))
                exp[key] = round(j, 6)
    assert got == exp


def test_exact_dedup_keeps_lowest_id(spark):
    df = spark.createDataFrame(
        [(3, "x"), (1, "x"), (2, "y"), (5, "x")], "id long, text string")
    kept = sorted(r["id"] for r in dedup.exact_dedup(df, "text", "id").collect())
    assert kept == [1, 2]


def test_minhash_finds_near_identical(spark):
    rows = [(i, "the quick brown fox jumps over the lazy dog " + str(i % 2)) for i in range(6)]
    rows.append((99, "completely different content with nothing shared at all"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = dedup.minhash_near_dup_pairs(df).collect()
    ids = {(r["a"], r["b"]) for r in pairs}
    assert (0, 2) in ids and all(99 not in p for p in ids)


def test_simhash_near_identical(spark):
    from kgp.ops.dedup import _simhash64

    rows = [(1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "alpha beta gamma delta epsilon zeta eta theta"),  # identical → hamming 0
            (3, "totally unrelated words appear here instead now")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {(r["a"], r["b"]): r["hamming"] for r in
             dedup.simhash_near_dup_pairs(df).collect()}
    assert pairs == {(1, 2): 0}

    # banding guarantee: any pair within hamming<=3 shares >=1 of 4 16-bit
    # bands (pigeonhole)
    h12 = bin((_simhash64(rows[0][1]) ^ _simhash64(rows[2][1])) & (2**64 - 1)).count("1")
    assert h12 > 3  # sanity: the negative pair is genuinely far


# ---------------------------------------------------------------------------
# simsearch
# ---------------------------------------------------------------------------

def _np_cosine_topk(pdf: pd.DataFrame, qid: int, k: int):
    M = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    ids = pdf["vec_id"].to_numpy()
    q = M[ids == qid][0]
    scores = (M @ q) / (np.linalg.norm(M, axis=1) * np.linalg.norm(q))
    order = sorted(
        [(round(s, 6), int(i)) for s, i in zip(scores, ids) if i != qid],
        key=lambda t: (-t[0], t[1]))
    return [(i, s) for s, i in order[:k]]


def test_cosine_topk_matches_numpy(spark, emb):
    got = [(r["vec_id"], r["score"]) for r in
           simsearch.cosine_topk(emb, query_id=0, k=5).collect()]
    exp = _np_cosine_topk(emb.toPandas(), 0, 5)
    assert [i for i, _ in got] == [i for i, _ in exp]
    for (_, a), (_, b) in zip(got, exp):
        assert math.isclose(a, b, abs_tol=2e-6)


def test_batched_matches_jvm_topk(spark, emb):
    qv = emb.filter(emb.vec_id == 0).collect()[0]["embedding"]
    jvm = [r["vec_id"] for r in simsearch.cosine_topk(emb, 0, 5).collect()]
    bat = [r["vec_id"] for r in
           simsearch.cosine_scores_batched(emb.filter(emb.vec_id != 0), qv, 5).collect()]
    assert jvm == bat


def test_ann_subset_of_exact_ordering(spark, emb, tmp_path):
    """ANN results are exact-scored; every returned score must equal the
    brute-force score for that id (approximation only affects the set)."""
    exact = dict(_np_cosine_topk(emb.toPandas(), 0, 10**6))
    simsearch.build_lsh_index(emb, str(tmp_path))
    index = simsearch.load_lsh_index(spark, str(tmp_path))
    ann = simsearch.ann_batch_topk(emb.filter(emb.vec_id == 0), emb, index, k=10).collect()
    assert len(ann) > 0
    for r in ann:
        assert math.isclose(r["score"], exact[r["vec_id"]], abs_tol=2e-6)


# ---------------------------------------------------------------------------
# textqa / events / multimodal
# ---------------------------------------------------------------------------

def test_quality_scores_bounds(spark, docs):
    pdf = textqa.quality_scores(docs).toPandas()
    assert len(pdf) == docs.count()
    assert ((pdf["quality"] >= 0) & (pdf["quality"] <= 1)).all()
    assert ((pdf["uniq_ratio"] > 0) & (pdf["uniq_ratio"] <= 1)).all()


def test_lang_id_deterministic_argmax(spark, docs):
    pdf = textqa.lang_id(docs).toPandas()
    score_cols = [c for c in pdf.columns if c.startswith("score_")]
    for _, row in pdf.head(50).iterrows():
        best = max(row[c] for c in score_cols)
        if best == 0:
            assert row["pred_lang"] == "und"
        else:
            winners = sorted(c[len("score_"):] for c in score_cols if row[c] == best)
            assert row["pred_lang"] == winners[0]


def test_sessionize_gap_semantics(spark):
    rows = [
        (1, "2024-01-01 00:00:00", 7, "click", 1.0, "{}"),
        (2, "2024-01-01 00:10:00", 7, "click", 2.0, "{}"),
        (3, "2024-01-01 01:10:00", 7, "click", 3.0, "{}"),  # 60 min gap → new session
        (4, "2024-01-01 01:20:00", 8, "view", 4.0, "{}"),
    ]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"])
        .assign(ts=lambda d: pd.to_datetime(d["ts"])))
    out = {(r["user_id"], r["session_seq"]): r["n_events"] for r in ev.sessionize(df).collect()}
    assert out == {(7, 1): 2, (7, 2): 1, (8, 1): 1}


def test_payload_meta_byte_math(spark, docs):
    got = multimodal.payload_meta(docs).toPandas().set_index("doc_id")
    pdf = docs.toPandas().set_index("doc_id")
    for doc_id, row in got.head(20).iterrows():
        n = len(pdf.loc[doc_id, "text"].encode("utf-8"))
        assert row["n_bytes"] == n
        assert row["width"] == n % 256 and row["n_frames"] == n % 7 + 1


def test_decode_image_is_stubbed():
    with pytest.raises(NotImplementedError):
        multimodal.decode_image(b"\x89PNG")


def test_byte_features_q20_matches_duckdb_adversarial(spark, tmp_path):
    """The fixed-point byte-histogram surface equals its SQL twin on the
    domain edges: empty text, single char, multi-space runs, uniform text
    (l2q20 = 2^20 exactly), and a length straddling count ties."""
    import duckdb

    texts = ["", "a", "   ", "aaaa aaaa", "abcdefgh" * 7, "zz y x w v",
             ("the quick brown fox " * 9).strip(), None]
    pdf = pd.DataFrame({"doc_id": range(len(texts)), "text": texts,
                        "lang": "en", "source": "s",
                        "n_chars": [len(t) if t is not None else 0
                                    for t in texts]})
    d = str(tmp_path / "docs")
    spark.createDataFrame(pdf).coalesce(1).write.parquet(f"{d}/documents.parquet")
    from kgp.ops.tables import load
    sdf = (multimodal.byte_features_q20(load(spark, d, "documents"))
           .toPandas().sort_values("doc_id").reset_index(drop=True))
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{d}/documents.parquet/*.parquet'")
    odf = (con.execute(multimodal.byte_features_q20_sql()).df()
           .sort_values("doc_id").reset_index(drop=True))
    assert sdf.astype(str).equals(odf.astype(str))
    # uniform text: one bucket holds everything -> unit L2 exactly
    assert sdf.loc[sdf["doc_id"] == 1, "l2q20"].iloc[0] == 1 << 20
    # empty text: all-zero feature row, not a crash or a dropped row
    assert sdf.loc[sdf["doc_id"] == 0, "feat_csv"].iloc[0] == ",".join(["0"] * 8)
    # NULL text: NULL-features row on BOTH engines (not a zero row) — the
    # nullable-text branch byte_features keeps must survive the projection
    assert sdf.loc[sdf["doc_id"] == 7, "feat_csv"].iloc[0] == ""
    assert pd.isna(sdf.loc[sdf["doc_id"] == 7, "l2q20"].iloc[0])
    assert pd.isna(odf.loc[odf["doc_id"] == 7, "l2q20"].iloc[0])


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Bucketed co-located join: both scan sides are pre-partitioned on the
    join key, so no Exchange feeds the join."""
    import io
    import re
    from contextlib import redirect_stdout

    from kgp.ops.bucketed import bucketed_order_revenue

    df = bucketed_order_revenue(spark, "/root/testdata/sf0.001",
                                cache_root=str(tmp_path / "bdb"))
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    txt = buf.getvalue()
    assert "SortMergeJoin" in txt or "BroadcastHashJoin" in txt
    # the join consumes the bucketed scans directly: no exchange on the
    # join key anywhere in the plan (the only allowed exchange is the
    # final tiny aggregation shuffle on o_orderpriority)
    assert not re.search(r"Exchange hashpartitioning\((?:o_orderkey|l_orderkey)", txt)
    assert df.count() > 0


def test_bucketed_fresh_catalog_recovery(spark, tmp_path):
    """The two lifetimes reconciled by ensure_bucketed: (a) a fresh
    session catalog over a COMPLETE on-disk build re-registers the data as
    an external bucketed table — values identical and the join still
    zero-exchange (no rewrite); (b) a dir without the _BUILD_OK marker is
    a torn write and gets rebuilt."""
    import io
    import os
    import re
    import shutil
    from contextlib import redirect_stdout

    from kgp.ops.bucketed import bucketed_order_revenue, ensure_bucketed

    sf = "/root/testdata/sf0.001"
    root1, root2, root3 = (str(tmp_path / r) for r in ("r1", "r2", "r3"))
    # drop any session-catalog entry a previous test (e.g. the plan test
    # on the default cache root) registered for THIS dataset, or the
    # tableExists short-circuit skips the cold build into root1
    for row in spark.sql("SHOW DATABASES").collect():
        if row["namespace"].startswith("kgp_bucketed_"):
            spark.sql(f"DROP DATABASE IF EXISTS {row['namespace']} CASCADE")
    db = ensure_bucketed(spark, sf, root1)  # cold build (managed tables)
    baseline = {tuple(r) for r in
                bucketed_order_revenue(spark, sf, cache_root=root1).collect()}

    # (a) warm data, fresh catalog: copy the completed build (markers
    # included) to a new root, drop the db (forgets the handles), re-ensure
    shutil.copytree(f"{root1}/{db}", f"{root2}/{db}")
    spark.sql(f"DROP DATABASE {db} CASCADE")
    ensure_bucketed(spark, sf, root2)
    assert spark.sql(f"DESCRIBE TABLE EXTENDED {db}.orders_b") \
        .filter("col_name = 'Type'").first()["data_type"] == "EXTERNAL"
    df = bucketed_order_revenue(spark, sf, cache_root=root2)
    assert {tuple(r) for r in df.collect()} == baseline
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    assert not re.search(
        r"Exchange hashpartitioning\((?:o_orderkey|l_orderkey)", buf.getvalue())

    # (b) torn write: same files but no _BUILD_OK marker -> rebuild
    shutil.copytree(f"{root2}/{db}", f"{root3}/{db}")
    os.remove(f"{root3}/{db}/orders_b/_BUILD_OK")
    spark.sql(f"DROP DATABASE {db} CASCADE")  # external: files survive
    ensure_bucketed(spark, sf, root3)
    assert os.path.exists(f"{root3}/{db}/orders_b/_BUILD_OK")
    got = {tuple(r) for r in
           bucketed_order_revenue(spark, sf, cache_root=root3).collect()}
    assert got == baseline
    spark.sql(f"DROP DATABASE {db} CASCADE")


def test_cosine_lsh_subset_and_recall(spark, emb):
    """In-bucket-verify LSH: output must be a SUBSET of the exact-threshold
    pairs (the verify is exact, only candidate generation is approximate),
    values must agree with the exact twin, and a planted duplicate pair
    (identical vectors hash identically in every band) is always found."""
    from pyspark.sql import functions as F

    exact = {(r["a"], r["b"]): r["cosine"] for r in
             simsearch.cosine_pairs_exact(emb, threshold=0.4).collect()}
    got = {(r["a"], r["b"]): r["cosine"] for r in
           dedup.cosine_near_dup_pairs(emb, "embedding", "vec_id",
                                       threshold=0.4).collect()}
    assert set(got) <= set(exact)
    for k, v in got.items():
        assert abs(v - exact[k]) < 1e-6
    # plant an exact duplicate of vec 0 under a fresh id: recall 1.0
    dup = emb.filter(F.col("vec_id") == 0).withColumn("vec_id", F.lit(99999))
    planted = dedup.cosine_near_dup_pairs(emb.unionByName(dup), "embedding",
                                          "vec_id", threshold=0.99)
    assert (0, 99999) in {(r["a"], r["b"]) for r in planted.collect()}


def test_simhash_banding_recall_guarantee(spark):
    """Pigeonhole recall: EVERY pair within hamming<=3 must appear in the
    banded op's output (4x16-bit bands cannot all differ at <=3 flipped
    bits) — checked against an all-pairs python ground truth."""
    from kgp.ops.dedup import _simhash64

    rows = [(i, f"shared core words here plus {w}") for i, w in enumerate(
        ["alpha", "alpho", "alphq", "beta", "gamma gamma", "delta", "alpha",
         "epsilon zeta", "alpha beta", "theta"])]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r["a"], r["b"]) for r in
           dedup.simhash_near_dup_pairs(df).collect()}
    sh = {i: _simhash64(t) for i, t in rows}
    want = set()
    for i in range(len(rows)):
        for j in range(i + 1, len(rows)):
            if bin((sh[i] ^ sh[j]) & (2 ** 64 - 1)).count("1") <= 3:
                want.add((i, j))
    assert want, "fixture must contain close pairs"
    assert got == want


def test_minhash_pairs_match_python_spec(spark, docs):
    """The op's output equals the python spec computed with the SAME shared
    functions: pairs sharing >=1 of 8 four-hash band keys whose exact
    shingle Jaccard clears the threshold."""
    from kgp.textops import minhash_band_keys, word_bigram_shingles

    pdf = docs.toPandas()
    rows = list(pdf[["doc_id", "text"]].itertuples(index=False))
    bands = {i: set(minhash_band_keys(t or "")) for i, t in rows}
    sh = {i: word_bigram_shingles(t or "") for i, t in rows}
    want = {}
    for x, (ida, _) in enumerate(rows):
        for idb, _t in rows[x + 1:]:
            a, b = min(ida, idb), max(ida, idb)
            if bands[a] & bands[b]:
                u = len(sh[a] | sh[b])
                j = len(sh[a] & sh[b]) / u if u else 1.0
                # threshold on the RAW double (engine-identical IEEE value),
                # emitted as 2^-20 fixed point
                if j >= 0.5:
                    want[(a, b)] = math.floor(j * (1 << 20))
    got = {(r["a"], r["b"]): r["jq20"]
           for r in dedup.minhash_near_dup_pairs(docs).collect()}
    assert got == want and len(want) > 0
