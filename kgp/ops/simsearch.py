"""Similarity search over embedding columns (array<float>).

Reference analogs: exact cosine top-k (SURVEY.md §2.4 J11,
src/features/qa_search.py:32-42), ANN retrieval (J10,
src/data/create_faiss_index.py + semantic_search_two_towers.py:19-57).

Two paths, as a 100 TB design requires:

- **Exact brute-force** (the correctness baseline): dot products computed
  JVM-side with ``aggregate(zip_with(...))`` over double-cast arrays — no
  Python in the loop, whole-stage codegen, broadcast of the query vector.
  O(N·d) per query; right answer, linear cost.
- **LSH-bucketed ANN** (the scale path): random-hyperplane sign buckets
  (deterministic planes) prune candidates before exact verification —
  the shuffle is keyed on bucket id, so cost scales with bucket sizes,
  not N².  Mirrors the reference's IVFFlat nlist=100 coarse quantizer.

A batched pandas-UDF matmul (`cosine_scores_batched`) is provided for the
many-queries case: one BLAS matmul per Arrow batch instead of one
expression tree per pair.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window as W, functions as F, types as T

from .common import pin


def _dot(a, b) -> F.Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
                       F.lit(0.0), lambda acc, x: acc + x)


def _norm(a) -> F.Column:
    return F.sqrt(_dot(a, a))


def _cos(a, b) -> F.Column:
    """Rounded cosine; NULL (not a crash) on a zero-norm vector.  Spark 4
    is ANSI by default so a bare x/0 throws DIVIDE_BY_ZERO, while the
    DuckDB oracle twins yield NULL — nullif aligns the engines, and the
    all-zero embedding is a real input (embed.hash_embed emits one for a
    token-less document)."""
    return F.round(_dot(a, b) / F.nullif(_norm(a) * _norm(b), F.lit(0.0)), 6)


def cosine_topk(df: DataFrame, query_id: int, k: int = 10,
                id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Exact top-k cosine neighbors of one row's vector (J11).

    The 1-row query side is broadcast; the scan side stays a single
    narrow pass (no shuffle until the final TakeOrderedAndProject).
    """
    q = df.filter(F.col(id_col) == query_id).select(F.col(vec_col).alias("qv"))
    scored = (
        df.filter(F.col(id_col) != query_id)
        .crossJoin(F.broadcast(q))
        .select(
            F.col(id_col),
            _cos(vec_col, "qv").alias("score"),
        )
    )
    return scored.orderBy(F.desc("score"), id_col).limit(k)


def cosine_topk_sql(query_id: int, k: int = 10) -> str:
    return f"""
        WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = {query_id}),
        e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id <> {query_id})
        SELECT vec_id,
               ROUND(list_dot_product(v, qv) /
                     (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 6) AS score
        FROM e, q ORDER BY score DESC, vec_id LIMIT {k}
    """


def cosine_pairs_exact(df: DataFrame, threshold: float = 0.4,
                       id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """All pairs with cosine >= threshold, exact O(N²) self-join baseline.
    Use only at calibration scale; the LSH variant is the scale path."""
    l = df.select(F.col(id_col).alias("a"), F.col(vec_col).alias("va"))
    r = df.select(F.col(id_col).alias("b"), F.col(vec_col).alias("vb"))
    return (
        l.join(r, F.col("a") < F.col("b"))
        .select("a", "b",
                _cos("va", "vb").alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def cosine_pairs_exact_sql(threshold: float = 0.4, max_id: int | None = None) -> str:
    """``max_id`` mirrors a Spark-side ``vec_id < max_id`` input cap — the
    verification-harness lever that keeps this by-design O(N²) twin to
    minutes at sf > gate scale (see queries.PARITY_CAPS)."""
    where = f"WHERE vec_id < {max_id}" if max_id is not None else ""
    return f"""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings {where})
        SELECT a.vec_id AS a, b.vec_id AS b,
               ROUND(list_dot_product(a.v, b.v) /
                     (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cosine
        FROM e a JOIN e b ON a.vec_id < b.vec_id
        WHERE ROUND(list_dot_product(a.v, b.v) /
                    (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) >= {threshold}
    """


# ---------------------------------------------------------------------------
# batched matmul scoring (many queries at once)
# ---------------------------------------------------------------------------

def cosine_scores_batched(df: DataFrame, query_vec: list[float], k: int = 10,
                          id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Top-k via one BLAS matmul per Arrow batch (pandas UDF path).

    Same result as `cosine_topk`; preferred when d is large — the JVM
    expression tree costs O(d) codegen per row, the matmul amortizes it.
    """
    qv = np.asarray(query_vec, dtype=np.float64)
    qn = float(np.linalg.norm(qv))

    @F.pandas_udf(T.DoubleType())
    def _score(vs: pd.Series) -> pd.Series:
        M = np.stack(vs.to_numpy()).astype(np.float64)
        den = np.linalg.norm(M, axis=1) * qn
        num = M @ qv
        # NaN -> NULL through Arrow: zero-norm vectors must score NULL
        # exactly like _cos and the DuckDB twin (0.0 would rank a zero
        # vector above every negative-cosine neighbor and break the
        # m3_batched_topk hash gate on any corpus containing one)
        safe = np.where(den > 0, den, 1.0)
        return pd.Series(np.where(den > 0, num / safe, np.nan))

    return (
        df.select(F.col(id_col), F.round(_score(vec_col), 6).alias("score"))
        .orderBy(F.desc("score"), id_col).limit(k)
    )


# ---------------------------------------------------------------------------
# LSH-bucketed ANN (scale path; deterministic hyperplanes)
# ---------------------------------------------------------------------------

N_PLANES = 12
_PLANE_SEED = 20240816  # independent hash family from dedup's (by design)


def lsh_bucket_ids(df: DataFrame, id_col: str = "vec_id",
                   vec_col: str = "embedding", bands: int = 3) -> DataFrame:
    """(id, bkey) rows: sign-bit bucket keys, ``bands`` keys per vector.
    Bucketing is single-sourced in ops.hyperlsh (cached planes, vectorized
    key build) — shared with dedup.cosine_near_dup_pairs modulo seed."""

    def keys(it):
        from .hyperlsh import sign_band_keys

        for pdf in it:
            if len(pdf) == 0:
                yield pd.DataFrame(columns=["id", "bkey"])
                continue
            M = np.stack(pdf[vec_col].to_numpy())
            ids = pdf[id_col].to_numpy()
            per_band = sign_band_keys(M, bands, N_PLANES, _PLANE_SEED)
            yield pd.DataFrame({"id": np.tile(ids, bands),
                                "bkey": np.concatenate(per_band)})

    return df.select(id_col, vec_col).mapInPandas(keys, schema="id long, bkey string")


# ---------------------------------------------------------------------------
# S8 — persisted ANN index + J10 many-query retrieval join
# ---------------------------------------------------------------------------

def build_lsh_index(df: DataFrame, out_dir: str, id_col: str = "vec_id",
                    vec_col: str = "embedding", bands: int = 4) -> None:
    """Materialize the LSH bucket table ONCE (reference
    create_faiss_index.py:43-68: train/add/write_index) — queries then pay
    a bucket-table scan instead of recomputing every corpus bucket key.
    Partitioned by band so a query probing one band prunes the others."""
    buckets = lsh_bucket_ids(df, id_col, vec_col, bands).withColumn(
        "band", F.split(F.col("bkey"), ":").getItem(0))
    buckets.write.mode("overwrite").partitionBy("band").parquet(f"{out_dir}/buckets")
    # the index is only probeable with the SAME banding: record it, so a
    # bands/planes/seed mismatch between build and probe cannot silently
    # produce empty candidate joins (bkey formats simply never matching)
    import json

    with open(f"{out_dir}/meta.json", "w") as f:
        json.dump({"bands": bands, "n_planes": N_PLANES,
                   "plane_seed": _PLANE_SEED}, f)


def lsh_index_compatible(out_dir: str) -> bool:
    """True iff the persisted index's hash family matches the CURRENT
    module constants.  ``bands`` may differ (the probe adopts the index's
    banding), but n_planes/plane_seed are baked into every stored bkey —
    a mismatch means probe keys never equal stored keys and every
    candidate join is silently empty.  Cache managers use this to trigger
    a rebuild instead of serving an unprobeable index."""
    import json
    import os

    meta_path = f"{out_dir}/meta.json"
    if not os.path.exists(meta_path):
        return False
    with open(meta_path) as f:
        meta = json.load(f)
    return (meta.get("n_planes") == N_PLANES
            and meta.get("plane_seed") == _PLANE_SEED)


def load_lsh_index(spark, out_dir: str) -> DataFrame:
    import json
    import os

    df = spark.read.parquet(f"{out_dir}/buckets").select("id", "bkey")
    meta_path = f"{out_dir}/meta.json"
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            # carried on the Python DataFrame handle; ann_batch_topk reads
            # it so the query side is bucketed with the index's banding
            df._kgp_lsh_meta = json.load(f)
        m = df._kgp_lsh_meta
        if (m.get("n_planes"), m.get("plane_seed")) != (N_PLANES, _PLANE_SEED):
            # loud, not empty: probing a 12-plane index with 16-plane keys
            # makes every bkey equijoin miss — zero rows that LOOK like a
            # result.  meta.json recorded the build family precisely so
            # this mismatch is an error, not a silent recall=0
            raise ValueError(
                f"LSH index at {out_dir} was built with n_planes="
                f"{m.get('n_planes')}, seed={m.get('plane_seed')} but the "
                f"current code uses n_planes={N_PLANES}, seed={_PLANE_SEED} "
                "— rebuild the index (delete the cache dir or bump the "
                "cache version)")
    return df


def ann_batch_topk(queries: DataFrame, corpus: DataFrame, k: int = 10,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   index: DataFrame | None = None, bands: int | None = None) -> DataFrame:
    """J10: a TABLE of queries joined top-k against the corpus (reference
    semantic_search_two_towers.py:19-57 serving a query batch).

    Candidates = bucket-key equijoin (query keys × corpus bucket table —
    the persisted S8 index when given, else computed on the fly); exact
    cosine verify only on candidates; row_number per query <= k.  The
    shuffle is keyed on bucket ids, then on query id — never |Q|×|C|.
    Returns (qid, vec_id, score, rank); approximate (recall < 1 by
    design), exact twin: knn_batch_topk.
    """
    if bands is None and index is None:
        bands = 4
    corpus_buckets = index if index is not None else lsh_bucket_ids(corpus, id_col, vec_col, bands)
    if index is not None:
        # probe with the INDEX's banding — a caller-supplied bands that
        # disagrees with the build would make every bkey equijoin miss.
        # Resolution order: the index's _kgp_lsh_meta wins when present
        # (the attribute rides the exact Python handle load_lsh_index
        # returned and is dropped by any DataFrame transformation); a
        # meta-less index — e.g. a self-built bucket table from
        # lsh_bucket_ids — is accepted WITH an explicit bands override
        # (the caller asserts the banding); meta-less AND bands-less is
        # LOUD, because silently guessing would produce the empty-top-k
        # failure meta.json exists to stop
        meta = getattr(index, "_kgp_lsh_meta", None)
        if meta is not None:
            bands = meta["bands"]
        elif bands is None:
            raise ValueError(
                "ann_batch_topk: index DataFrame carries no _kgp_lsh_meta "
                "and no explicit bands= was given — pass the handle "
                "returned by load_lsh_index untransformed, or pass the "
                "bands the bucket table was built with (mismatched bands "
                "silently return zero candidates)")
    q_buckets = lsh_bucket_ids(queries, id_col, vec_col, bands).withColumnRenamed("id", "qid")
    cand = (
        q_buckets.join(corpus_buckets, "bkey")
        .filter(F.col("qid") != F.col("id"))
        .select("qid", "id").distinct()
    )
    qv = queries.select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qv"))
    cv = corpus.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    scored = (
        cand.join(F.broadcast(qv), "qid").join(cv, "id")
        .select("qid", F.col("id").alias(id_col),
                _cos("v", "qv").alias("score"))
    )
    w = W.partitionBy("qid").orderBy(F.desc("score"), id_col)
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def knn_batch_topk(df: DataFrame, max_qid: int = 20, k: int = 10,
                   id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Exact many-query top-k (J10/J11 baseline): broadcast the query
    block, one narrow scan of the corpus, window top-k per query.
    O(|Q|·N) dot products — the recall yardstick for ann_batch_topk."""
    qv = (df.filter(F.col(id_col) < max_qid)
          .select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qv")))
    scored = (
        df.crossJoin(F.broadcast(qv))
        .filter(F.col(id_col) != F.col("qid"))
        .select("qid", F.col(id_col),
                _cos(vec_col, "qv").alias("score"))
    )
    w = W.partitionBy("qid").orderBy(F.desc("score"), id_col)
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def knn_batch_topk_sql(max_qid: int = 20, k: int = 10) -> str:
    return f"""
        WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
                   FROM embeddings WHERE vec_id < {max_qid}),
        e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        s AS (SELECT qid, vec_id,
                     ROUND(list_dot_product(v, qv) /
                           (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 6) AS score
              FROM e, q WHERE vec_id <> qid),
        r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) AS rank
              FROM s)
        SELECT qid, vec_id, score, rank FROM r WHERE rank <= {k}
    """


# ---------------------------------------------------------------------------
# IVF-flat ANN (the reference's actual index type: create_faiss_index.py:43-52
# IndexIVFFlat nlist=100 — a k-means coarse quantizer; here the quantizer is
# a deterministic seeded k-means and the "inverted lists" are a centroid-
# partitioned DataFrame)
# ---------------------------------------------------------------------------

def _sq_dists(M: np.ndarray, C: np.ndarray) -> np.ndarray:
    """(rows, cells) squared L2 in the ALGEBRAIC form |v|^2 - 2 v·c + |c|^2.

    This exact formula (not the (v-c)^2 expansion) is shared by training,
    list assignment, and the query probe so the DuckDB ann_recall twin can
    replay it with three ``list_dot_product`` calls — both engines then
    disagree only by summation-order ulps, and every centroid is rounded
    to 6 decimals per iteration so those ulps can't reach an argmin."""
    return ((M * M).sum(axis=1)[:, None]
            - 2.0 * (M @ C.T)
            + (C * C).sum(axis=1)[None, :])


def train_centroids(df: DataFrame, n_centroids: int = 16, n_iter: int = 10,
                    sample: int = 4096, vec_col: str = "embedding",
                    id_col: str = "vec_id") -> np.ndarray:
    """Deterministic k-means coarse quantizer (Lloyd, fixed iterations) on
    a bounded UNBIASED sample — the faiss `train()` step.

    The sample is the ``sample`` rows with the smallest ``xxhash64(id)``:
    a seeded content-hash order is layout-independent and uniform over the
    corpus, where a bare ``limit(sample)`` takes the FIRST rows — at scale
    that fits the quantizer to the head of the corpus (one ingest batch,
    one shard), skewing the inverted lists (tests plant a degenerate head
    to prove the difference).  Cost: one narrow scan + distributed top-k —
    at 100 TB swap in ``TABLESAMPLE`` to avoid even the scan.  Sizing: for
    balanced lists pick n_centroids ≈ sqrt(N) with nprobe ≈ n_centroids/4
    (the faiss IVFFlat guidance; reference create_faiss_index.py:43-52
    uses nlist=100 for ~10^6 vectors).

    Every step is DuckDB-replayable (ann_recall_sql): the init is the
    first ``n_centroids`` sample rows in (hash, id) order — no RNG — and
    centroids are rounded to 6 decimals after init and after every Lloyd
    update, so cross-engine float noise (summation order) stays ~9 orders
    of magnitude below the quantization step.  Ties in the nearest-cell
    argmin break toward the LOWER cell index in both engines."""
    rows = (df.select(vec_col, F.xxhash64(F.col(id_col)).alias("_h"),
                      F.col(id_col).alias("_i"))
            .orderBy("_h", "_i").limit(sample).select(vec_col).collect())
    if not rows:
        raise ValueError("train_centroids: empty embeddings input — "
                         "nothing to train the coarse quantizer on")
    M = np.stack([np.asarray(r[0], dtype=np.float64) for r in rows])
    C = np.round(M[:min(n_centroids, len(M))].copy(), 6)
    for _ in range(n_iter):
        assign = _sq_dists(M, C).argmin(axis=1)  # ties -> lowest cell
        for c in range(len(C)):
            members = M[assign == c]
            if len(members):
                C[c] = np.round(members.mean(axis=0), 6)
    return C


def ivf_assign(df: DataFrame, centroids: np.ndarray, id_col: str = "vec_id",
               vec_col: str = "embedding") -> DataFrame:
    """(id, cell): nearest-centroid assignment — the inverted lists.
    Vectorized argmin per Arrow batch; broadcastable centroid matrix."""
    C = centroids

    def assign(it):
        for pdf in it:
            if len(pdf) == 0:
                yield pd.DataFrame(columns=["id", "cell"])
                continue
            M = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            d = _sq_dists(M, C)
            yield pd.DataFrame({"id": pdf[id_col], "cell": d.argmin(axis=1).astype("int32")})

    return df.select(id_col, vec_col).mapInPandas(assign, schema="id long, cell int")


def build_ivf_index(df: DataFrame, out_dir: str, n_centroids: int = 16,
                    id_col: str = "vec_id", vec_col: str = "embedding") -> np.ndarray:
    """S8, IVF flavor: train the quantizer, persist cell-partitioned
    inverted lists (faiss `add_with_ids` + `write_index`).  Returns the
    centroid matrix (small; callers re-derive it deterministically too)."""
    C = train_centroids(df, n_centroids, vec_col=vec_col, id_col=id_col)
    ivf_assign(df, C, id_col, vec_col).write.mode("overwrite") \
        .partitionBy("cell").parquet(f"{out_dir}/ivf")
    np.save(f"{out_dir}/centroids.npy", C)
    return C


def ann_ivf_topk(queries: DataFrame, corpus: DataFrame, centroids: np.ndarray,
                 k: int = 10, nprobe: int = 4, id_col: str = "vec_id",
                 vec_col: str = "embedding",
                 index: DataFrame | None = None) -> DataFrame:
    """IVF search: each query probes its ``nprobe`` nearest cells; only
    vectors in those cells are scored exactly (faiss
    `index_ivfflat.search`).  Returns (qid, vec_id, score, rank)."""
    cells = index if index is not None else ivf_assign(corpus, centroids, id_col, vec_col)
    C = centroids

    def probe(it):
        for pdf in it:
            if len(pdf) == 0:
                yield pd.DataFrame(columns=["qid", "cell"])
                continue
            M = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            d = _sq_dists(M, C)
            # stable sort: equal-distance cells keep index order, matching
            # the SQL twin's ORDER BY dist, cell tie-break
            near = np.argsort(d, axis=1, kind="stable")[:, :nprobe]
            qids = np.repeat(pdf[id_col].to_numpy(), near.shape[1])
            yield pd.DataFrame({"qid": qids, "cell": near.ravel().astype("int32")})

    q_cells = queries.select(id_col, vec_col).mapInPandas(probe, schema="qid long, cell int")
    cand = (
        q_cells.join(cells, "cell")
        .filter(F.col("qid") != F.col("id"))
        .select("qid", "id").distinct()
    )
    qv = queries.select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qv"))
    cv = corpus.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    scored = (
        cand.join(F.broadcast(qv), "qid").join(cv, "id")
        .select("qid", F.col("id").alias(id_col),
                _cos("v", "qv").alias("score"))
    )
    w = W.partitionBy("qid").orderBy(F.desc("score"), id_col)
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


# registry gate floors (ann_recall entry): deterministic hash families +
# deterministic corpus ⇒ recall is an exact number (sf0.01: lsh 0.67,
# ivf 0.58); the floors sit one notch below so ONLY a quality regression
# (hash family edit, quantizer bias, probe bug) trips them — the driver
# row then goes red instead of reporting unchecked rows
ANN_RECALL_FLOORS = {"lsh": 0.60, "ivf": 0.50}


def ann_recall_at_k(df: DataFrame, max_qid: int = 20, k: int = 10,
                    index: DataFrame | None = None,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    min_recall: dict[str, float] | None = None) -> DataFrame:
    """(method, n_exact, n_hit, recall_bp): registry-visible recall@k of
    the approximate retrieval paths (LSH bucket join, IVF nprobe) against
    the exact twin ``knn_batch_topk`` — the approximation-quality dial the
    reference trades with IVFFlat nprobe (create_faiss_index.py:43-52),
    tracked as a number instead of buried in pytest.  Fully distributed:
    a left-semi join on (qid, vec_id) + two tiny aggregates per method.

    ``min_recall`` (method → floor) makes this a QUALITY GATE: the metric
    rows are materialized and any method below its floor raises, so the
    driver's correctness row fails on quality regressions instead of
    recording unchecked rows.  recall is emitted as integer basis points
    (recall_bp = round(1e4·hit/exact)) so the row is schema-stable and
    float-free for the driver's canonicalizer."""
    # persist: the exact O(|Q|·N) baseline is consumed four times below
    # (hit semi-join + n_exact aggregate per method) — without the pin the
    # dominant cost of the metric is paid 4x
    exact = pin(knn_batch_topk(df, max_qid=max_qid, k=k, id_col=id_col,
                            vec_col=vec_col).select("qid", id_col))
    queries = df.filter(F.col(id_col) < max_qid)
    approx = {
        "lsh": ann_batch_topk(queries, df, k=k, id_col=id_col,
                              vec_col=vec_col, index=index),
        "ivf": ann_ivf_topk(
            queries, df, train_centroids(df, vec_col=vec_col, id_col=id_col),
            k=k, id_col=id_col, vec_col=vec_col),
    }
    out = None
    for name, adf in approx.items():
        hit = exact.join(adf.select("qid", id_col), ["qid", id_col], "left_semi")
        r = (
            exact.agg(F.count("*").alias("n_exact"))
            .crossJoin(hit.agg(F.count("*").alias("n_hit")))
            .select(F.lit(name).alias("method"), "n_exact", "n_hit",
                    F.round(F.lit(10000) * F.col("n_hit") / F.col("n_exact"))
                    .cast("int").alias("recall_bp"))
        )
        out = r if out is None else out.union(r)
    if min_recall:
        rows = out.collect()  # 2 tiny rows — the gate needs the values
        for row in rows:
            floor = min_recall.get(row["method"])
            if floor is not None and row["recall_bp"] < floor * 10000:
                raise AssertionError(
                    f"ann_recall quality gate: {row['method']} recall@{k} "
                    f"= {row['recall_bp'] / 10000:.4f} is below the "
                    f"{floor:.2f} floor (n_hit={row['n_hit']}/"
                    f"n_exact={row['n_exact']}) — the approximate index "
                    "quality regressed")
        return df.sparkSession.createDataFrame(
            rows, "method string, n_exact bigint, n_hit bigint, recall_bp int")
    return out


# ---------------------------------------------------------------------------
# DuckDB twin of ann_recall_at_k — the full approximate-retrieval chain
# replayed in SQL (closes the last rows-only driver-window entry)
# ---------------------------------------------------------------------------

def _cos_sql(v: str, q: str) -> str:
    """Rounded cosine, NULL on zero norm (DuckDB /0 -> NULL) — the exact
    expression the hash-green knn_batch_topk twin already uses."""
    return (f"ROUND(list_dot_product({v}, {q}) / "
            f"(sqrt(list_dot_product({v}, {v})) * "
            f"sqrt(list_dot_product({q}, {q}))), 6)")


def _sqdist_sql(v: str, c: str) -> str:
    """|v|^2 - 2 v·c + |c|^2 — the same algebraic form _sq_dists uses, so
    the only cross-engine difference is summation-order ulps."""
    return (f"(list_dot_product({v}, {v}) - 2*list_dot_product({v}, {c})"
            f" + list_dot_product({c}, {c}))")


def ann_recall_sql(dim: int = 64, max_qid: int = 20, k: int = 10,
                   bands: int = 4, n_centroids: int = 16, n_iter: int = 10,
                   sample: int = 4096, nprobe: int = 4) -> str:
    """Generated DuckDB replay of the ENTIRE ann_recall_at_k chain: the
    hash-ordered quantizer sample and first-K init (sqlhash.xxh64 — bit-
    equal to Spark's xxhash64), ``n_iter`` unrolled Lloyd iterations with
    6-decimal centroid rounding, IVF corpus assignment + nprobe query
    probe, hyperplane sign-bit LSH bucket keys (the deterministic plane
    matrix embedded as literals — the same hyperlsh.hyperplanes output the
    persisted S8 index stores), candidate equijoins, exact cosine verify
    with per-query top-k, and the recall-vs-exact-KNN counts.

    Lambda-free by construction (dim-unrolled AVG columns, built-in
    list_dot_product only) — the DuckDB 1.0 lambda-executor misassociation
    the repo's twin style avoids (see ops/docextract.py) never applies.
    ``dim`` must match the embeddings table (all testdata sfs carry 64)."""
    from .hyperlsh import hyperplanes
    from .sqlhash import xxh64_long_steps

    steps, hcol = xxh64_long_steps("vec_id")
    dims = range(1, dim + 1)
    parts = [f"""
emb AS MATERIALIZED (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
hord AS MATERIALIZED (
  SELECT vec_id, v, {hcol} FROM (SELECT vec_id, v, {steps} FROM emb)),
samp AS MATERIALIZED (
  SELECT vec_id, v FROM hord ORDER BY {hcol}, vec_id LIMIT {sample}),
c0 AS MATERIALIZED (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY {hcol}, vec_id) - 1 AS INT) AS cell,
         [{', '.join(f'ROUND(v[{j}], 6)' for j in dims)}] AS c
  FROM (SELECT * FROM hord ORDER BY {hcol}, vec_id LIMIT {n_centroids}))"""]
    for i in range(1, n_iter + 1):
        avg_cols = ", ".join(f"ROUND(AVG(s.v[{j}]), 6) AS d{j}" for j in dims)
        mean_list = "[" + ", ".join(f"m.d{j}" for j in dims) + "]"
        parts.append(f"""
a{i} AS MATERIALIZED (
  SELECT vec_id, cell FROM (
    SELECT s.vec_id, c.cell,
           ROW_NUMBER() OVER (PARTITION BY s.vec_id
                              ORDER BY {_sqdist_sql('s.v', 'c.c')}, c.cell) AS rn
    FROM samp s CROSS JOIN c{i - 1} c) WHERE rn = 1),
m{i} AS MATERIALIZED (
  SELECT a.cell, {avg_cols}
  FROM a{i} a JOIN samp s USING (vec_id) GROUP BY a.cell),
c{i} AS MATERIALIZED (
  SELECT p.cell, CASE WHEN m.cell IS NULL THEN p.c ELSE {mean_list} END AS c
  FROM c{i - 1} p LEFT JOIN m{i} m USING (cell))""")
    cfin = f"c{n_iter}"
    # LSH: deterministic plane literals (same family the S8 index stores)
    hp = hyperplanes(dim, N_PLANES, _PLANE_SEED)
    per = N_PLANES // bands
    plane_lits = ["[" + ", ".join(repr(float(x)) for x in hp[p]) + "]"
                  for p in range(N_PLANES)]
    band_keys = []
    for b in range(bands):
        bits = " || ".join(
            f"(CASE WHEN list_dot_product(v, {plane_lits[b * per + i]}) > 0 "
            f"THEN '1' ELSE '0' END)"
            for i in range(per))
        band_keys.append(
            f"SELECT vec_id AS id, '{b}:' || {bits} AS bkey FROM emb")
    parts.append(f"""
lsh_keys AS MATERIALIZED (
  {' UNION ALL '.join(band_keys)}),
lsh_cand AS MATERIALIZED (
  SELECT DISTINCT q.id AS qid, c.id
  FROM lsh_keys q JOIN lsh_keys c USING (bkey)
  WHERE q.id < {max_qid} AND q.id <> c.id),
lsh_top AS MATERIALIZED (
  SELECT qid, vec_id FROM (
    SELECT d.qid, d.id AS vec_id,
           ROW_NUMBER() OVER (PARTITION BY d.qid
                              ORDER BY {_cos_sql('cv.v', 'qv.v')} DESC, d.id) AS rk
    FROM lsh_cand d JOIN emb qv ON qv.vec_id = d.qid
                    JOIN emb cv ON cv.vec_id = d.id) WHERE rk <= {k}),
cells AS MATERIALIZED (
  SELECT vec_id AS id, cell FROM (
    SELECT e.vec_id, c.cell,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY {_sqdist_sql('e.v', 'c.c')}, c.cell) AS rn
    FROM emb e CROSS JOIN {cfin} c) WHERE rn = 1),
qprobe AS MATERIALIZED (
  SELECT qid, cell FROM (
    SELECT e.vec_id AS qid, c.cell,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY {_sqdist_sql('e.v', 'c.c')}, c.cell) AS rn
    FROM emb e CROSS JOIN {cfin} c WHERE e.vec_id < {max_qid}) WHERE rn <= {nprobe}),
ivf_cand AS MATERIALIZED (
  SELECT DISTINCT q.qid, t.id
  FROM qprobe q JOIN cells t USING (cell) WHERE q.qid <> t.id),
ivf_top AS MATERIALIZED (
  SELECT qid, vec_id FROM (
    SELECT d.qid, d.id AS vec_id,
           ROW_NUMBER() OVER (PARTITION BY d.qid
                              ORDER BY {_cos_sql('cv.v', 'qv.v')} DESC, d.id) AS rk
    FROM ivf_cand d JOIN emb qv ON qv.vec_id = d.qid
                    JOIN emb cv ON cv.vec_id = d.id) WHERE rk <= {k}),
ex AS MATERIALIZED (
  SELECT qid, vec_id FROM (
    SELECT q.vec_id AS qid, e.vec_id,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id
                              ORDER BY {_cos_sql('e.v', 'q.v')} DESC, e.vec_id) AS rk
    FROM emb e CROSS JOIN (SELECT * FROM emb WHERE vec_id < {max_qid}) q
    WHERE e.vec_id <> q.vec_id) WHERE rk <= {k})""")
    return f"""
WITH {','.join(parts)}
SELECT method, n_exact, n_hit,
       CAST(ROUND(10000.0 * n_hit / n_exact) AS INT) AS recall_bp
FROM (
  SELECT 'lsh' AS method,
         (SELECT COUNT(*) FROM ex) AS n_exact,
         (SELECT COUNT(*) FROM ex e JOIN lsh_top a
            ON e.qid = a.qid AND e.vec_id = a.vec_id) AS n_hit
  UNION ALL
  SELECT 'ivf',
         (SELECT COUNT(*) FROM ex),
         (SELECT COUNT(*) FROM ex e JOIN ivf_top a
            ON e.qid = a.qid AND e.vec_id = a.vec_id))
"""

