"""M2/M3/T3 — deterministic batch embedding + semantic segmentation.

Reference analogs:
- M2 batch text embedding (src/features/bert_embed.py:67-91,
  embed_paragraphs.py:55-66): model loaded once per worker, texts embedded
  in batches.  The BERT encoder is replaced by a DETERMINISTIC signed
  feature-hash embedding (hashing trick + L2 norm): no model weights in
  this environment, but the Spark call shape is identical — an
  iterator-of-batches pandas UDF whose per-worker state ("the model", here
  the hash parameters) is constructed once and reused across batches, and
  whose output is the same array<float> column the simsearch/dedup
  operators consume.  Swapping a real encoder back in changes only
  `_embed_batch`.
- T3 semantic paragraph segmentation
  (src/data/extract_paragraphs_faster.py:33-127): sentence embeddings →
  cosine matrix → diagonal-banded "activated similarities" with
  reverse-sigmoid weights → relative minima (order=2) become paragraph
  breaks.  Reproduced exactly (rev_sigmoid, p_size=10 weighting, strict
  relative minima) over the hash embeddings; pure numpy inside the Arrow
  batch, shared scalar twin for the pandas oracle.
"""

from __future__ import annotations

import math
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from ..textops import ascii_split, ascii_split_batch, split_sentences
from .common import explode_once, spread
from .dedup import _token_hash

EMBED_DIM = 64
# T3 segmentation (extract_paragraphs_faster.py): sentences weighed into
# each activated similarity, and the half-width of a minimum's neighbourhood
T3_P_SIZE, T3_ORDER = 10, 2


# ---------------------------------------------------------------------------
# pure core (shared by Spark UDFs, the pandas oracle, and tests)
# ---------------------------------------------------------------------------

def hash_embed(text: str) -> np.ndarray:
    """Signed feature-hash embedding, L2-normalized float32.

    token -> fnv1a hash; index = h mod dim; sign = parity of bit 62.
    Deterministic across processes; same function on every engine.
    """
    dim = EMBED_DIM
    v = np.zeros(dim, dtype=np.float64)
    # ascii_split, not str.split(): the DuckDB twin splits on [\s\v] —
    # C0 separators / Unicode whitespace are NOT token boundaries there
    toks = ascii_split((text or "").lower())
    for tok in toks:
        h = _token_hash(tok)
        v[h % dim] += 1.0 if (h >> 62) & 1 else -1.0
    n = np.linalg.norm(v)
    if n > 0:
        v /= n
    return v.astype(np.float32)


def hash_embed_batch(texts: list[str], dim: int = EMBED_DIM) -> np.ndarray:
    """(len(texts), dim) float32 matrix — fully vectorized: pandas-split
    tokenization, factorize-deduped fnv1a hashing (one scalar hash per
    DISTINCT token, see dedup._flat_token_hashes), numpy scatter-add.
    Bit-identical to the scalar ``hash_embed`` on every input."""
    from .dedup import _flat_token_hashes

    s = pd.Series(texts, dtype=object).fillna("").astype(str)
    rows, hs = _flat_token_hashes(ascii_split_batch(s.str.lower()))
    if hs.size:
        idx = (hs % np.uint64(dim)).astype(np.int64)
        vals = np.where((hs >> np.uint64(62)) & np.uint64(1) > 0, 1.0, -1.0)
        # bincount over the flattened (row, idx) key is the buffered form
        # of np.add.at(M, (rows, idx), vals) — same exact ±1 integer sums
        # (order-independent in float64), ~10x faster on large batches
        M = np.bincount(rows * dim + idx, weights=vals,
                        minlength=len(s) * dim).reshape(len(s), dim)
    else:
        M = np.zeros((len(s), dim), dtype=np.float64)
    norms = np.linalg.norm(M, axis=1, keepdims=True)
    np.divide(M, norms, out=M, where=norms > 0)
    return M.astype(np.float32)


def rev_sigmoid(x: float) -> float:
    """reference extract_paragraphs_faster.py:33."""
    return 1.0 / (1.0 + math.exp(0.5 * x))


def activated_similarities(similarities: np.ndarray) -> np.ndarray:
    """reference extract_paragraphs_faster.py:37-63: weighted sums of the
    upper diagonals with reverse-sigmoid weights over T3_P_SIZE sentences."""
    n = similarities.shape[0]
    p = min(T3_P_SIZE, n)
    x = np.linspace(-10, 10, p)
    weights = np.pad(np.array([rev_sigmoid(v) for v in x]), (0, n - p))
    diagonals = [np.pad(similarities.diagonal(k), (0, k)) for k in range(n)]
    stacked = np.stack(diagonals) * weights.reshape(-1, 1)
    return stacked.sum(axis=0)


def relative_minima(a: np.ndarray) -> list[int]:
    """argrelextrema(a, np.less, order=T3_ORDER) without the scipy
    dependency: indices strictly smaller than EVERY neighbor within
    ``T3_ORDER``.

    scipy's default mode='clip' compares out-of-range neighbors against
    the boundary element itself, so index 0 / n-1 can NEVER be extrema
    (a[0] < a[0] is false) — reproduced here by skipping the boundaries;
    for interior indices the clipped duplicates change nothing.  Without
    this, a locally increasing start would emit a paragraph break after
    sentence 0 that the reference algorithm never produces."""
    out = []
    n = len(a)
    for i in range(1, n - 1):
        lo, hi = max(0, i - T3_ORDER), min(n, i + T3_ORDER + 1)
        if all(a[i] < a[j] for j in range(lo, hi) if j != i):
            out.append(i)
    return out


def semantic_segments(text: str) -> list[str]:
    """T3: split into sentences, embed, break at activated-similarity
    minima (reference split_into_paragraphs:107-127)."""
    sents = split_sentences(text or "")
    if not sents:
        return []
    if len(sents) == 1:
        return [sents[0] + " "]
    E = hash_embed_batch(sents).astype(np.float64)
    sims = E @ E.T
    act = activated_similarities(sims)
    minima = set(relative_minima(act))
    paras: list[str] = []
    cur = ""
    for i, s in enumerate(sents):
        cur += s + " "
        if i in minima:
            paras.append(cur)
            cur = ""
    if cur:
        # deliberate divergence: the reference's loop
        # (extract_paragraphs_faster.py:119-125) silently DROPS the tail
        # after the last minimum — a data-loss quirk, not a policy; we keep
        # the tail as its own paragraph (documented, pytest-asserted).
        paras.append(cur)
    return paras


# ---------------------------------------------------------------------------
# Spark operators
# ---------------------------------------------------------------------------

def embed_texts(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                dim: int = EMBED_DIM) -> DataFrame:
    """(id, embedding): iterator pandas UDF — per-worker init happens once
    (the bert_embed.py model-load-once shape), then one vectorized
    scatter-add per Arrow batch."""

    @F.pandas_udf(T.ArrayType(T.FloatType()))
    def _embed(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        d = dim  # per-worker "model" state binds once per executor task
        for texts in batches:
            M = hash_embed_batch(texts.tolist(), d)
            yield pd.Series(list(M))

    return spread(df).select(F.col(id_col), _embed(text_col).alias("embedding"))


def embed_components(df: DataFrame, dim: int = EMBED_DIM) -> DataFrame:
    """Driver-hashable M2 surface: every component of the hash embedding as
    a fixed-point scalar row ``(doc_id, idx, vq20 = floor(component * 2^20))``.

    Why fixed-point instead of ROUND: the embedding is float32; Spark
    rounds via the double's shortest decimal repr (BigDecimal HALF_UP)
    while DuckDB rounds ``x * 1e6`` — near short-repr decimal boundaries
    (common for float32-derived values) the two can disagree by one digit.
    ``floor(c * 2^20)`` is exact binary arithmetic on the IDENTICAL
    float32 value in both engines, so no boundary exists.  The raw
    ``array<float>`` operator (embed_texts) stays for internal consumers;
    a driver canonicalizer cannot sort rows by an array column anyway."""
    emb = embed_texts(df, dim=dim)
    # explode_once: a bare posexplode would re-run the embed UDF per doc
    # (inferred Generate filter pushed below the spread exchange)
    return (
        explode_once(emb, ["doc_id"], "embedding", ["idx", "c"])
        .select("doc_id", "idx",
                F.floor(F.col("c").cast("double") * F.lit(1 << 20))
                .cast("long").alias("vq20"))
    )


def embed_components_sql(dim: int = EMBED_DIM) -> str:
    """DuckDB oracle for ``embed_components``: the hash-embedder replayed
    in SQL — fnv1a token hashes (sqlhash), scatter-sum per (doc, h mod
    dim), L2 norm, float32 cast, floor-2^20 fixed point.  All arithmetic
    (±1 integer sums, sqrt, IEEE division, float32 rounding) is exact and
    order-independent, so the match is bit-for-bit."""
    from .sqlhash import fnv1a_sql

    return f"""
        WITH tok AS (SELECT doc_id,
                            unnest(list_filter(string_split_regex(lower(text), '[\\s\\v]+'),
                                               t -> t <> '')) AS t
                     FROM documents),
        th AS (SELECT doc_id, {fnv1a_sql('t')} AS h FROM tok),
        comp AS (SELECT doc_id, CAST(h % {dim} AS INT) AS idx,
                        SUM(CASE WHEN (h // 4611686018427387904) % 2 = 1
                                 THEN 1.0 ELSE -1.0 END) AS v
                 FROM th GROUP BY doc_id, CAST(h % {dim} AS INT)),
        nrm AS (SELECT doc_id, sqrt(SUM(v * v)) AS l2 FROM comp GROUP BY doc_id),
        grid AS (SELECT doc_id, CAST(unnest(range({dim})) AS INT) AS idx
                 FROM (SELECT DISTINCT doc_id FROM documents)),
        f AS (SELECT g.doc_id, g.idx, COALESCE(c.v, 0.0) AS v,
                     COALESCE(n.l2, 0.0) AS l2
              FROM grid g
              LEFT JOIN comp c ON g.doc_id = c.doc_id AND g.idx = c.idx
              LEFT JOIN nrm n ON g.doc_id = n.doc_id)
        SELECT doc_id, idx,
               CAST(FLOOR(CAST(CAST(CASE WHEN l2 > 0 THEN v / l2 ELSE 0.0 END AS REAL)
                               AS DOUBLE) * 1048576) AS BIGINT) AS vq20
        FROM f
    """


def t3_segments(df: DataFrame) -> DataFrame:
    """(doc_id, seg_idx, segment): semantic segmentation per document."""

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def _segs(texts: pd.Series) -> pd.Series:
        return texts.map(lambda t: semantic_segments(t or ""))

    return explode_once(spread(df), ["doc_id"], _segs("text"),
                        ["seg_idx", "segment"])


def embed_near_dup_pairs(df: DataFrame, threshold: float = 0.9) -> DataFrame:
    """text → embed → LSH near-dup: the reference's
    embed_paragraphs → remove_duplicate_paragraphs chain end-to-end from
    raw text (M2 feeding J6), one job."""
    from .dedup import cosine_near_dup_pairs

    return cosine_near_dup_pairs(embed_texts(df), "embedding", "doc_id",
                                 threshold=threshold)
