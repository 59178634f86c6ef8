"""Deduplication operators (reference D1/D2, SURVEY.md §2.8, generalized).

All variants keep the survivor with the lowest id — deterministic at any
parallelism.  Each is shuffle-native:

- exact:        one groupBy on a content hash (sha2), no joins
- minhash-LSH:  word-bigram shingles → minhash signature → band keys →
                bucket join; candidates verified with exact Jaccard in a
                pandas UDF (document near-dup — surface-form linking is
                S3's, kgp/pipeline/link.py)
- simhash:      64-bit simhash; near-dups = identical band of bits
                (4×16-bit bands ≙ hamming ≤ 3 heuristic), verified by
                full-signature hamming distance
- n-gram Jaccard: explode shingles → self-join on shingle → count shared
                → exact Jaccard filter (no approximation; heavier shuffle)
- embedding cosine: random-hyperplane LSH bucket join + exact cosine verify
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window as W, functions as F, types as T

from ..textops import MINHASH_BANDS, MINHASH_NUM_HASHES, word_bigram_shingles
from .common import canon_col, canon_sql, dup_key_col, explode_once, pin, spread

# ---------------------------------------------------------------------------
# exact dedup (D1 — sha256 content hash, create_faiss_index.py:19-37)
# ---------------------------------------------------------------------------

def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep the lowest-id row per exact text content."""
    w = W.partitionBy(F.sha2(F.col(text_col), 256)).orderBy(id_col)
    return df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


def exact_dup_groups(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(content_hash, n_dups, keep_id) for groups with >1 member."""
    return (
        df.groupBy(F.sha2(F.col(text_col), 256).alias("content_hash"))
        .agg(F.count("*").alias("n_dups"), F.min(id_col).alias("keep_id"))
        .filter(F.col("n_dups") > 1)
    )


# ---------------------------------------------------------------------------
# minhash LSH near-dup
# ---------------------------------------------------------------------------

def _shingle_hash_udf():
    """text -> sorted distinct word-bigram shingle-hash array (computed
    ONCE per doc; candidates are verified against these arrays, never by
    re-shingling raw text per pair).

    A factory, called once per operator call: a module-level UDF would
    make two calls' plans equal, and the CacheManager would then serve a
    later call's pinned signature table from an earlier call's pin."""
    @F.pandas_udf(T.ArrayType(T.LongType()))
    def _sh(texts: pd.Series) -> pd.Series:
        u64 = np.uint64(1) << np.uint64(63)
        out = []
        for t in texts:
            hs = np.fromiter(word_bigram_shingles(t or ""), dtype=np.uint64)
            hs.sort()
            out.append((hs - u64).view(np.int64))  # signed view for LongType
        return pd.Series(out)
    return _sh


def _bands_from_sh_udf():
    """shingle-hash array -> LSH band keys, batch-vectorized minhash
    (same multiply-shift family and constants as textops.minhash_band_keys)."""
    from ..textops import _MINHASH_A, _MINHASH_B

    num_hashes, bands = MINHASH_NUM_HASHES, MINHASH_BANDS
    rows = num_hashes // bands

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def _bk(shs: pd.Series) -> pd.Series:
        a = np.array(_MINHASH_A[:num_hashes], dtype=np.uint64)
        b = np.array(_MINHASH_B[:num_hashes], dtype=np.uint64)
        u64 = np.uint64(1) << np.uint64(63)
        out = []
        for sh in shs:
            x = np.asarray(sh, dtype=np.int64).view(np.uint64) + u64  # unsigned
            if x.size == 0:
                sig = np.zeros(num_hashes, dtype=np.uint64)
            else:
                sig = (x[:, None] * a[None, :] + b[None, :]).min(axis=0)
            out.append([
                f"{bi}:" + ",".join(str(int(v)) for v in sig[bi * rows:(bi + 1) * rows])
                for bi in range(bands)
            ])
        return pd.Series(out)
    return _bk


@F.pandas_udf(T.DoubleType())
def _arr_jaccard(a: pd.Series, b: pd.Series) -> pd.Series:
    """Exact Jaccard of two sorted-distinct hash arrays (C-speed intersect)."""
    out = []
    for x, y in zip(a, b):
        sx = np.asarray(x, dtype=np.int64)
        sy = np.asarray(y, dtype=np.int64)
        inter = np.intersect1d(sx, sy, assume_unique=True).size
        u = sx.size + sy.size - inter
        out.append(inter / u if u else 1.0)
    return pd.Series(out)


# the function IS deterministic; the marker only revokes Catalyst's license
# to duplicate it — a threshold filter on the UDF output otherwise gets one
# evaluation pushed into the filter and a second kept in the project,
# intersecting every candidate pair's arrays twice
_arr_jaccard = _arr_jaccard.asNondeterministic()


# exact-Jaccard floor of the verified minhash pairs (Spark and DuckDB twin)
MINHASH_PAIRS_THRESHOLD = 0.5


def minhash_near_dup_pairs(df: DataFrame) -> DataFrame:
    """Document pairs sharing >=1 of ``MINHASH_BANDS`` minhash bands of
    their word-bigram shingles, verified by exact shingle Jaccard >=
    ``MINHASH_PAIRS_THRESHOLD``.  Reads ``doc_id``/``text``; returns
    (a, b, jq20), a < b.

    The scale path that replaces the exact `ngram_jaccard_pairs_sqlable`
    self-join: shuffle is keyed on 4-minhash band keys (near-uniform
    content hashes), so cost tracks true near-dup density instead of the
    df² blowup of common shingles.

    The threshold filter runs on the RAW double (identical IEEE value in
    every engine); the output carries ``jq20 = floor(jaccard * 2^20)`` —
    exact binary fixed-point, the driver-hash-safe form the DuckDB twin
    (minhash_pairs_sql) emits.

    Shuffle diet (100 TB shape): the band self-join carries (id, bkey)
    ONLY — no text, no signatures.  Deduped candidate id pairs are then
    re-joined against the per-doc shingle-hash arrays for exact verification
    (numpy intersect, no re-shingling) — a candidate pair costs two id
    lookups instead of moving two full documents through the shuffle.
    """
    # spread -> UDF -> hash-repartition(id) -> persist: the signature
    # table has four consumers (band l/r, verify sa/sb) and exchange reuse
    # alone does NOT guarantee one UDF pass — the join's isnotnull(bkey)
    # pushdown re-evaluates the Python UDF below the exchange, and AQE's
    # broadcast pick replaces one side's exchange so the subtrees stop
    # being identical.  persist() is an optimizer barrier AND stays lazy
    # (localCheckpoint(eager=False) is NOT: under AQE, deriving the RDD
    # executes every upstream stage at DataFrame-CONSTRUCTION time), so
    # (id, sh) — bytes per doc, never the text — materializes once, at
    # first action (at warehouse scale the same seam is a persisted
    # signature stage table).
    sh = (
        spread(df).select(F.col("doc_id").alias("id"), _shingle_hash_udf()("text").alias("sh"))
        .repartition("id")
    )
    sh = pin(sh)
    # explode_OUTER + post-filter: an inner explode infers a size>0 filter
    # below the Generate, evaluating the signature/banding UDF twice; the
    # band-key array is never empty (empty shingle sets get sentinel
    # signatures), so the post-filter matches nothing and stays above.
    # The second persist pins the (id, bkey) band table so the signature
    # UDF runs once, not once per self-join side (AQE's broadcast pick
    # stops the two sides' exchanges from being reusable).
    keyed = pin(explode_once(sh, ["id"], _bands_from_sh_udf()("sh"),
                            ["bkey"], pos=False))
    l, r = keyed.alias("l"), keyed.alias("r")
    pairs = (
        l.join(r, "bkey")
        .filter(F.col("l.id") < F.col("r.id"))
        .select(F.col("l.id").alias("a"), F.col("r.id").alias("b"))
        .dropDuplicates(["a", "b"])
    )
    sa = sh.select(F.col("id").alias("a"), F.col("sh").alias("sha"))
    sb = sh.select(F.col("id").alias("b"), F.col("sh").alias("shb"))
    return (
        pairs.join(sa, "a").join(sb, "b")
        .withColumn("_j", _arr_jaccard("sha", "shb"))
        .filter(F.col("_j") >= MINHASH_PAIRS_THRESHOLD)
        .select("a", "b",
                F.floor(F.col("_j") * F.lit(1 << 20)).cast("long").alias("jq20"))
    )


def minhash_pairs_sql() -> str:
    """DuckDB oracle for ``minhash_near_dup_pairs`` — the FULL pipeline
    replayed exactly in SQL: word-bigram fnv1a shingles, 32 multiply-shift
    minhashes (mod-2^64-exact, sqlhash.mulshift_sql), 8 band keys,
    band-join candidates, exact shingle-set Jaccard verify.  Deterministic
    integer arithmetic end to end, so the band keys — not just the
    verified pairs — agree with the Spark path bit for bit."""
    from ..textops import _MINHASH_A, _MINHASH_B
    from .sqlhash import fnv1a_sql, mulshift_sql

    num_hashes, bands = MINHASH_NUM_HASHES, MINHASH_BANDS
    rows = num_hashes // bands
    sig_exprs = ",\n                ".join(
        "CASE WHEN len(sh) = 0 THEN CAST(0 AS HUGEINT) ELSE "
        f"list_min(list_transform(sh, x -> {mulshift_sql('x', _MINHASH_A[i], _MINHASH_B[i])})) END"
        for i in range(num_hashes))
    bkey = " || ',' || ".join(f"sig[bi * {rows} + {j + 1}]::VARCHAR" for j in range(rows))
    return f"""
        WITH d AS (SELECT doc_id AS id,
                          -- coalesce FIRST: the Spark UDF runs shingle_set(t or ''),
                          -- so NULL text gets the sentinel signature exactly like ''
                          -- — a bare lower(NULL) would NULL the whole chain and emit
                          -- zero pairs for NULL-text docs (engine drift)
                          {canon_sql("lower(coalesce(text, ''))")} AS nt
                   FROM documents),
        w AS (SELECT id, nt, string_split(nt, ' ') AS ws FROM d),
        shs AS (SELECT id,
                     CASE WHEN nt = '' THEN CAST([] AS HUGEINT[])
                          WHEN len(ws) < 2 THEN [{fnv1a_sql('nt')}]
                          ELSE list_distinct(list_transform(
                               list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i + 1]),
                               g -> {fnv1a_sql('g')}))
                     END AS sh
              FROM w),
        sig AS (SELECT id, sh,
                [{sig_exprs}] AS sig
                FROM shs),
        bnd AS (SELECT id, unnest(range({bands})) AS bi, sig FROM sig),
        bk AS (SELECT id, bi::VARCHAR || ':' || {bkey} AS bkey FROM bnd),
        cand AS (SELECT DISTINCT l.id AS a, r.id AS b
                 FROM bk l JOIN bk r ON l.bkey = r.bkey AND l.id < r.id),
        v AS (SELECT a, b,
                     len(list_intersect(sa.sh, sb.sh)) AS inter,
                     len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)) AS u
              FROM cand JOIN shs sa ON cand.a = sa.id JOIN shs sb ON cand.b = sb.id),
        j AS (SELECT a, b,
                     CASE WHEN u = 0 THEN 1.0 ELSE inter / CAST(u AS DOUBLE) END AS jac
              FROM v)
        SELECT a, b, CAST(FLOOR(jac * 1048576) AS BIGINT) AS jq20
        FROM j WHERE jac >= {MINHASH_PAIRS_THRESHOLD}
    """


# ---------------------------------------------------------------------------
# simhash
# ---------------------------------------------------------------------------

# per-python-worker token->hash memo (vocabularies are Zipfian: the memo
# hit-rate is high and the fnv1a char loop runs once per distinct token)
_TOKEN_HASH_MEMO: dict[str, int] = {}
_TOKEN_HASH_MEMO_CAP = 1 << 20


def _token_hash(tok: str) -> int:
    from ..textops import _fnv1a

    h = _TOKEN_HASH_MEMO.get(tok)
    if h is None:
        h = _fnv1a(tok)
        if len(_TOKEN_HASH_MEMO) < _TOKEN_HASH_MEMO_CAP:
            _TOKEN_HASH_MEMO[tok] = h
    return h


def _flat_token_hashes(tok_lists: pd.Series) -> tuple[np.ndarray, np.ndarray]:
    """(row_idx, hashes): one fnv1a hash per token occurrence across the
    whole Arrow batch.  ``pd.factorize`` dedups tokens with a C hash table
    (Zipfian vocabularies → few distinct tokens), the memoized scalar hash
    runs once per DISTINCT token, and the per-occurrence fan-out is pure
    numpy indexing — no per-token Python in the hot path (this is what
    made m2_embed_neardup the slowest headline query before)."""
    lens = tok_lists.map(len).to_numpy(dtype=np.int64)
    rows = np.repeat(np.arange(len(tok_lists), dtype=np.int64), lens)
    total = int(lens.sum())
    if total == 0:
        return rows, np.empty(0, dtype=np.uint64)
    flat = np.empty(total, dtype=object)
    pos = 0
    for toks in tok_lists:
        n = len(toks)
        flat[pos:pos + n] = toks
        pos += n
    codes, uniques = pd.factorize(flat)
    uh = np.fromiter((_token_hash(t) for t in uniques),
                     dtype=np.uint64, count=len(uniques))
    return rows, uh[codes]


def _simhash64(text: str) -> int:
    """Scalar twin of the batch path (shared semantics, used by tests)."""
    return int(_simhash64_batch(pd.Series([text]))[0])


def _simhash64_batch(texts: pd.Series) -> np.ndarray:
    """Batch-vectorized 64-bit simhash: vectorized normalize (pandas .str
    fast path, textops.normalize_surface_batch), factorize-deduped token
    hashing (_flat_token_hashes), then one scatter-add over a (rows, 64)
    sign-accumulator — no per-token OR per-char Python in the hot loop."""
    from ..textops import ascii_split_batch, normalize_surface_batch

    n = len(texts)
    # ascii_split_batch, not .str.split(): post-normalize text can still
    # hold C0 separators / Unicode whitespace, which the SQL twin's
    # string_split(nt, ' ') keeps inside tokens
    rows, hs = _flat_token_hashes(ascii_split_batch(normalize_surface_batch(texts)))
    out = np.zeros(n, dtype=np.uint64)
    if hs.size:
        # np.unpackbits on the little-endian byte view gives bit j of each
        # hash in column j at C speed; summing set bits per row with the
        # BUFFERED np.add.reduceat (rows is sorted: np.repeat of arange)
        # replaced an unbuffered np.add.at scatter that alone cost ~3s per
        # 270k-token batch at sf0.1.  Bit j of the simhash is the majority
        # vote: sum(2b-1) > 0  <=>  2*ones > n_tokens.
        # '<u8' pins little-endian byte order so column j == bit j on any
        # host (free on LE: copy=False returns the same array); a bare
        # .view(np.uint8) would reverse the bytes on a big-endian platform
        # and silently break cross-engine simhash parity
        bits = np.unpackbits(hs.astype("<u8", copy=False).view(np.uint8).reshape(-1, 8),
                             axis=1, bitorder="little").astype(np.int32)
        lens = np.bincount(rows, minlength=n).astype(np.int64)
        ne = lens > 0
        starts = np.zeros(n, dtype=np.int64)
        starts[1:] = np.cumsum(lens)[:-1]
        ones = np.add.reduceat(bits, starts[ne], axis=0)
        shifts = np.arange(64, dtype=np.uint64)
        sign = np.zeros((n, 64), dtype=np.uint64)
        sign[ne] = (2 * ones > lens[ne, None]).astype(np.uint64)
        out = (sign << shifts[None, :]).sum(axis=1, dtype=np.uint64)
        # rows with zero tokens stay 0 (no majority -> sign all zeros)
    return (out - (np.uint64(1) << np.uint64(63))).view(np.int64)


@F.pandas_udf(T.LongType())
def simhash_udf(texts: pd.Series) -> pd.Series:
    return pd.Series(_simhash64_batch(texts))


SIMHASH_BANDS = 4
SIMHASH_BAND_BITS = 16
SIMHASH_MAX_HAMMING = 3  # the pigeonhole bound of the 4x16-bit banding


def simhash_near_dup_pairs(df: DataFrame) -> DataFrame:
    """Document pairs whose simhashes agree on >=1 of 4 16-bit bands AND
    have hamming distance <= ``SIMHASH_MAX_HAMMING``.  Reads
    ``doc_id``/``text``; returns (a, b, hamming).

    4×16-bit bands guarantee recall 1.0 for hamming <= 3 (pigeonhole) and
    keep candidate buckets selective: each band key has 2^16 values, so
    bucket sizes are O(N/65536) and candidate volume tracks true near-dup
    density (the previous 8×8-bit banding had <=256 values per band —
    O(N²/2048) candidate pairs, a scale-killer).  The hamming filter runs
    JVM-side BEFORE the (a, b) dedup, so the dedup shuffle only carries
    surviving pairs.
    """
    # spread -> UDF -> id-hash exchange -> persist (lazy; see
    # minhash_near_dup_pairs for why neither exchange reuse nor
    # localCheckpoint fits): pins the (id, sh) signature blocks so the
    # simhash UDF runs exactly once
    sh = (
        spread(df).select(F.col("doc_id").alias("id"), simhash_udf("text").alias("sh"))
        .repartition("id")
    )
    sh = pin(sh)
    mask = (1 << SIMHASH_BAND_BITS) - 1
    bands = sh.select(
        "id", "sh",
        F.explode(F.array(*[
            F.concat(F.lit(f"{i}:"),
                     (F.shiftright("sh", i * SIMHASH_BAND_BITS)
                      .bitwiseAND(F.lit(mask))).cast("string"))
            for i in range(SIMHASH_BANDS)
        ])).alias("bkey"),
    )
    l, r = bands.alias("l"), bands.alias("r")
    hamming = F.bit_count(F.col("sa").bitwiseXOR(F.col("sb")))
    return (
        l.join(r, "bkey")
        .filter(F.col("l.id") < F.col("r.id"))
        .select(F.col("l.id").alias("a"), F.col("l.sh").alias("sa"),
                F.col("r.id").alias("b"), F.col("r.sh").alias("sb"))
        .withColumn("hamming", hamming)
        .filter(F.col("hamming") <= SIMHASH_MAX_HAMMING)
        .dropDuplicates(["a", "b"])
        .select("a", "b", "hamming")
    )


def simhash_pairs_sql() -> str:
    """DuckDB oracle for ``simhash_near_dup_pairs``: normalize → fnv1a
    token hashes → per-bit sign aggregation → 4×16-bit band join →
    bit_count hamming verify, all mod-2^64-exact integer arithmetic.

    The Spark side stores the simhash as int64 (``out - 2^63`` viewed
    signed) and bands/XORs that bit pattern; the pattern differs from the
    unsigned ``out`` only in bit 63, a flip applied to EVERY row — band-key
    equality and XOR are invariant under it, so the SQL bands on ``out``
    directly and converts to signed only for the 64-bit xor/bit_count."""
    from ..textops import NORM_STRIP_CHARS
    from .sqlhash import fnv1a_sql

    strip_chars = NORM_STRIP_CHARS.replace("'", "''")
    pw = ", ".join(f"({j}, CAST({1 << j} AS HUGEINT))" for j in range(64))
    band_p = ("CASE bi WHEN 0 THEN CAST(1 AS HUGEINT) WHEN 1 THEN 65536 "
              "WHEN 2 THEN 4294967296 ELSE 281474976710656 END")
    return f"""
        WITH d AS (SELECT doc_id AS id,
                          trim(regexp_replace(lower(text), '[\\s\\v]+', ' ', 'g'),
                               '{strip_chars}') AS nt
                   FROM documents),
        w AS (SELECT id, list_filter(string_split(nt, ' '), t -> t <> '') AS toks FROM d),
        tok AS (SELECT id, unnest(toks) AS t FROM w),
        th AS (SELECT id, {fnv1a_sql('t')} AS h FROM tok),
        pw(j, p) AS (VALUES {pw}),
        bits AS (SELECT id, j,
                        SUM(CASE WHEN (h // p) % 2 = 1 THEN 1 ELSE -1 END) AS acc
                 FROM th CROSS JOIN pw GROUP BY id, j),
        sim0 AS (SELECT bits.id,
                        SUM(CASE WHEN acc > 0 THEN p ELSE CAST(0 AS HUGEINT) END) AS outv
                 FROM bits JOIN pw USING (j) GROUP BY bits.id),
        sim AS (SELECT d.id, COALESCE(s.outv, CAST(0 AS HUGEINT)) AS outv
                FROM d LEFT JOIN sim0 s ON d.id = s.id),
        bnd AS (SELECT id, outv, unnest(range(4)) AS bi FROM sim),
        bk AS (SELECT id, outv,
                      bi::VARCHAR || ':' || ((outv // {band_p}) % 65536)::VARCHAR AS bkey
               FROM bnd),
        cand AS (SELECT DISTINCT l.id AS a, l.outv AS oa, r.id AS b, r.outv AS ob
                 FROM bk l JOIN bk r ON l.bkey = r.bkey AND l.id < r.id),
        hd AS (SELECT a, b,
                      bit_count(xor(CAST(oa - 9223372036854775808 AS BIGINT),
                                    CAST(ob - 9223372036854775808 AS BIGINT))) AS hamming
               FROM cand)
        SELECT a, b, CAST(hamming AS INT) AS hamming
        FROM hd WHERE hamming <= {SIMHASH_MAX_HAMMING}
    """


# ---------------------------------------------------------------------------
# word-bigram Jaccard — pure DataFrame-API variant (whole-stage codegen)
# ---------------------------------------------------------------------------

def _word_bigrams():
    """Distinct word-bigram shingles, built entirely with JVM expressions:
    normalize → split → transform(sequence) → array_distinct.  No Python.

    Normalization is collapse-THEN-trim (matching textops.word_bigram_shingles
    and the DuckDB twins): trimming first strips only the space char, so a
    leading tab would survive into the collapse and yield an empty first
    token — a phantom ' x' bigram the other engines never emit."""
    norm = canon_col(F.lower("text"))
    w = F.split(norm, " ")
    grams = F.transform(
        F.sequence(F.lit(0), F.size(w) - 2),
        lambda i: F.concat(F.element_at(w, i + 1), F.lit(" "), F.element_at(w, i + 2)),
    )
    return F.when(F.size(w) >= 2, F.array_distinct(grams)).otherwise(F.array(norm))


# exact word-bigram Jaccard floor, and the document-frequency cap
NGRAM_JACCARD_THRESHOLD, NGRAM_DF_CAP = 0.2, 64


def ngram_jaccard_pairs_sqlable(df: DataFrame) -> DataFrame:
    """Word-bigram Jaccard pairs >= ``NGRAM_JACCARD_THRESHOLD`` via explode
    + self-join.  Reads ``doc_id``/``text``.

    The SQL-expressible exact baseline the minhash/simhash variants
    approximate (oracle: ngram_jaccard_sql).  Shuffle is keyed on the
    shingle, so its cost is Θ(Σ_g df(g)²) — quadratic in per-shingle
    document frequency.  ``NGRAM_DF_CAP`` bounds it: shingles appearing
    in more than ``NGRAM_DF_CAP`` documents are dropped from the universe
    on BOTH sides (set sizes recomputed over the surviving shingles),
    turning the worst-case hot shingle into a bounded cap² term while
    keeping the measure exact over the discriminative shingles (mirrored
    exactly by the SQL twin).
    Returns (a, b, jaccard) with jaccard rounded to 6.
    """
    sh = df.select(F.col("doc_id").alias("id"), _word_bigrams().alias("grams"))
    ex = sh.select("id", F.explode("grams").alias("g"))
    hot = (ex.groupBy("g").agg(F.count("*").alias("_df"))
           .filter(F.col("_df") > NGRAM_DF_CAP).select("g"))
    ex = ex.join(F.broadcast(hot), "g", "left_anti")
    sizes = ex.groupBy("id").agg(F.count("*").alias("n"))
    l, r = ex.alias("l"), ex.alias("r")
    shared = (
        l.join(r, "g")
        .filter(F.col("l.id") < F.col("r.id"))
        .groupBy(F.col("l.id").alias("a"), F.col("r.id").alias("b"))
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col("id").alias("a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("id").alias("b"), F.col("n").alias("nb"))
    return (
        shared.join(sa, "a").join(sb, "b")
        .withColumn("jaccard", F.round(F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")), 6))
        .filter(F.col("jaccard") >= NGRAM_JACCARD_THRESHOLD)
        .select("a", "b", "jaccard")
    )


def ngram_jaccard_sql(table: str) -> str:
    """DuckDB oracle for `ngram_jaccard_pairs_sqlable` (same shingling,
    same document-frequency cap) over ``table``'s ``doc_id``/``text``."""
    return f"""
        WITH d AS (SELECT doc_id AS id,
                          {canon_sql("lower(text)")} AS nt
                   FROM {table}),
        w AS (SELECT id, string_split(nt, ' ') AS ws, nt FROM d),
        sh AS (SELECT id, CASE WHEN len(ws) >= 2
                     THEN list_distinct(list_transform(range(1, len(ws)),
                                        i -> ws[i] || ' ' || ws[i + 1]))
                     ELSE [nt] END AS grams FROM w),
        ex AS (SELECT id, g FROM (SELECT id, unnest(grams) AS g FROM sh)
                     WHERE g NOT IN (SELECT g FROM (SELECT unnest(grams) AS g FROM sh)
                                     GROUP BY g HAVING COUNT(*) > {NGRAM_DF_CAP})),
        sizes AS (SELECT id, COUNT(*) AS n FROM ex GROUP BY id),
        shared AS (SELECT l.id AS a, r.id AS b, COUNT(*) AS inter
                   FROM ex l JOIN ex r USING (g) WHERE l.id < r.id GROUP BY 1, 2)
        SELECT a, b, ROUND(inter / (sa.n + sb.n - inter)::DOUBLE, 6) AS jaccard
        FROM shared JOIN sizes sa ON shared.a = sa.id JOIN sizes sb ON shared.b = sb.id
        WHERE ROUND(inter / (sa.n + sb.n - inter)::DOUBLE, 6) >= {NGRAM_JACCARD_THRESHOLD}
    """


# masked near-dup key: digits collapsed — boilerplate that differs only in
# numbers/refs groups together (reference remove_duplicate_paragraphs.py
# boilerplate examples).  Pure built-ins, SQL-expressible.

MIN_MASKED_GROUP = 2


def masked_dup_groups(df: DataFrame, text_col: str, id_col: str,
                      min_group: int = MIN_MASKED_GROUP) -> DataFrame:
    return (
        df.groupBy(dup_key_col(text_col).alias("dup_key"))
        .agg(F.count("*").alias("n_members"), F.min(id_col).alias("keep_id"))
        .filter(F.col("n_members") >= min_group)
    )


def masked_dup_groups_sql(table: str, text_col: str, id_col: str,
                          min_group: int = MIN_MASKED_GROUP) -> str:
    return f"""
        SELECT regexp_replace({canon_sql(f"lower({text_col})")},
                              '[0-9]+', '#', 'g') AS dup_key,
               COUNT(*) AS n_members, MIN({id_col}) AS keep_id
        FROM {table} GROUP BY 1 HAVING COUNT(*) >= {min_group}
    """


# ---------------------------------------------------------------------------
# embedding-cosine near-dup (J6 analog: Annoy 6-NN angular)
# ---------------------------------------------------------------------------

N_HYPERPLANES = 12
COSINE_LSH_BANDS = 3
VERIFY_BLOCK = 2048
_HP_SEED = 1234  # independent hash family from simsearch's (by design)


def cosine_near_dup_pairs(df: DataFrame, vec_col: str, id_col: str,
                          threshold: float = 0.98) -> DataFrame:
    """Random-hyperplane LSH (sign bits, ``COSINE_LSH_BANDS`` prefixes) +
    exact cosine verify >= threshold.  Mirrors the reference's near-dup
    rule (remove_duplicate_paragraphs.py:117-128: angular dist <
    2*(1-0.98)).

    Shape: ONE pass assigns each vector its per-band bucket keys (vector
    rides along), then the verify is a blockwise numpy matmul INSIDE each
    (band, bucket) group — vectors shuffle once per band (bands × the
    corpus), never once per candidate pair, and there is no pair-level
    join at all.  The earlier band-self-join + per-pair cosine UDF moved
    Θ(Σ bucket²) pair rows (each carrying two vectors) through two
    shuffles; this form moves Θ(bands · N) rows and spends the same
    Σ bucket² only as in-memory BLAS flops.  ``VERIFY_BLOCK`` caps the
    verify working set (block × bucket matrix) for hot buckets.

    Sizing for corpus scale: bucket count per band is
    2^(N_HYPERPLANES/COSINE_LSH_BANDS); the 12/3 setting (16 buckets/band)
    is calibrated for ~10^4-10^6 rows — at 10^9 rows 48/6 gives 256
    buckets/band (recall 1-(1-p^8)^6 with p = 1-θ/π; ≈0.97 at cosine
    0.98).  Verify flops scale with Σ bucket², so planes-per-band is THE
    selectivity dial."""
    def keyed_vecs(it):
        from .hyperlsh import sign_band_keys

        for pdf in it:
            if len(pdf) == 0:
                continue
            mat = np.stack(pdf[vec_col].to_numpy())
            out = []
            for keys in sign_band_keys(mat, COSINE_LSH_BANDS, N_HYPERPLANES, _HP_SEED):
                out.append(pd.DataFrame(
                    {"bkey": keys, "id": pdf[id_col].to_numpy(),
                     "v": pdf[vec_col]}))
            yield pd.concat(out, ignore_index=True)

    keyed = df.select(F.col(id_col).alias(id_col), vec_col).mapInPandas(
        keyed_vecs, schema="bkey string, id long, v array<float>")

    def verify(pdf: pd.DataFrame) -> pd.DataFrame:
        m = len(pdf)
        if m < 2:
            return pd.DataFrame({"a": pd.Series(dtype="int64"),
                                 "b": pd.Series(dtype="int64"),
                                 "cosine": pd.Series(dtype="float64")})
        M = np.stack(pdf["v"].to_numpy()).astype(np.float64)
        norms = np.linalg.norm(M, axis=1, keepdims=True)
        np.divide(M, norms, out=M, where=norms > 0)  # zero vecs stay 0 ⇒ cos 0
        ids = pdf["id"].to_numpy()
        aa, bb, cc = [], [], []
        for s in range(0, m, VERIFY_BLOCK):
            C = M[s : s + VERIFY_BLOCK] @ M.T  # (block, m)
            ii, jj = np.nonzero(C >= threshold)
            gi = ii + s
            keep = ids[gi] < ids[jj]  # dedupe within bucket + drop self
            ai, bj = gi[keep], jj[keep]
            aa.append(ids[ai])
            bb.append(ids[bj])
            cc.append(C[ii[keep], jj[keep]])
        return pd.DataFrame({"a": np.concatenate(aa) if aa else [],
                             "b": np.concatenate(bb) if bb else [],
                             "cosine": np.concatenate(cc) if cc else []})

    return (
        keyed.groupBy("bkey")
        .applyInPandas(verify, schema="a long, b long, cosine double")
        .dropDuplicates(["a", "b"])
    )
