"""Text-reshaping operators: the reference's corpus-construction surface
(SURVEY.md §2.3) as Spark grouped-map / window operators with exact ANSI-SQL
oracle twins.

Reference semantics mirrored (whitespace tokens stand in for BERT
wordpieces — same policies, same control flow):

- T2 sentence merge/split       extract_paragraphs_faster.py:75-105
- T4 token-length normalization adjust_length_paragraphs.py:42-91
- T7 greedy chunk packing       extract_qa.py:22-54 (incl. the oversize
                                bail that feeds the failure ledger, D4)
- T8 context-window expansion   reranker_function.py:26-79
- T5 subword tokenization       tokenize_paragraphs.py:14-31
- T9 Q/A-pair parsing           create_QA_dataset.py:15-42

The file/paragraph model maps onto the documents table as
file ≙ ``source``, paragraph ≙ row ordered by ``doc_id`` (the reference's
paragraph-index-in-file, SURVEY.md §2.6 W1).

Scale notes:
- T2/T5/T9 are per-row: pandas UDF + posexplode (T2) or pure JVM
  expressions (T5/T9 — whole-stage codegen, no Python at all).
- T4/T7 are per-file sequential policies → ``applyInPandas`` over the
  group key: one shuffle on ``source``, then Arrow-batch pure-python over
  each (small) group.  Groups are single files — bounded; skewed group
  sizes are an input property, AQE handles the shuffle.
- T8's reference implementation is an outward walk; here it is a
  DECLARATIVE window/join formulation (prefix sums + min/max over rank
  predicates) that provably agrees with the walk for positive token
  counts (property-tested against textops.context_window) — no
  per-row Python, no sequential state, shuffles only on the group key.

The SQL twins reproduce the sequential merge policies with DuckDB
``list_reduce`` folds over a segment-separator encoding (chr(30) segment
separator, chr(29) "finalized this pass" marker) — byte-identical outputs
to the pure functions, so the driver's hash gate checks the exact
semantics, not a relaxation.

ORACLE DOMAIN: the fold encodings use chr(29)/chr(30)/chr(31) as in-band
markers, so the SQL twins are exact only for text free of those three C0
separator bytes (the synthetic corpora guarantee this; real-world text
virtually never contains them).  The SPARK/Python operators themselves
are correct for all inputs — the restriction is purely on how far the
DuckDB cross-check extends, not on the engine.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window as W, functions as F, types as T

from ..textops import (
    ADJUST_MAX_PASSES,
    CHUNK_ERR_OVERSIZE,
    SUBWORD_RE,
    adjust_paragraph_lengths,
    merge_split_sentences,
    pack_chunks,
)
from .common import canon_col as _canon_col, canon_sql as _canon_sql
from .common import explode_once, spread

# Operator constants, read by each Spark operator and its DuckDB twin.
# Every operator here reads the documents table: text in ``text``, the
# paragraph order in ``doc_id`` and the file (group) in ``source``.
T2_MIN_CHARS, T2_MAX_CHARS = 30, 200          # T2 merge floor / split width
T4_MIN_TOKENS, T4_MAX_TOKENS = 40, 80         # T4 paragraph length bounds
T7_MAX_TOKENS = 200                           # T7 chunk budget
CONTEXT_PATTERN = "stream join"               # T8 hit substring
CONTEXT_MAX_TOKENS, CONTEXT_BEFORE_PERCENT = 120, 0.3


# ---------------------------------------------------------------------------
# T2 — sentence merge/split (per row)
# ---------------------------------------------------------------------------

def t2_segments(df: DataFrame, min_chars: int = T2_MIN_CHARS,
                max_chars: int = T2_MAX_CHARS) -> DataFrame:
    """(doc_id, seg_idx, segment): textops.merge_split_sentences per document."""

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def _segs(texts: pd.Series) -> pd.Series:
        return texts.map(lambda t: merge_split_sentences(t or "", min_chars, max_chars))

    return explode_once(spread(df), ["doc_id"], _segs("text"),
                        ["seg_idx", "segment"])


def t2_segments_sql(table: str = "documents", min_chars: int = T2_MIN_CHARS,
                    max_chars: int = T2_MAX_CHARS) -> str:
    """DuckDB twin: sentence split via terminator-preserving regexp marker,
    greedy merge via list_reduce fold (chr(30)-separated segments), then
    fixed-width split via range/substr."""
    m = max_chars
    return f"""
        WITH s AS (
          SELECT doc_id,
                 list_filter(string_split(
                   regexp_replace(regexp_replace(text, '^[\\s\\v]+|[\\s\\v]+$', '', 'g'),
                                  '([.!?])[\\s\\v]+', '\\1' || chr(31), 'g'),
                   chr(31)), x -> regexp_replace(x, '^[\\s\\v]+|[\\s\\v]+$', '', 'g') <> '') AS sents
          FROM {table}),
        mseg AS (
          SELECT doc_id,
                 CASE WHEN len(sents) = 0 THEN CAST([] AS VARCHAR[])
                      ELSE string_split(
                        list_reduce(sents, (acc, x) ->
                          CASE WHEN length((string_split(acc, chr(30)))[-1]) < {min_chars}
                               THEN acc || ' ' || x
                               ELSE acc || chr(30) || x END),
                        chr(30)) END AS segs
          FROM s),
        x AS (
          SELECT doc_id,
                 flatten(list_transform(segs, seg ->
                   list_transform(range(0, CAST(ceil(length(seg) / {m}.0) AS INT)),
                                  i -> substr(seg, i * {m} + 1, {m})))) AS chunks
          FROM mseg)
        SELECT doc_id, generate_subscripts(chunks, 1) - 1 AS seg_idx,
               unnest(chunks) AS segment
        FROM x
    """


# ---------------------------------------------------------------------------
# T4 / T7 — per-file sequential policies (applyInPandas) + SQL fold twins
# ---------------------------------------------------------------------------

def _per_file(df: DataFrame, fn, fields: list) -> DataFrame:
    """``fn`` over each file's paragraphs as one pandas frame sorted by
    ``doc_id`` (one shuffle on ``source``); output (source, *fields)."""
    schema = T.StructType([T.StructField("source", T.StringType()), *fields])

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id")
        out = fn(pdf["text"].tolist())
        return pd.DataFrame({"source": pdf["source"].iloc[0], **out})

    return (
        spread(df.select("source", "doc_id", "text"))
        .groupBy("source").applyInPandas(run, schema)
    )


def _indexed(idx: str, col: str, values: list[str]) -> dict:
    return {idx: pd.array(range(len(values)), dtype="int32"), col: values}


def t4_adjust_lengths(df: DataFrame) -> DataFrame:
    """(source, para_idx, paragraph): token-length normalization per file."""
    return _per_file(
        df,
        lambda paras: _indexed("para_idx", "paragraph", adjust_paragraph_lengths(
            paras, T4_MIN_TOKENS, T4_MAX_TOKENS)),
        [T.StructField("para_idx", T.IntegerType()),
         T.StructField("paragraph", T.StringType())])


def t7_pack_chunks(df: DataFrame) -> DataFrame:
    """(source, chunk_idx, chunk): greedy token-budget packing per file.
    Files containing an oversize paragraph yield ZERO chunks (reference
    bail; surfaced separately by t7_chunking_errors → D4 ledger)."""
    return _per_file(
        df,
        lambda paras: _indexed("chunk_idx", "chunk", pack_chunks(paras, T7_MAX_TOKENS)[0]),
        [T.StructField("chunk_idx", T.IntegerType()),
         T.StructField("chunk", T.StringType())])


def t7_chunking_errors(df: DataFrame, max_tokens: int = T7_MAX_TOKENS) -> DataFrame:
    """(source, reason): files whose chunking would bail — pure JVM
    expressions (the D4 failure-ledger feed)."""
    ntok = F.size(F.split(_canon_col("text"), " "))
    return (
        df.filter(F.length(_canon_col("text")) > 0)
        .filter(ntok > max_tokens)
        .select("source").distinct()
        .withColumn("reason", F.lit(CHUNK_ERR_OVERSIZE))
    )


def t7_chunking_errors_sql(max_tokens: int = T7_MAX_TOKENS) -> str:
    return f"""
        SELECT DISTINCT source, '{CHUNK_ERR_OVERSIZE}' AS reason
        FROM documents
        WHERE {_canon_sql("text")} <> ''
          AND len(string_split({_canon_sql("text")}, ' ')) > {max_tokens}
    """


# --- SQL fold machinery for T4/T7 ------------------------------------------
# Encoding: a fold accumulator is a chr(30)-separated list of segments; a
# segment prefixed with chr(29) is finalized for the current pass (a split
# piece or a merge product) and can no longer absorb the incoming element.

def _canon_list_sql(lst: str) -> str:
    c = _canon_sql("p")
    return (f"list_transform(list_filter({lst}, p -> {c} <> ''), "
            f"p -> {c})")


def _t4_pass_sql(lst: str, min_t: int, max_t: int) -> str:
    """One adjust-length pass over a (canonical) VARCHAR[] expression."""
    arr = "string_split(acc, chr(30))"
    last = f"({arr})[-1]"
    ntok_last = f"len(string_split({last}, ' '))"
    xt = "string_split(x, ' ')"
    merged_acc = (f"array_to_string(list_concat(({arr})[1:len({arr}) - 1], "
                  f"[chr(29) || {last} || ' ' || x]), chr(30))")
    x_head = f"array_to_string(({xt})[1:{max_t}], ' ')"
    x_tail = f"array_to_string(({xt})[{max_t} + 1:], ' ')"
    fold = f"""list_reduce(list_prepend(chr(29), {lst}), (acc, x) ->
        CASE
          WHEN NOT starts_with({last}, chr(29))
               AND {ntok_last} < {min_t}
               AND {ntok_last} + len({xt}) <= {max_t}
            THEN {merged_acc}
          WHEN len({xt}) > {max_t}
            THEN acc || chr(30) || chr(29) || {x_head} || chr(30) || chr(29) || {x_tail}
          ELSE acc || chr(30) || x
        END)"""
    return (f"list_transform(list_filter(string_split({fold}, chr(30)), "
            f"s -> s <> chr(29) AND s <> ''), s -> replace(s, chr(29), ''))")


def t4_list_sql(paras_lst: str, min_tokens: int, max_tokens: int) -> str:
    """Full T4 over a VARCHAR[] expression: canon -> <=3 passes (a pass is
    the identity once every paragraph is within bounds, so unconditionally
    inlining all 3 matches the early-stopping python loop) -> truncate."""
    e = _canon_list_sql(paras_lst)
    for _ in range(ADJUST_MAX_PASSES):
        e = _t4_pass_sql(e, min_tokens, max_tokens)
    return (f"list_transform({e}, s -> "
            f"array_to_string(string_split(s, ' ')[1:{max_tokens}], ' '))")


def t7_list_sql(paras_lst: str, max_tokens: int, canon: bool = True) -> str:
    """Greedy chunk packing over a VARCHAR[] expression (zero chunks when
    any paragraph exceeds the budget — the reference bail)."""
    lst = _canon_list_sql(paras_lst) if canon else paras_lst
    arr = "string_split(acc, chr(30))"
    last = f"({arr})[-1]"
    ntok_last = f"len(string_split({last}, ' '))"
    repl_last = (f"array_to_string(list_concat(({arr})[1:len({arr}) - 1], "
                 f"[{last} || ' ' || x]), chr(30))")
    fold = f"""list_reduce(list_prepend('', {lst}), (acc, x) ->
        CASE WHEN acc = '' THEN x
             WHEN {ntok_last} + len(string_split(x, ' ')) <= {max_tokens}
               THEN {repl_last}
             ELSE acc || chr(30) || x
        END)"""
    return f"""CASE WHEN len(list_filter({lst}, p -> len(string_split(p, ' ')) > {max_tokens})) > 0
                 THEN CAST([] AS VARCHAR[])
                 ELSE list_filter(string_split({fold}, chr(30)), s -> s <> '')
               END"""


_GROUPED_LIST_CTE = ("SELECT source, list(text ORDER BY doc_id) AS paras "
                     "FROM documents GROUP BY source")


def t4_adjust_lengths_sql() -> str:
    lst = t4_list_sql("paras", T4_MIN_TOKENS, T4_MAX_TOKENS)
    return f"""
        WITH g AS ({_GROUPED_LIST_CTE}),
        a AS (SELECT source, {lst} AS out FROM g)
        SELECT source, generate_subscripts(out, 1) - 1 AS para_idx,
               unnest(out) AS paragraph
        FROM a
    """


def t7_pack_chunks_sql() -> str:
    lst = t7_list_sql("paras", T7_MAX_TOKENS)
    return f"""
        WITH g AS ({_GROUPED_LIST_CTE}),
        a AS (SELECT source, {lst} AS out FROM g)
        SELECT source, generate_subscripts(out, 1) - 1 AS chunk_idx,
               unnest(out) AS chunk
        FROM a
    """


def curation_pipeline(df: DataFrame, min_tokens: int = T4_MIN_TOKENS,
                      max_tokens: int = T4_MAX_TOKENS,
                      chunk_tokens: int = T7_MAX_TOKENS) -> DataFrame:
    """T4 → T7 chained per file — the reference's corpus-construction path
    (adjust_length_paragraphs → extract_qa chunking) as ONE grouped-map
    pass: a single shuffle on the group key, both sequential policies
    applied in-executor."""

    def fn(paras: list[str]) -> dict:
        adjusted = adjust_paragraph_lengths(paras, min_tokens, max_tokens)
        chunks, _err = pack_chunks(adjusted, chunk_tokens)
        return {
            **_indexed("chunk_idx", "chunk", chunks),
            # split(" "), not split(): the DuckDB twin counts via
            # string_split(chunk, ' ') and pack_chunks budgets the same way —
            # bare split() would drift on C0/Unicode whitespace inside tokens
            "n_tokens": pd.array([len(c.split(" ")) for c in chunks], dtype="int32"),
        }

    return _per_file(df, fn, [T.StructField("chunk_idx", T.IntegerType()),
                              T.StructField("chunk", T.StringType()),
                              T.StructField("n_tokens", T.IntegerType())])


def curation_pipeline_sql(min_tokens: int = T4_MIN_TOKENS,
                          max_tokens: int = T4_MAX_TOKENS,
                          chunk_tokens: int = T7_MAX_TOKENS) -> str:
    t4 = t4_list_sql("paras", min_tokens, max_tokens)
    chained = t7_list_sql(t4, chunk_tokens, canon=False)
    return f"""
        WITH g AS ({_GROUPED_LIST_CTE}),
        a AS (SELECT source, {chained} AS out FROM g)
        SELECT source, generate_subscripts(out, 1) - 1 AS chunk_idx,
               unnest(out) AS chunk,
               len(string_split(unnest(out), ' ')) AS n_tokens
        FROM a
    """


# ---------------------------------------------------------------------------
# T8 — context windows (declarative window/join formulation)
# ---------------------------------------------------------------------------

def context_windows(df: DataFrame, pattern: str = CONTEXT_PATTERN,
                    max_tokens: int = CONTEXT_MAX_TOKENS,
                    before_percent: float = CONTEXT_BEFORE_PERCENT) -> DataFrame:
    """(source, hit_id, start_rk, end_rk, context) — token-budget window
    around every hit (``pattern`` substring match).  See expand_context."""
    return expand_context(df, None, max_tokens, before_percent, pattern=pattern)


def ranked_corpus(df: DataFrame) -> DataFrame:
    """The rank/prefix-sum staging table T8 consumes: (g, o, txt, tok, rk,
    c, total, n) — row rank, token count, cumulative tokens and group
    totals per (group, order).  Query-independent, so at scale it is
    materialized ONCE per corpus version (build_ranked_corpus) and every
    expansion reads it instead of re-deriving the window functions in each
    of the plan's ~10 self-join branches."""
    txt = _canon_col("text")
    base = (
        df.filter(F.length(_canon_col("text")) > 0)
        .select(F.col("source").alias("g"), F.col("doc_id").alias("o"),
                txt.alias("txt"))
        .withColumn("tok", F.size(F.split(F.col("txt"), " ")))
    )
    wo = W.partitionBy("g").orderBy("o")
    wg = W.partitionBy("g")
    return (
        base.withColumn("rk", F.row_number().over(wo))
        .withColumn("c", F.sum("tok").over(wo))
        .withColumn("total", F.sum("tok").over(wg))
        .withColumn("n", F.count("*").over(wg))
    )


def build_ranked_corpus(df: DataFrame, out_dir: str) -> None:
    """Materialize ranked_corpus once (S2-style staging write).  At 100 TB
    this is a partitioned Iceberg table keyed on the group column; the
    parquet dir keeps the same read surface locally."""
    ranked_corpus(df).write.mode(
        "overwrite").parquet(f"{out_dir}/ranked")


def load_ranked_corpus(spark, out_dir: str) -> DataFrame:
    return spark.read.parquet(f"{out_dir}/ranked")


def expand_context(df: DataFrame, hit_ids: DataFrame | None,
                   max_tokens: int = CONTEXT_MAX_TOKENS,
                   before_percent: float = CONTEXT_BEFORE_PERCENT, *,
                   pattern: str | None = None,
                   ranked: DataFrame | None = None) -> DataFrame:
    """Token-budget context expansion around hit rows.

    ``hit_ids``: DataFrame(source, doc_id) naming the hit rows
    (e.g. retrieval results); alternatively ``pattern`` marks every row
    whose text contains the substring.

    Declarative equivalent of the reference's outward walk: with positive
    per-paragraph token counts, "walk until the next paragraph doesn't
    fit" == "maximal consecutive run whose cumulative tokens stay within
    budget" (prefix sums are strictly monotone), so start/end fall out of
    min/max aggregations over rank/cumsum predicates — no sequential
    state, property-tested against textops.context_window.
    Budget split: int(remaining·before_percent) backward, the rest plus
    backward leftovers forward; whole file returned when it fits.

    ``ranked``: a pre-staged ``ranked_corpus`` table — when given, the
    window/prefix-sum derivation is skipped and every self-join branch
    reads the staged table (one write, N pruned columnar reads) instead of
    re-computing the static plan ~10 times.
    """
    r = ranked if ranked is not None else ranked_corpus(df)
    if hit_ids is not None:
        marked = r.join(
            F.broadcast(hit_ids.select(F.col("source").alias("g"),
                                       F.col("doc_id").alias("o")).distinct()),
            ["g", "o"])
    else:
        marked = r.filter(F.col("txt").contains(pattern))
    hits = (
        marked
        .select(F.col("g"), F.col("o").alias("hit_id"), F.col("rk").alias("hrk"),
                F.col("tok").alias("htok"), F.col("c").alias("hc"),
                "total", "n")
        .withColumn("remaining", F.lit(max_tokens) - F.col("htok"))
        .withColumn("before_budget",
                    (F.col("remaining") * F.lit(before_percent)).cast("long"))
    )
    j = r.select(F.col("g"), F.col("rk").alias("jrk"), F.col("c").alias("jc"),
                 F.col("tok").alias("jtok"))

    st = (
        hits.join(j, "g")
        .filter((F.col("jrk") < F.col("hrk"))
                & ((F.col("hc") - F.col("htok")) - (F.col("jc") - F.col("jtok"))
                   <= F.col("before_budget")))
        .groupBy("g", "hit_id").agg(F.min("jrk").alias("start_rk_w"))
    )
    h2 = (
        hits.join(st, ["g", "hit_id"], "left")
        .withColumn("start_rk0", F.coalesce("start_rk_w", "hrk"))
    )
    h3 = (
        h2.join(j.select("g", F.col("jrk").alias("start_rk0"),
                         (F.col("jc") - F.col("jtok")).alias("cprev_start")),
                ["g", "start_rk0"])
        .withColumn("after_budget",
                    F.col("remaining") - ((F.col("hc") - F.col("htok")) - F.col("cprev_start")))
    )
    en = (
        h3.join(j, "g")
        .filter((F.col("jrk") > F.col("hrk"))
                & (F.col("jc") - F.col("hc") <= F.col("after_budget")))
        .groupBy("g", "hit_id").agg(F.max("jrk").alias("end_rk_w"))
    )
    h4 = (
        h3.join(en, ["g", "hit_id"], "left")
        .withColumn("end_rk0", F.coalesce("end_rk_w", "hrk"))
        .withColumn("start_rk",
                    F.when(F.col("total") <= max_tokens, F.lit(1)).otherwise(F.col("start_rk0"))
                    .cast("long"))
        .withColumn("end_rk",
                    F.when(F.col("total") <= max_tokens, F.col("n")).otherwise(F.col("end_rk0"))
                    .cast("long"))
        .select("g", "hit_id", "start_rk", "end_rk")
    )
    ctx = (
        h4.join(r.select("g", "rk", "txt"), "g")
        .filter(F.col("rk").between(F.col("start_rk"), F.col("end_rk")))
        .groupBy("g", "hit_id", "start_rk", "end_rk")
        .agg(F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct(F.col("rk").alias("rk"),
                                                     F.col("txt").alias("txt")))),
                lambda s: s.getField("txt")),
            " ").alias("context"))
    )
    return ctx.select(F.col("g").alias("source"), "hit_id", "start_rk", "end_rk", "context")


def context_windows_sql() -> str:
    B, p = CONTEXT_MAX_TOKENS, CONTEXT_BEFORE_PERCENT
    pat = CONTEXT_PATTERN.replace("'", "''")
    return f"""
        WITH d AS (SELECT source AS g, doc_id AS o,
                          {_canon_sql("text")} AS txt
                   -- canonical-form gate, NOT trim(): a tab/newline-only
                   -- doc passes trim() (space-only strip), becoming a
                   -- phantom row that shifts every rank/prefix-sum vs the
                   -- Spark side's length(canon) > 0 filter
                   FROM documents WHERE {_canon_sql("text")} <> ''),
        r AS (SELECT g, o, txt, len(string_split(txt, ' ')) AS tok,
                     ROW_NUMBER() OVER (PARTITION BY g ORDER BY o) AS rk,
                     SUM(len(string_split(txt, ' '))) OVER
                       (PARTITION BY g ORDER BY o) AS c,
                     SUM(len(string_split(txt, ' '))) OVER (PARTITION BY g) AS total,
                     COUNT(*) OVER (PARTITION BY g) AS n
              FROM d),
        h AS (SELECT g, o AS hit_id, rk AS hrk, tok AS htok, c AS hc, total, n,
                     {B} - tok AS remaining,
                     CAST(trunc(({B} - tok) * {p}) AS BIGINT) AS before_budget
              -- position(), not LIKE: the Spark side is a literal
              -- Column.contains — LIKE would treat % / _ in the pattern
              -- as wildcards and an unescaped quote breaks the SQL
              FROM r WHERE position('{pat}' IN txt) > 0),
        st AS (SELECT h.g, h.hit_id, MIN(j.rk) AS start_rk_w
               FROM h JOIN r j ON j.g = h.g AND j.rk < h.hrk
                    AND (h.hc - h.htok) - (j.c - j.tok) <= h.before_budget
               GROUP BY 1, 2),
        h2 AS (SELECT h.*, COALESCE(st.start_rk_w, h.hrk) AS start_rk0
               FROM h LEFT JOIN st USING (g, hit_id)),
        h3 AS (SELECT h2.*, h2.remaining - ((h2.hc - h2.htok) - (j.c - j.tok)) AS after_budget
               FROM h2 JOIN r j ON j.g = h2.g AND j.rk = h2.start_rk0),
        en AS (SELECT h3.g, h3.hit_id, MAX(j.rk) AS end_rk_w
               FROM h3 JOIN r j ON j.g = h3.g AND j.rk > h3.hrk
                    AND j.c - h3.hc <= h3.after_budget
               GROUP BY 1, 2),
        h4 AS (SELECT h3.g, h3.hit_id,
                      CAST(CASE WHEN h3.total <= {B} THEN 1 ELSE h3.start_rk0 END AS BIGINT) AS start_rk,
                      CAST(CASE WHEN h3.total <= {B} THEN h3.n ELSE COALESCE(en.end_rk_w, h3.hrk) END AS BIGINT) AS end_rk
               FROM h3 LEFT JOIN en USING (g, hit_id))
        SELECT f.g AS source, f.hit_id, f.start_rk, f.end_rk,
               string_agg(j.txt, ' ' ORDER BY j.rk) AS context
        FROM h4 f JOIN r j ON j.g = f.g AND j.rk BETWEEN f.start_rk AND f.end_rk
        GROUP BY 1, 2, 3, 4
    """


# ---------------------------------------------------------------------------
# T5 — subword tokenization (pure JVM expressions / pure SQL)
# ---------------------------------------------------------------------------

def wordpiece(df: DataFrame) -> DataFrame:
    """(id, pieces, n_pieces): consonant/vowel-group subword split with
    '##' continuation markers — whole-stage codegen, zero Python."""
    norm = F.lower(_canon_col("text"))
    words = F.split(norm, " ")
    grouped = F.lit("(" + SUBWORD_RE + ")")
    pieces = F.flatten(F.transform(
        words,
        lambda w: F.transform(
            F.regexp_extract_all(w, grouped, 1),
            lambda piece, i: F.when(i == 0, piece).otherwise(F.concat(F.lit("##"), piece)),
        ),
    ))
    return df.select(
        F.col("doc_id"),
        F.array_join(pieces, " ").alias("pieces"),
        F.size(pieces).alias("n_pieces"),
    )


def wordpiece_sql() -> str:
    inner = (f"flatten(list_transform(string_split(lower({_canon_sql('text')}), ' '), "
             f"w -> list_transform(regexp_extract_all(w, '{SUBWORD_RE}'), "
             f"(piece, i) -> CASE WHEN i = 1 THEN piece ELSE '##' || piece END)))")
    return f"""
        SELECT doc_id, array_to_string({inner}, ' ') AS pieces,
               len({inner}) AS n_pieces
        FROM documents
    """


# ---------------------------------------------------------------------------
# T9 — Q/A-pair parsing (regex extract over a deterministically constructed
# Q/A layout; the full 3-case fallback lives in textops.parse_qa_pairs and
# is pytest-covered — this registry surface exercises the marker-count
# matching rule both engines share)
# ---------------------------------------------------------------------------

def qa_parse(df: DataFrame) -> DataFrame:
    """(id, pair_idx, question, answer): build a deterministic
    'Question N: …\\nAnswer N: …' layout from each document (1-in-7 rows
    get an orphan answer — marker counts mismatch → zero pairs, the
    reference's case-3 bail), then parse it back with regexp_extract_all."""
    txt = _canon_col("text")
    qa = F.concat(
        F.lit("Question 1: "), F.substring(txt, 1, 40), F.lit("?\n"),
        F.lit("Answer 1: "), F.substring(txt, 41, 40), F.lit(".\n"),
        F.when(F.col("doc_id") % 7 == 0, F.lit("Answer 2: orphan."))
        .otherwise(F.concat(F.lit("Question 2: "), F.substring(txt, 81, 40), F.lit("?\n"),
                            F.lit("Answer 2: "), F.substring(txt, 121, 40), F.lit("."))),
    )
    qs = F.regexp_extract_all(qa, F.lit(r"Question \d+: (.+)"), 1)
    ans = F.regexp_extract_all(qa, F.lit(r"Answer \d+: (.+)"), 1)
    ok = (F.size(qs) > 0) & (F.size(qs) == F.size(ans))
    empty = F.array().cast(T.ArrayType(T.StringType()))
    d = df.select(
        F.col("doc_id"),
        F.when(ok, qs).otherwise(empty).alias("qs"),
        F.when(ok, ans).otherwise(empty).alias("ans"),
    )
    return (
        d.select(F.col("doc_id"), "ans", F.posexplode("qs").alias("pair_idx", "question"))
        .withColumn("answer", F.element_at("ans", F.col("pair_idx") + 1))
        .select("doc_id", "pair_idx", "question", "answer")
    )


def qa_parse_sql() -> str:
    txt = _canon_sql("text")
    qa = (f"'Question 1: ' || substr({txt}, 1, 40) || '?' || chr(10) || "
          f"'Answer 1: ' || substr({txt}, 41, 40) || '.' || chr(10) || "
          f"CASE WHEN doc_id % 7 = 0 THEN 'Answer 2: orphan.' "
          f"ELSE 'Question 2: ' || substr({txt}, 81, 40) || '?' || chr(10) || "
          f"'Answer 2: ' || substr({txt}, 121, 40) || '.' END")
    return f"""
        WITH b AS (SELECT doc_id, {qa} AS qa FROM documents),
        e AS (SELECT doc_id,
                     regexp_extract_all(qa, 'Question \\d+: (.+)', 1) AS qs,
                     regexp_extract_all(qa, 'Answer \\d+: (.+)', 1) AS ans
              FROM b),
        f AS (SELECT doc_id,
                     CASE WHEN len(qs) > 0 AND len(qs) = len(ans) THEN qs
                          ELSE CAST([] AS VARCHAR[]) END AS qs,
                     CASE WHEN len(qs) > 0 AND len(qs) = len(ans) THEN ans
                          ELSE CAST([] AS VARCHAR[]) END AS ans
              FROM e)
        SELECT doc_id, generate_subscripts(qs, 1) - 1 AS pair_idx,
               unnest(qs) AS question, unnest(ans) AS answer
        FROM f
    """
