"""Hash-gated oracle twin for the FLAGSHIP extraction semantics (M1 + triple
emission) over the ``documents`` parquet table.

The north-rule pipeline (S1→S5 over transcripts) can only get a rows-only
driver check because its corpus is synthesized in-process — DuckDB never
sees it.  This module runs the very same extraction operator
(``pipeline.extract``: mapInPandas + GazetteerMatcher + cue-predicate pair
rule, reference src/data/extract_entities.py:29-50 semantics) over the
documents table that BOTH engines can read, so the emitted (subj, pred,
obj) triples become value-hash-gated against an independent engine:

- the entity vocabulary is DERIVED FROM THE CORPUS identically in both
  engines (top-K unigrams + top-M bigrams by frequency, deterministic
  (count DESC, surface ASC) tie-break, cue words excluded) — no Python-only
  fixture sneaks into the oracle;
- sentence structure is injected identically in both engines (a period
  after every 8th token) since the raw corpus carries no punctuation;
- the DuckDB twin derives the vocab in SQL, presents each document as one
  turn (``ordered``: doc_id as conv_id, source as tool) and then runs the
  transcript twin's S2 core (transcript_twin.s2_cte: the recursive greedy
  cursor scan, exact for any surface length) with DOC_CUES — there is one
  SQL definition of extraction, and one of CC (transcript_twin.cc_ctes).

ORACLE DOMAIN: the twin is exact for corpora whose text is drawn from
[a-z ] (the documents fixture).  The vocab CTE splits tokens on ' ' only,
where ascii_split also breaks on tab/newline (multi-SPACE runs and empty
tokens ARE handled identically: both engines drop raw-empty tokens before
assigning positions), and ``nums`` is bounded by the per-doc ' '-split
token count.  The SPARK operator itself is correct for all inputs — the
restriction is on how far the DuckDB cross-check extends.

Scale shape (Spark side): vocab derivation is two JVM aggregations over the
token stream (map-side partial counts, one shuffle each) + a ≤K+M-row
driver collect (same contract as pipeline.extract.collect_surface_rows);
extraction itself is the one Arrow-batched pass the flagship pipeline uses
— no extra shuffle, no per-row Python at the API layer.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from .tables import load
from .transcript_twin import cc_ctes, s2_cte

# (path, content tag) -> vocab rows; see derive_vocab
_VOCAB_MEMO: dict[tuple[str, str], list[tuple[str, int, str]]] = {}

# --- shared, deterministic parameters (both engines must agree) -----------
SENT_EVERY = 8          # inject '. ' after every 8th token
N_UNIGRAMS = 12
N_BIGRAMS = 8
DOC_SURFACE_TOKENS = 2  # the vocab holds unigrams and bigrams only
# cue words are RESERVED: excluded from the derived vocab so a cue
# occurrence can never overlap a mention span (pair-rule cues must lie
# strictly BETWEEN consecutive mentions to fire)
DOC_CUES: list[tuple[str, tuple[str, ...]]] = [
    ("runs_slow", ("slow",)),
    ("runs_fast", ("fast",)),
    ("big_vector_link", ("big", "vector")),
]
# derived, not hand-listed: editing DOC_CUES must not silently un-reserve a word
_CUE_WORDS = tuple(dict.fromkeys(w for _p, cue in DOC_CUES for w in cue))

# Java and RE2 agree on this pattern (leftmost non-overlapping, [^ ]
# instead of \S — RE2's \S lacks \v): consume 8 tokens + the following
# space, emit them re-joined with '. '
_PERIOD_PAT = "(([^ ]+ ){%d}[^ ]+) " % (SENT_EVERY - 1)


def _in_list_sql() -> str:
    return ", ".join(f"'{w}'" for w in _CUE_WORDS)


def derive_vocab(spark: SparkSession, sf_dir: str) -> list[tuple[str, int, str]]:
    """(surface, entity_id, entity_type) rows derived from the corpus —
    unigrams ranked 1..N_UNIGRAMS ('term'), bigrams 101..100+N_BIGRAMS
    ('phrase').  Entirely JVM aggregations; only the ≤K+M final rows ever
    reach the driver.

    orderBy+limit compiles to TakeOrderedAndProject (distributed per-
    partition top-N + driver merge) — a no-partition row_number window
    would instead sort the whole vocabulary-sized count table on ONE task.
    Ranks are assigned driver-side to the ≤N collected rows, whose order
    IS the rank order (same (count DESC, surface ASC) tie-break as the
    DuckDB twin).

    Token semantics mirror the matcher: empty tokens are dropped and
    adjacency is over the compacted list (textops.ascii_split drops
    empties), so multi-space text cannot desynchronize the engines.

    Memoized per (path, content tag): the vocab is a pure function of the
    corpus, consumers invoke it repeatedly (bench best-of-2, gate runs),
    and at cluster scale this IS the staged-vocab seam — derive once,
    reuse across the workload."""
    from .common import cached_dataset_tag

    key = (os.path.abspath(sf_dir), cached_dataset_tag(sf_dir))
    hit = _VOCAB_MEMO.get(key)
    if hit is not None:
        return hit
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select(
        F.expr("filter(split(text, ' '), x -> x <> '')").alias("t"))

    def topn(df, n):
        return (df.groupBy("surface").agg(F.count("*").alias("c"))
                .orderBy(F.desc("c"), F.asc("surface")).limit(n).collect())

    uni = topn(
        toks.select(F.explode("t").alias("surface"))
        .filter(~F.col("surface").isin(*_CUE_WORDS)),
        N_UNIGRAMS)
    bi = topn(
        # size guard: sequence(1, 0) would generate a DESCENDING [1, 0]
        # for a single-token doc, fabricating a null-padded bigram
        toks.filter(F.size("t") >= 2)
        .select(F.explode(F.expr(
            "transform(sequence(1, size(t) - 1), i -> concat(t[i-1], ' ', t[i]))"
        )).alias("surface"))
        .filter(~F.expr(
            "exists(split(surface, ' '), w -> w in ({}))".format(_in_list_sql())
        )),
        N_BIGRAMS)
    rows = [(r["surface"], rk, "term") for rk, r in enumerate(uni, 1)]
    rows += [(r["surface"], 100 + rk, "phrase") for rk, r in enumerate(bi, 1)]
    _VOCAB_MEMO[key] = rows
    return rows


def _docs_raw_triples(spark: SparkSession, sf_dir: str):
    """(raw_triples_view DataFrame, surface_rows) — shared by the raw and
    the resolved registry entries."""
    from ..pipeline.extract import extract, raw_triples_view

    surface_rows = derive_vocab(spark, sf_dir)
    docs = load(spark, sf_dir, "documents")
    rows = docs.select(
        F.col("doc_id").cast("string").alias("conv_id"),
        F.lit(0).cast("int").alias("turn_idx"),
        F.regexp_replace("text", _PERIOD_PAT, "$1. ").alias("text"),
        F.col("source").alias("tool"),
        F.lit(None).cast("timestamp").alias("ts"),
    )
    ext = extract(rows, surface_rows, cue_toks=DOC_CUES)
    return raw_triples_view(ext), surface_rows


def extract_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, subj, pred, obj) triples from the flagship extractor run
    over the documents corpus with the corpus-derived vocab + DOC_CUES."""
    raw, _ = _docs_raw_triples(spark, sf_dir)
    return raw.select(F.col("conv_id").alias("doc_id"), "subj", "pred", "obj")


def extract_docs_resolved(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chain stage 2: the REAL S5 resolve step (pipeline.materialize) over
    the docs triples — ``srf:<surface>`` operands become ``ent:<id>`` via
    the vocab-identity entity map (M6 alias-lookup linking; the CC-derived
    map of the transcript pipeline collapses to identity on a closed
    single-id-per-surface vocab).  Hash-gated: with extract_docs this makes
    the S2→S5 core of the flagship DAG oracle-checked end to end."""
    from ..pipeline.materialize import materialize

    raw, surface_rows = _docs_raw_triples(spark, sf_dir)
    entity_map = spark.createDataFrame(
        [(s, eid, eid) for s, eid, _t in surface_rows],
        "surface string, entity_id long, canonical_id long")
    vocab = spark.createDataFrame(
        [(eid, s, t) for s, eid, t in surface_rows],
        "entity_id long, canonical_name string, entity_type string")
    triples, _nodes, _edges = materialize(raw, entity_map, vocab)
    return triples.select(
        F.col("conv_id").alias("doc_id"), "subj", "pred", "obj")


def docs_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chain stage 3: CANONICALIZATION, hash-gated — the real distributed
    connected-components operator (pipeline.cc large-star/small-star loop,
    ``small_graph_threshold=0`` forces the at-scale path even on this
    small graph) over the surface-variant link graph: vocab entities are
    linked iff their surfaces share a token ('alpha beta' — 'alpha'), the
    same shared-token blocking shape the transcript linker uses.  Output
    (entity_id, canonical_id = component min, self for isolated nodes) —
    link.entity_map_from_edges's exact coalesce contract."""
    from ..pipeline.cc import connected_components

    surface_rows = derive_vocab(spark, sf_dir)
    vocab = spark.createDataFrame(
        [(eid, s) for s, eid, _t in surface_rows], "eid long, surface string")
    toks = vocab.select("eid", F.explode(F.split("surface", " ")).alias("tok"))
    edges = (
        toks.alias("x").join(toks.alias("y"), "tok")
        .filter(F.col("x.eid") < F.col("y.eid"))
        .select(F.col("x.eid").alias("a"), F.col("y.eid").alias("b"))
        .distinct()
    )
    assign = connected_components(edges, small_graph_threshold=0)
    return (
        vocab.join(assign, vocab.eid == assign.entity_id, "left")
        .select(vocab.eid.alias("entity_id"),
                F.coalesce(assign.canonical_id, vocab.eid).alias("canonical_id"))
    )


# --------------------------------------------------------------------------
# DuckDB twin
# --------------------------------------------------------------------------

def _vocab_cte() -> str:
    """raw → uni/doc_toks/bi → ``vocab`` (surface, ntoks, eid) — the
    corpus-derived vocabulary, shared by the extraction twins and the
    components twin — plus the shared ``nums`` numbers table."""
    cuelist = _in_list_sql()
    return f"""
raw AS MATERIALIZED (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, source, text FROM documents
),
-- join-by-index list explosion, never unnest: see the DuckDB hazard
-- notes in transcript_twin (above s2_cte).  Positions are over the
-- COMPACTED (empty-free) list, matching ascii_split's indices.
doc_lists AS MATERIALIZED (
  -- empty tokens dropped (textops.ascii_split semantics): multi-space
  -- text must not mint '' surfaces or break bigram adjacency
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS lst
  FROM raw
),
nums AS MATERIALIZED (
  -- generate_series accepts only constant parameters (no lateral column,
  -- no subquery) on DuckDB 1.0, hence constant ceiling + max filter; the
  -- per-doc token count (+1 for an empty doc's one blank sentence) bounds
  -- sentence counts and per-sentence token counts alike.  A doc beyond the
  -- ceiling fails LOUDLY (error()) instead of silently truncating its
  -- token stream into a bogus engine-drift mismatch.
  SELECT g.i
  FROM generate_series(1, 1000000) AS g(i),
       (SELECT CASE WHEN max(len(lst)) + 1 > 1000000
                    THEN CAST(error('docextract twin: doc exceeds the 1e6-token nums ceiling') AS BIGINT)
                    ELSE max(len(lst)) + 1 END AS m FROM doc_lists) b
  WHERE g.i <= b.m
),
doc_toks AS MATERIALIZED (
  SELECT doc_id, lst[n.i] AS tok, n.i AS ord
  FROM doc_lists JOIN nums n ON n.i <= len(lst)
),
uni AS MATERIALIZED (
  SELECT surface, row_number() OVER (ORDER BY count(*) DESC, surface) AS rk
  FROM (SELECT tok AS surface FROM doc_toks)
  WHERE surface NOT IN ({cuelist})
  GROUP BY surface
  QUALIFY rk <= {N_UNIGRAMS}
),
bi AS MATERIALIZED (
  SELECT surface, row_number() OVER (ORDER BY count(*) DESC, surface) AS rk
  FROM (SELECT a.tok || ' ' || b.tok AS surface
        FROM doc_toks a JOIN doc_toks b
          ON a.doc_id = b.doc_id AND b.ord = a.ord + 1
        WHERE a.tok NOT IN ({cuelist}) AND b.tok NOT IN ({cuelist}))
  GROUP BY surface
  QUALIFY rk <= {N_BIGRAMS}
),
vocab AS MATERIALIZED (
  SELECT surface, 1 AS ntoks, rk AS eid FROM uni
  UNION ALL
  SELECT surface, 2, 100 + rk FROM bi
)"""


def _docs_cte() -> str:
    """The shared WITH-clause body: _vocab_cte → ``ordered`` (one turn per
    doc, the injected-period text, source as the tool) → the transcript
    twin's S2 core with DOC_CUES → ``triples_raw`` (conv_id = doc_id)."""
    return f"""{_vocab_cte()},
ordered AS MATERIALIZED (
  SELECT doc_id AS conv_id, 0 AS turn_idx,
         regexp_replace(text, '{_PERIOD_PAT}', '\\1. ', 'g') AS text,
         source AS tool, CAST(NULL AS TIMESTAMP) AS ts,
         row_number() OVER (ORDER BY doc_id) AS tid
  FROM raw
),{s2_cte(DOC_CUES, max_tokens=DOC_SURFACE_TOKENS)}"""


def extract_docs_sql() -> str:
    """From-scratch SQL re-derivation of extract_docs (see _docs_cte)."""
    return (f"WITH RECURSIVE {_docs_cte()}\n"
            "SELECT conv_id AS doc_id, subj, pred, obj FROM triples_raw")


def extract_docs_resolved_sql() -> str:
    """extract_docs + the S5 resolve layer: ``srf:<surface>`` → ``ent:<id>``
    via the derived vocab (identity entity map); rows whose srf: operand has
    no mapping are dropped — pipeline.materialize._resolve's exact guard
    (vacuous under this closed gazetteer, kept for drop-semantics parity)."""
    return f"""WITH RECURSIVE {_docs_cte()}
SELECT t.conv_id AS doc_id,
       CASE WHEN t.subj LIKE 'srf:%' THEN 'ent:' || vs.eid ELSE t.subj END AS subj,
       t.pred,
       CASE WHEN t.obj LIKE 'srf:%' THEN 'ent:' || vo.eid ELSE t.obj END AS obj
FROM triples_raw t
LEFT JOIN vocab vs ON t.subj LIKE 'srf:%' AND vs.surface = substr(t.subj, 5)
LEFT JOIN vocab vo ON t.obj LIKE 'srf:%' AND vo.surface = substr(t.obj, 5)
WHERE (t.subj NOT LIKE 'srf:%' OR vs.eid IS NOT NULL)
  AND (t.obj NOT LIKE 'srf:%' OR vo.eid IS NOT NULL)
"""


def docs_components_sql() -> str:
    """Recursive-CTE twin of docs_components: the shared min-label
    reachability CC (transcript_twin.cc_ctes) over the shared-token edges."""
    return f"""WITH RECURSIVE {_vocab_cte()},
vt AS MATERIALIZED (
  SELECT eid, slst[n.i] AS tok
  FROM (SELECT eid, string_split(surface, ' ') AS slst FROM vocab) v
  JOIN nums n ON n.i <= len(slst)
),
edges AS MATERIALIZED (
  SELECT DISTINCT x.eid AS a, y.eid AS b
  FROM vt x JOIN vt y ON x.tok = y.tok AND x.eid < y.eid
),{cc_ctes("edges", "SELECT eid FROM vocab")}
SELECT CAST(entity_id AS BIGINT) AS entity_id,
       CAST(canonical_id AS BIGINT) AS canonical_id
FROM assign
"""
