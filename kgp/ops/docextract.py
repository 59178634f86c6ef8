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
- the DuckDB twin re-implements tokenize→clean→greedy leftmost-longest
  matching (a closed-form gaps-and-islands parity rule, exact for the
  unigram+bigram vocab — see the s2runs comment) →mention/pair/uses_tool
  triple emission from scratch in SQL, using ONLY joins, windows, and
  scalar functions downstream of tokenization (DuckDB 1.0's lambda fold
  and unnest executors both misassociate rows; see the hazard notes).

ORACLE DOMAIN: the twin is exact for corpora whose text is drawn from
[a-z ] (the documents fixture) — the twin splits tokens on ' ' only where ascii_split
also breaks on tab/newline (multi-SPACE runs and empty tokens ARE handled
identically: both engines drop raw-empty tokens before assigning
positions).  The SPARK operator itself is correct for all inputs — the
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

# (path, content tag) -> vocab rows; see derive_vocab
_VOCAB_MEMO: dict[tuple[str, str], list[tuple[str, int, str]]] = {}

# --- shared, deterministic parameters (both engines must agree) -----------
SENT_EVERY = 8          # inject '. ' after every 8th token
N_UNIGRAMS = 12
N_BIGRAMS = 8
# cue words are RESERVED: excluded from the derived vocab so a cue
# occurrence can never overlap a mention span (pair-rule cues must lie
# strictly BETWEEN consecutive mentions to fire)
DOC_CUES: list[tuple[str, tuple[str, ...]]] = [
    ("runs_slow", ("slow",)),
    ("runs_fast", ("fast",)),
    ("big_vector_link", ("big", "vector")),
]
# derived, not hand-listed: editing DOC_CUES must not silently un-reserve
# a word (the SQL twin's cue CTE is still per-cue literal — a new cue
# needs a twin branch there, which the parity test catches)
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
    triples, _nodes, _edges = materialize(raw, raw, entity_map, vocab)
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

# textops._EDGE_PUNCT as a SQL literal (quote doubled) — derived, so a
# future edit to the shared punctuation class cannot desynchronize the twin
from ..textops import _EDGE_PUNCT as _EDGE_PUNCT_PY  # noqa: E402

_EDGE_PUNCT_SQL = _EDGE_PUNCT_PY.replace("'", "''")


def _vocab_cte(table: str) -> str:
    """raw → uni/doc_toks/bi → ``vocab`` (surface, ntoks, eid) — the
    corpus-derived vocabulary, shared by the extraction twins and the
    components twin.  MATERIALIZED: vocab is multi-referenced downstream
    and its producers are lambda-heavy (see the hazard note below)."""
    cuelist = _in_list_sql()
    return f"""
raw AS MATERIALIZED (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, source, text FROM {table}
),
-- NO unnest anywhere in this twin.  List explosion is JOIN-BY-INDEX: a
-- MATERIALIZED CTE builds the per-row list, a shared ``nums`` numbers
-- table (bounded by the corpus-wide max token count — an upper bound on
-- every later list's length) joins on n.i <= len(lst), and extraction is
-- the plain scalar lst[n.i].  unnest (SELECT-list OR lateral,
-- struct-packed or not) over lambda-producing CTEs was observed to
-- MISALIGN rows on DuckDB 1.0 (~1% of executions: one row's key paired
-- with another row's list entries — the same query returning 211/212/213
-- rows across runs, surviving AS MATERIALIZED and single-threaded mode).
-- With join-by-index the list and its key never separate: the value is a
-- scalar function of the row.  Positions are over the COMPACTED
-- (empty-free) list, matching ascii_split's indices.
doc_lists AS MATERIALIZED (
  -- empty tokens dropped (textops.ascii_split semantics): multi-space
  -- text must not mint '' surfaces or break bigram adjacency
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS lst
  FROM raw
),
nums AS MATERIALIZED (
  -- generate_series accepts only constant parameters (no lateral column,
  -- no subquery) on DuckDB 1.0, hence constant ceiling + max filter; the
  -- per-doc token count bounds sentence counts, per-sentence token
  -- counts, and per-sentence mention counts alike.  A doc beyond the
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


def _docs_cte(table: str) -> str:
    """The shared WITH-clause body: _vocab_cte → sentences → greedy
    matching → cues → pair predicates → ``triples_raw``.

    Greedy leftmost-longest selection (GazetteerMatcher.find's cursor
    scan: select a candidate iff it starts at/after the cursor, advance
    the cursor past it) is expressed in CLOSED FORM over the per-position
    longest candidates — valid because this vocab has only unigrams and
    bigrams, so candidate sizes are {1, 2}; see the s2runs comment.
    """
    n_sent = SENT_EVERY - 1
    return f"""{_vocab_cte(table)},
p AS MATERIALIZED (
  SELECT doc_id, source,
         regexp_replace(text, '(([^ ]+ ){{{n_sent}}}[^ ]+) ', '\\1. ', 'g') AS ptext
  FROM raw
),
-- sentence structure: we inserted '. ' ourselves, so splitting on it is
-- exact; Python keeps the terminator on the 8th token but clean_token
-- strips it, so CLEANED token streams agree.  sent_idx is the 0-based
-- position in the UNFILTERED sentence list.  CAVEAT: textops.
-- split_sentences filters blank sentences BEFORE enumerating, so on an
-- input with a blank sentence slot the Python sent_idx would differ —
-- irrelevant to the gated output (sent_idx is only a partition key
-- here, and '. ' is injected, never doubled, in-domain), but do NOT
-- gate per-sentence indices on this twin without re-aligning that.
sent_lists AS MATERIALIZED (
  SELECT doc_id, string_split(ptext, '. ') AS slst FROM p
),
sents AS MATERIALIZED (
  SELECT doc_id, n.i - 1 AS sent_idx, slst[n.i] AS sent
  FROM sent_lists JOIN nums n ON n.i <= len(slst)
  WHERE trim(slst[n.i], ' ') <> ''
),
stok_lists AS MATERIALIZED (
  -- RAW-empty tokens dropped BEFORE positions are assigned (ascii_split
  -- drops empties, then clean_token runs per kept token — a token that
  -- trims to '' keeps its slot in BOTH engines)
  SELECT doc_id, sent_idx,
         list_filter(string_split(sent, ' '), x -> x <> '') AS tlst
  FROM sents
),
stoks AS MATERIALIZED (
  SELECT doc_id, sent_idx, n.i AS ord,
         trim(tlst[n.i], '{_EDGE_PUNCT_SQL}') AS tok
  FROM stok_lists JOIN nums n ON n.i <= len(tlst)
),
-- candidate matches, longest-per-position (bigram shadows unigram)
m1 AS MATERIALIZED (
  SELECT s.doc_id, s.sent_idx, s.ord AS i, 1 AS size, v.surface
  FROM stoks s JOIN vocab v ON v.ntoks = 1 AND v.surface = s.tok
),
m2 AS MATERIALIZED (
  SELECT a.doc_id, a.sent_idx, a.ord AS i, 2 AS size, v.surface
  FROM stoks a JOIN stoks b
    ON a.doc_id = b.doc_id AND a.sent_idx = b.sent_idx AND b.ord = a.ord + 1
  JOIN vocab v ON v.ntoks = 2 AND v.surface = a.tok || ' ' || b.tok
),
-- MATERIALIZED everywhere is load-bearing, not an optimization: DuckDB
-- 1.0 inlines plain CTEs at every reference, and re-executions of
-- lambda/unnest-bearing producers were observed NONDETERMINISTIC (the
-- same query returning 211/212/213 rows across three runs, doc_id
-- paired to another row's entries).  Materializing pins one evaluation.
cand AS MATERIALIZED (
  SELECT *, row_number() OVER (PARTITION BY doc_id, sent_idx, i
                               ORDER BY size DESC) AS rn
  FROM (SELECT * FROM m1 UNION ALL SELECT * FROM m2)
  QUALIFY rn = 1
),
-- Greedy leftmost-longest selection in CLOSED FORM — no list_reduce.
-- (A list_reduce cursor fold was tried first and DuckDB 1.0 paired one
-- group's key with ANOTHER group's fold result — deterministically on
-- some corpora, nondeterministically on others; the lambda execution
-- itself is the hazard, so the twin now contains NO lambdas downstream
-- of cand.)  With candidate sizes ∈ {1, 2} (this vocab is unigrams +
-- bigrams only), the cursor scan "select iff i >= cursor, advance past"
-- reduces to: a selected size-2 candidate at i-1 suppresses i, every
-- maximal run of consecutive size-2 candidates starts selected (its
-- predecessor is size-1 or absent, neither covers the run head), and
-- selection alternates down the run.  So: candidate at i is selected
-- iff the run of consecutive size-2 candidates immediately before i
-- has EVEN length — gaps-and-islands over the size-2 positions.
s2runs AS MATERIALIZED (
  SELECT doc_id, sent_idx, min(i) AS a, max(i) AS b
  FROM (SELECT doc_id, sent_idx, i,
               i - row_number() OVER (PARTITION BY doc_id, sent_idx
                                      ORDER BY i) AS grp
        FROM cand WHERE size = 2)
  GROUP BY doc_id, sent_idx, grp
),
men AS MATERIALIZED (
  SELECT c.doc_id, c.sent_idx, c.i, c.size, c.surface,
         row_number() OVER (PARTITION BY c.doc_id, c.sent_idx
                            ORDER BY c.i) AS midx
  FROM cand c LEFT JOIN s2runs s
    ON s.doc_id = c.doc_id AND s.sent_idx = c.sent_idx
   AND s.a <= c.i - 1 AND c.i - 1 <= s.b
  WHERE s.a IS NULL OR (c.i - s.a) % 2 = 0
),
-- cue occurrences, 1-based [cs, ce) spans, ordered like find_cues
cues AS MATERIALIZED (
  SELECT doc_id, sent_idx, ord AS cs, ord + 1 AS ce, 'runs_slow' AS pred
  FROM stoks WHERE tok = 'slow'
  UNION ALL
  SELECT doc_id, sent_idx, ord, ord + 1, 'runs_fast' FROM stoks WHERE tok = 'fast'
  UNION ALL
  SELECT a.doc_id, a.sent_idx, a.ord, a.ord + 2, 'big_vector_link'
  FROM stoks a JOIN stoks b
    ON a.doc_id = b.doc_id AND a.sent_idx = b.sent_idx AND b.ord = a.ord + 1
  WHERE a.tok = 'big' AND b.tok = 'vector'
),
pairs AS MATERIALIZED (
  SELECT a.doc_id, a.sent_idx, a.midx AS amidx,
         a.surface AS s_a, b.surface AS s_b,
         a.i + a.size AS a_end, b.i AS b_start
  FROM men a JOIN men b
    ON a.doc_id = b.doc_id AND a.sent_idx = b.sent_idx AND b.midx = a.midx + 1
),
-- join + window, NOT a correlated scalar subquery: the correlated form
-- was observed to CORRUPT the sibling mentions branch of the final UNION
-- (DuckDB 1.0; same family as the CTE-inlining hazard above)
paircue AS MATERIALIZED (
  SELECT p.doc_id, p.sent_idx, p.amidx, c.pred,
         row_number() OVER (PARTITION BY p.doc_id, p.sent_idx, p.amidx
                            ORDER BY c.cs, c.ce) AS rn
  FROM pairs p JOIN cues c
    ON c.doc_id = p.doc_id AND c.sent_idx = p.sent_idx
   AND c.cs >= p.a_end AND c.ce <= p.b_start
),
pairpred AS MATERIALIZED (
  SELECT p.doc_id, p.s_a, p.s_b,
         coalesce(c.pred, 'co_occurs_with') AS pred
  FROM pairs p LEFT JOIN paircue c
    ON c.doc_id = p.doc_id AND c.sent_idx = p.sent_idx
   AND c.amidx = p.amidx AND c.rn = 1
),
triples_raw AS MATERIALIZED (
  -- NULL/empty guard mirrors extract.py's tool coercion + extract_turn's
  -- `if tool:` — a sourceless doc emits NO uses_tool triple
  SELECT doc_id, 'conv:' || doc_id AS subj, 'uses_tool' AS pred,
         'tool:' || source AS obj
  FROM raw
  WHERE source IS NOT NULL AND source <> ''
  UNION ALL
  SELECT doc_id, 'conv:' || doc_id, 'mentions', 'srf:' || surface FROM men
  UNION ALL
  SELECT doc_id, 'srf:' || s_a, pred, 'srf:' || s_b FROM pairpred
)"""


def extract_docs_sql(table: str = "documents") -> str:
    """From-scratch SQL re-derivation of extract_docs (see _docs_cte)."""
    return f"WITH {_docs_cte(table)}\nSELECT doc_id, subj, pred, obj FROM triples_raw"


def extract_docs_resolved_sql(table: str = "documents") -> str:
    """extract_docs + the S5 resolve layer: ``srf:<surface>`` → ``ent:<id>``
    via the derived vocab (identity entity map); rows whose srf: operand has
    no mapping are dropped — pipeline.materialize._resolve's exact guard
    (vacuous under this closed gazetteer, kept for drop-semantics parity)."""
    return f"""WITH {_docs_cte(table)}
SELECT t.doc_id,
       CASE WHEN t.subj LIKE 'srf:%' THEN 'ent:' || vs.eid ELSE t.subj END AS subj,
       t.pred,
       CASE WHEN t.obj LIKE 'srf:%' THEN 'ent:' || vo.eid ELSE t.obj END AS obj
FROM triples_raw t
LEFT JOIN vocab vs ON t.subj LIKE 'srf:%' AND vs.surface = substr(t.subj, 5)
LEFT JOIN vocab vo ON t.obj LIKE 'srf:%' AND vo.surface = substr(t.obj, 5)
WHERE (t.subj NOT LIKE 'srf:%' OR vs.eid IS NOT NULL)
  AND (t.obj NOT LIKE 'srf:%' OR vo.eid IS NOT NULL)
"""


def docs_components_sql(table: str = "documents") -> str:
    """Recursive-CTE twin of docs_components: min-label reachability.

    ``walk`` enumerates (node, reachable-ancestor-label) pairs over the
    symmetrized edge set to fixpoint (UNION dedups, so the iteration space
    is bounded by |V|²); min(label) per node is the component minimum —
    the same canonical the large-star/small-star loop converges to."""
    return f"""WITH RECURSIVE {_vocab_cte(table)},
vt AS MATERIALIZED (
  -- join-by-index, not unnest (see the hazard note in _vocab_cte)
  SELECT eid, slst[n.i] AS tok
  FROM (SELECT eid, string_split(surface, ' ') AS slst FROM vocab) v
  JOIN nums n ON n.i <= len(slst)
),
edges AS MATERIALIZED (
  SELECT DISTINCT x.eid AS a, y.eid AS b
  FROM vt x JOIN vt y ON x.tok = y.tok AND x.eid < y.eid
),
sym AS MATERIALIZED (
  SELECT a, b FROM edges UNION SELECT b, a FROM edges
),
walk(node, comp) AS (
  SELECT eid, eid FROM vocab
  UNION
  SELECT s.b, w.comp FROM walk w JOIN sym s ON s.a = w.node
)
SELECT CAST(node AS BIGINT) AS entity_id,
       CAST(min(comp) AS BIGINT) AS canonical_id
FROM walk GROUP BY node
"""
