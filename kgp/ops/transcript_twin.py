"""Hash-gated DuckDB twin for the FLAGSHIP transcript pipeline (S1→S5).

Round-3 verdict item #1: ``kgp_triples`` / ``kgp_edges`` were the last
rows-only driver entries because their corpus lived in-process.  With the
corpus persisted (kgp.fixtures — both engines read the same parquet), this
module re-derives the full pipeline FROM SCRATCH in DuckDB SQL:

- S1 ordering/dedup/boilerplate (pipeline/order.py semantics: window
  dedup keep-first over (turn_idx, ts, role, tool) nulls-last, dup_key
  census >= MIN_DUP_GROUP, reference embed_paragraphs.py:20-23 +
  remove_duplicate_paragraphs.py:104-132);
- S2 sentence split + greedy leftmost-longest gazetteer matching + cue
  pair rule + triple emission (textops.split_sentences /
  GazetteerMatcher.find / find_cues / extract_turn, reference
  src/data/extract_entities.py:29-50) — the cursor scan is a RECURSIVE
  CTE advancing one token position per step, exact for ANY surface
  length 1..MAX_SURFACE_TOKENS.  This S2 core (s2_cte) is the only SQL
  definition of extraction: the documents-corpus twin (ops.docextract)
  runs it too, over its own ``ordered``/``nums``/``vocab`` CTEs;
- S3/S4/S5 (edges twin, see transcript_edges_sql): normalized-surface
  equality edges + deletion-neighborhood blocking + df-cap + a
  from-scratch SQL reimplementation of difflib's SequenceMatcher ratio
  (ops.difflib_sql) for the token_set_ratio >= 85 verify
  (entity_alias_mapping.ipynb cell-20), min-label reachability CC
  (recursive CTE), and the materialize resolve join (rdf_graph.ipynb
  cell-16/20/22).

House twin style (see the hazard notes above s2_cte): MATERIALIZED
everywhere, join-by-index instead of unnest, no lambdas downstream of
tokenization, no correlated subquery — DuckDB 1.0's lambda/unnest
executors misassociate rows otherwise.

ORACLE DOMAIN: exact for corpora whose text carries no \\x01 byte (the
sentence-boundary sentinel — RE2 has no lookbehind, so the twin rewrites
``(?<=[.!?])\\s+`` as replace-then-split) and whose non-ASCII content is
limited to characters where DuckDB's and Python's lower() agree (all of
Unicode simple case folding — asserted for the fixture in pytest).  The
SPARK operator is correct for all inputs; the restriction is on how far
the DuckDB cross-check extends.
"""

from __future__ import annotations

from ..textops import (_CUE_TOKS, _EDGE_PUNCT, MAX_SURFACE_TOKENS,
                       MIN_DUP_GROUP, DEFAULT_PAIR_PRED)

_WS_CLASS = "[ \\t\\n\\r\\f\\v]+"      # RE2 escape form of the 6-char class
_WS_CHARS = " \t\n\r\f\v"              # literal form (trim char-set arg)
_SENTINEL = "\x01"                     # sentence-boundary byte (never in-domain)
_EDGE_PUNCT_SQL = _EDGE_PUNCT.replace("'", "''")

# nums ceiling: one shared numbers table bounds every later list length
# (sentence lists, token lists, alias lists) by max(length(text)) + 2 —
# a character count upper-bounds any whitespace-split token count
_NUMS_CEIL = 1_000_000


def _tid_cte(t_path: str) -> str:
    """raw → valid → dedup → keyed/census → ``ordered`` (S1 survivors with
    a surrogate unique turn key ``tid``) + shared ``nums``.

    tid exists because (conv_id, turn_idx) is NOT unique after S1: the
    dedup window is per (conv_id, text), so two different texts may share
    a turn_idx — keying token CTEs on (conv_id, turn_idx) would mix their
    token streams (the same fan-out hazard oracle.extract documents)."""
    return f"""
raw AS MATERIALIZED (
  SELECT conv_id, CAST(turn_idx AS INTEGER) AS turn_idx, role, text, tool, ts
  FROM read_parquet('{t_path}')
),
valid AS MATERIALIZED (
  -- order.py: null ordering keys excluded (D4-ledger'd, not kept);
  -- trim(text) is the ASCII-space-only strip both engines share
  SELECT * FROM raw
  WHERE conv_id IS NOT NULL AND turn_idx IS NOT NULL
    AND length(trim(text, ' ')) > 0
),
dedup AS MATERIALIZED (
  -- exact within-conversation dedup, keep-first over the FULL survivor
  -- key (turn_idx, ts, role, tool) — DuckDB ASC defaults NULLS LAST,
  -- matching the Spark window's asc_nulls_last
  SELECT conv_id, turn_idx, role, text, tool, ts FROM (
    SELECT *, row_number() OVER (
        PARTITION BY conv_id, text
        ORDER BY turn_idx, ts, role, tool) AS rn
    FROM valid) WHERE rn = 1
),
keyed AS MATERIALIZED (
  -- textops.dup_key: lower → 6-class ws collapse → strip(' ') → digit mask
  SELECT *, regexp_replace(
              trim(regexp_replace(lower(text), '{_WS_CLASS}', ' ', 'g'), ' '),
              '[0-9]+', '#', 'g') AS dkey
  FROM dedup
),
badkeys AS MATERIALIZED (
  SELECT dkey FROM keyed GROUP BY dkey HAVING count(*) >= {MIN_DUP_GROUP}
),
ordered AS MATERIALIZED (
  SELECT conv_id, turn_idx, role, text, tool, ts,
         row_number() OVER (ORDER BY conv_id, turn_idx, text) AS tid
  FROM keyed WHERE dkey NOT IN (SELECT dkey FROM badkeys)
),
nums AS MATERIALIZED (
  SELECT g.i
  FROM generate_series(1, {_NUMS_CEIL}) AS g(i),
       (SELECT CASE WHEN max(length(text)) + 2 > {_NUMS_CEIL}
                    THEN CAST(error('transcript twin: turn exceeds the 1e6-char nums ceiling') AS BIGINT)
                    ELSE max(length(text)) + 2 END AS m FROM ordered) b
  WHERE g.i <= b.m
)"""


def _gram_ctes(max_tokens: int) -> str:
    """g1..g{max_tokens}: n-gram candidates over CLEANED tokens
    (clean_token = edge-punct strip), joined with ' ' exactly like
    GazetteerMatcher.find's ``' '.join(toks[i:i+size])``."""
    out = []
    for size in range(1, max_tokens + 1):
        if size == 1:
            out.append("""
g1 AS MATERIALIZED (
  SELECT tid, sent_idx, ord AS i, 1 AS size, tok AS gram FROM stoks
)""")
            continue
        joins = "\n  ".join(
            f"JOIN stoks t{j} ON t{j}.tid = t1.tid AND t{j}.sent_idx = t1.sent_idx"
            f" AND t{j}.ord = t1.ord + {j - 1}" for j in range(2, size + 1))
        gram = " || ' ' || ".join(f"t{j}.tok" for j in range(1, size + 1))
        out.append(f"""
g{size} AS MATERIALIZED (
  SELECT t1.tid, t1.sent_idx, t1.ord AS i, {size} AS size, {gram} AS gram
  FROM stoks t1
  {joins}
)""")
    return ",".join(out)


def _cue_ctes(cue_toks: list[tuple[str, tuple[str, ...]]] | None = None) -> str:
    """One UNION ALL branch per predicate cue, matched over LOWERCASED
    cleaned tokens (find_cues semantics).  ``cue_toks`` has the shape of
    textops._CUE_TOKS and defaults to it, like extract_turn's override;
    the CTE is generated from the list, so editing a cue list cannot
    desynchronize the twin silently."""
    cues = _CUE_TOKS if cue_toks is None else cue_toks
    branches = []
    for pred, words in cues:
        k = len(words)
        joins = "\n  ".join(
            f"JOIN lowtoks w{j} ON w{j}.tid = w1.tid AND w{j}.sent_idx = w1.sent_idx"
            f" AND w{j}.ord = w1.ord + {j - 1}" for j in range(2, k + 1))
        conds = " AND ".join(
            f"w{j}.ltok = '{w}'" for j, w in enumerate(words, start=1))
        branches.append(f"""
  SELECT w1.tid, w1.sent_idx, w1.ord AS cs, w1.ord + {k} AS ce, '{pred}' AS pred
  FROM lowtoks w1
  {joins}
  WHERE {conds}""")
    return "cues AS MATERIALIZED (" + "\n  UNION ALL".join(branches) + "\n)"


def _extract_cte(t_path: str, v_path: str) -> str:
    """The transcript WITH-clause body: S1 (``ordered``, ``nums``) + the
    gazetteer (``vraw`` → ``vocab``) + the shared S2 core → ``triples_raw``
    (conv_id, turn_idx, subj, pred, obj, ts)."""
    return f"""{_tid_cte(t_path)},
-- gazetteer: every distinct surface (canonical + aliases), 1..{MAX_SURFACE_TOKENS} tokens
-- (GazetteerMatcher.__init__ skips longer/empty surfaces); join-by-index
-- over the alias lists, not unnest (hazard notes above s2_cte)
vraw AS MATERIALIZED (
  SELECT entity_id, canonical_name, entity_type, aliases
  FROM read_parquet('{v_path}')
),
vsurf_all AS MATERIALIZED (
  SELECT canonical_name AS surface FROM vraw
  UNION ALL
  SELECT aliases[n.i] FROM vraw JOIN nums n ON n.i <= len(aliases)
),
vocab AS MATERIALIZED (
  SELECT DISTINCT surface, ntoks FROM (
    SELECT surface,
           len(list_filter(string_split_regex(surface, '{_WS_CLASS}'), x -> x <> '')) AS ntoks
    FROM vsurf_all)
  WHERE ntoks BETWEEN 1 AND {MAX_SURFACE_TOKENS}
),{s2_cte()}"""


# DuckDB 1.0 hazard notes — every twin in kgp/ops keeps to these rules:
#
# - NO unnest.  List explosion is JOIN-BY-INDEX: a MATERIALIZED CTE builds
#   the per-row list, a shared ``nums`` numbers table (bounded above every
#   later list length) joins on n.i <= len(lst), and extraction is the
#   plain scalar lst[n.i].  unnest (SELECT-list OR lateral, struct-packed
#   or not) over lambda-producing CTEs was observed to MISALIGN rows (~1%
#   of executions: one row's key paired with another row's list entries —
#   the same query returning 211/212/213 rows across runs, surviving AS
#   MATERIALIZED and single-threaded mode).  With join-by-index the list
#   and its key never separate: the value is a scalar function of the row.
# - MATERIALIZED everywhere is load-bearing, not an optimization: DuckDB
#   inlines plain CTEs at every reference, and re-executions of
#   lambda/unnest-bearing producers were observed NONDETERMINISTIC.
#   Materializing pins one evaluation.
# - No lambdas downstream of tokenization.  A list_reduce cursor fold for
#   the greedy scan paired one group's key with ANOTHER group's fold
#   result — deterministically on some corpora, nondeterministically on
#   others; the lambda execution itself is the hazard, so the scan is a
#   recursive CTE instead.
# - No correlated scalar subquery: the correlated form of the pair-cue
#   lookup was observed to CORRUPT the sibling mentions branch of the
#   final UNION (same family as the CTE-inlining hazard); use join + window.


def s2_cte(cue_toks: list[tuple[str, tuple[str, ...]]] | None = None,
           max_tokens: int = MAX_SURFACE_TOKENS) -> str:
    """The S2 core, ``psent`` → ``triples_raw`` (conv_id, turn_idx, subj,
    pred, obj, ts): sentences → tokens → greedy cursor scan (recursive) →
    mentions/cues/pairs → triple emission (split_sentences /
    GazetteerMatcher.find / find_cues / extract_turn).

    The caller defines three CTEs before it: ``ordered(tid, conv_id,
    turn_idx, text, tool, ts)`` with a unique ``tid`` per row, ``nums(i)``
    covering every sentence and token list length, and ``vocab(surface,
    ntoks)`` with distinct surfaces of 1..``max_tokens`` tokens (only
    n-grams up to that length are built).  ``cue_toks`` overrides the
    predicate cues (textops._CUE_TOKS shape).  Needs ``WITH RECURSIVE``."""
    gram_union = "\n  UNION ALL ".join(
        f"SELECT * FROM g{s}" for s in range(1, max_tokens + 1))
    return f"""
-- S2 sentence structure: RE2 has no lookbehind, so split_sentences'
-- (?<=[.!?])\\s+ becomes replace-terminator-ws-with-sentinel, then split.
psent AS MATERIALIZED (
  SELECT tid, string_split(
           regexp_replace(trim(text, '{_WS_CHARS}'),
                          '([.!?]){_WS_CLASS}', '\\1{_SENTINEL}', 'g'),
           '{_SENTINEL}') AS slst
  FROM ordered
),
sents AS MATERIALIZED (
  -- blank-after-strip sentences dropped (split_sentences filters them);
  -- sent_idx is the UNFILTERED slot — a pure grouping key here, never
  -- emitted (python enumerates the filtered list; blank slots carry no
  -- tokens so the grouping is identical)
  SELECT tid, n.i AS sent_idx, slst[n.i] AS sent
  FROM psent JOIN nums n ON n.i <= len(slst)
  WHERE trim(slst[n.i], '{_WS_CHARS}') <> ''
),
stok_lists AS MATERIALIZED (
  -- ascii_split: 6-class regex split, RAW-empty tokens dropped BEFORE
  -- positions are assigned; a token that CLEANS to '' keeps its slot
  SELECT tid, sent_idx,
         list_filter(string_split_regex(sent, '{_WS_CLASS}'), x -> x <> '') AS tlst
  FROM sents
),
sentn AS MATERIALIZED (
  SELECT tid, sent_idx, len(tlst) AS n FROM stok_lists
),
stoks AS MATERIALIZED (
  SELECT tid, sent_idx, n.i AS ord,
         trim(tlst[n.i], '{_EDGE_PUNCT_SQL}') AS tok
  FROM stok_lists JOIN nums n ON n.i <= len(tlst)
),
lowtoks AS MATERIALIZED (
  SELECT tid, sent_idx, ord, lower(tok) AS ltok FROM stoks
),
{_gram_ctes(max_tokens)},
m_all AS MATERIALIZED (
  SELECT g.tid, g.sent_idx, g.i, g.size, g.gram AS surface
  FROM ({gram_union}) g
  JOIN vocab v ON v.ntoks = g.size AND v.surface = g.gram
),
-- longest candidate per start position (find()'s size DESC preference)
cand AS MATERIALIZED (
  SELECT tid, sent_idx, i, size, surface FROM (
    SELECT *, row_number() OVER (PARTITION BY tid, sent_idx, i
                                 ORDER BY size DESC) AS rn
    FROM m_all) WHERE rn = 1
),
-- the greedy cursor: select the candidate at pos (if any), advance past
-- it (pos + size) else by one — one recursion step per visited position,
-- bounded by the per-sentence token count.  Exact for any size mix.
scan(tid, sent_idx, pos, size, surface) AS (
  SELECT s.tid, s.sent_idx, 1, c.size, c.surface
  FROM sentn s LEFT JOIN cand c
    ON c.tid = s.tid AND c.sent_idx = s.sent_idx AND c.i = 1
  WHERE s.n >= 1
  UNION ALL
  SELECT w.tid, w.sent_idx, w.pos + coalesce(w.size, 1), c.size, c.surface
  FROM scan w
  JOIN sentn s ON s.tid = w.tid AND s.sent_idx = w.sent_idx
  LEFT JOIN cand c
    ON c.tid = w.tid AND c.sent_idx = w.sent_idx
   AND c.i = w.pos + coalesce(w.size, 1)
  WHERE w.pos + coalesce(w.size, 1) <= s.n
),
men AS MATERIALIZED (
  SELECT tid, sent_idx, pos AS i, size, surface,
         row_number() OVER (PARTITION BY tid, sent_idx ORDER BY pos) AS midx
  FROM scan WHERE surface IS NOT NULL
),
{_cue_ctes(cue_toks)},
pairs AS MATERIALIZED (
  SELECT a.tid, a.sent_idx, a.midx AS amidx,
         a.surface AS s_a, b.surface AS s_b,
         a.i + a.size AS a_end, b.i AS b_start
  FROM men a JOIN men b
    ON a.tid = b.tid AND a.sent_idx = b.sent_idx AND b.midx = a.midx + 1
),
-- first cue strictly between the two spans, (cs, ce)-ordered — join +
-- window, NOT a correlated scalar subquery (hazard notes above s2_cte)
paircue AS MATERIALIZED (
  SELECT p.tid, p.sent_idx, p.amidx, c.pred,
         row_number() OVER (PARTITION BY p.tid, p.sent_idx, p.amidx
                            ORDER BY c.cs, c.ce) AS rn
  FROM pairs p JOIN cues c
    ON c.tid = p.tid AND c.sent_idx = p.sent_idx
   AND c.cs >= p.a_end AND c.ce <= p.b_start
),
pairpred AS MATERIALIZED (
  SELECT p.tid, p.s_a, p.s_b, coalesce(c.pred, '{DEFAULT_PAIR_PRED}') AS pred
  FROM pairs p LEFT JOIN paircue c
    ON c.tid = p.tid AND c.sent_idx = p.sent_idx
   AND c.amidx = p.amidx AND c.rn = 1
),
triples_raw AS MATERIALIZED (
  -- extract_turn emission order: the uses_tool literal (``if tool:`` —
  -- NULL and '' both suppress it), per-sentence mentions, pair triples;
  -- ts rides per emitting row (schemas.EXTRACTED)
  SELECT conv_id, turn_idx, 'conv:' || conv_id AS subj, 'uses_tool' AS pred,
         'tool:' || tool AS obj, ts
  FROM ordered WHERE tool IS NOT NULL AND tool <> ''
  UNION ALL
  SELECT o.conv_id, o.turn_idx, 'conv:' || o.conv_id, 'mentions',
         'srf:' || m.surface, o.ts
  FROM men m JOIN ordered o ON o.tid = m.tid
  UNION ALL
  SELECT o.conv_id, o.turn_idx, 'srf:' || p.s_a, p.pred, 'srf:' || p.s_b, o.ts
  FROM pairpred p JOIN ordered o ON o.tid = p.tid
)"""


def _norm_sql(col: str) -> str:
    """textops.normalize_surface: diacritic strip (explicit Nordic map —
    æøå don't decompose under NFKD — then strip_accents for combining
    marks) → lower → 6-class ws collapse → edge strip."""
    expr = col
    for src, dst in (("æ", "ae"), ("ø", "o"), ("å", "a"),
                     ("Æ", "Ae"), ("Ø", "O"), ("Å", "A"), ("ß", "ss")):
        expr = f"replace({expr}, '{src}', '{dst}')"
    strip_chars = (_EDGE_PUNCT + " \t\n\r").replace("'", "''")
    return (f"trim(regexp_replace(lower(strip_accents({expr})), "
            f"'{_WS_CLASS}', ' ', 'g'), '{strip_chars}')")


def cc_ctes(edges: str, nodes_sql: str) -> str:
    """S4 canonicalization twin → ``assign(entity_id, canonical_id)``:
    min-label reachability to fixpoint over the symmetrized ``edges(a, b)``
    CTE, seeded with every node of ``nodes_sql`` (one id column) so
    isolated nodes map to themselves.  The recursive twin of pipeline/cc.py's
    large-star/small-star loop: UNION dedups, so the walk is bounded by
    |V|², and min(label) per node is the component minimum the loop
    converges to.  Needs ``WITH RECURSIVE``."""
    return f"""
sym AS MATERIALIZED (
  SELECT a, b FROM {edges} UNION SELECT b, a FROM {edges}
),
walk(node, comp) AS (
  SELECT id, id FROM ({nodes_sql}) seed(id)
  UNION
  SELECT s.b, w.comp FROM walk w JOIN sym s ON s.a = w.node
),
assign AS MATERIALIZED (
  SELECT node AS entity_id, min(comp) AS canonical_id FROM walk GROUP BY node
)"""


def _linking_cte() -> str:
    """S3+S4+S5 twin: normalized-surface equality edges + deletion-
    neighborhood blocking + df-cap + difflib token_set_ratio verify
    (ops.difflib_sql) + min-label reachability CC + the materialize
    resolve join.  Mirrors pipeline/link.py + linkspec.py + pipeline/cc.py
    + pipeline/materialize.py (reference entity_alias_mapping.ipynb
    cell-20/29, rdf_graph.ipynb cell-16/20/22)."""
    from ..fuzzy import FUZZY_LINK_THRESHOLD
    from ..linkspec import MAX_BLOCK_DF, MIN_DELETION_TOKEN_LEN
    from .difflib_sql import ratio_chain

    return f"""
-- all surfaces (canonical + aliases) with ids: eq edges use EVERY surface
vsurf AS MATERIALIZED (
  SELECT entity_id, canonical_name AS surface FROM vraw
  UNION ALL
  SELECT entity_id, aliases[n.i] FROM vraw JOIN nums n ON n.i <= len(aliases)
),
vnorm AS MATERIALIZED (
  SELECT entity_id, surface, {_norm_sql('surface')} AS norm FROM vsurf
),
-- (a) same-norm star edges (empty norms excluded — punctuation-only
-- aliases would otherwise hard-link unrelated entities; link.py guard)
eq_edges AS MATERIALIZED (
  SELECT DISTINCT mn AS a, entity_id AS b FROM (
    SELECT entity_id, min(entity_id) OVER (PARTITION BY norm) AS mn
    FROM vnorm WHERE norm <> '')
  WHERE entity_id > mn
),
-- (b) deletion-neighborhood blocking over CANONICAL names (linkspec):
-- del-0 is the token itself; del-1 only for tokens >= {MIN_DELETION_TOKEN_LEN} chars
bnames AS MATERIALIZED (
  SELECT entity_id AS id, canonical_name AS name,
         {_norm_sql('canonical_name')} AS nname FROM vraw
),
btl AS MATERIALIZED (
  SELECT id, list_filter(string_split(nname, ' '), t -> t <> '') AS lst
  FROM bnames WHERE nname <> ''
),
btoks AS MATERIALIZED (
  SELECT DISTINCT id, lst[n.i] AS tok FROM btl JOIN nums n ON n.i <= len(lst)
),
bdel AS MATERIALIZED (
  SELECT DISTINCT id, key FROM (
    SELECT id, tok AS key FROM btoks
    UNION ALL
    SELECT t.id, substr(t.tok, 1, n.i - 1) || substr(t.tok, n.i + 1) AS key
    FROM btoks t JOIN nums n ON n.i <= length(t.tok)
    WHERE length(t.tok) >= {MIN_DELETION_TOKEN_LEN})
),
bcap AS MATERIALIZED (
  SELECT key FROM bdel GROUP BY key HAVING count(*) > {MAX_BLOCK_DF}
),
bkeep AS MATERIALIZED (
  SELECT id, key FROM bdel WHERE key NOT IN (SELECT key FROM bcap)
),
bpairs AS MATERIALIZED (
  SELECT DISTINCT l.id AS a, r.id AS b
  FROM bkeep l JOIN bkeep r ON l.key = r.key AND l.id < r.id
),
bpn AS MATERIALIZED (
  SELECT p.a, p.b, x.nname AS na, y.nname AS nb
  FROM bpairs p JOIN bnames x ON x.id = p.a JOIN bnames y ON y.id = p.b
),
-- verify_pair: equal norms auto-pass; the rest go through the difflib twin
vcand AS MATERIALIZED (
  SELECT a * 1000000 + b AS pid, a, b, na, nb FROM bpn WHERE na <> nb
),{ratio_chain('vcand', FUZZY_LINK_THRESHOLD)},
link_edges AS MATERIALIZED (
  SELECT a, b FROM eq_edges
  UNION
  SELECT a, b FROM bpn WHERE na = nb
  UNION
  SELECT c.a, c.b FROM vcand c JOIN dl_pass p ON p.pid = c.pid
),
{cc_ctes("link_edges", "SELECT entity_id FROM vraw")},
-- S5 resolve: surface → min canonical (materialize.surface_map_df)
smap AS MATERIALIZED (
  SELECT s.surface, min(coalesce(a.canonical_id, s.entity_id)) AS cid
  FROM vsurf s LEFT JOIN assign a ON a.entity_id = s.entity_id
  GROUP BY s.surface
)"""


def transcript_triples_sql(t_path: str | None = None,
                           v_path: str | None = None) -> str:
    """From-scratch SQL re-derivation of the flagship S1+S2 output
    (pipeline raw_triples_view over the persisted fixture corpus)."""
    from ..fixtures import TRANSCRIPTS_PATH, VOCAB_PATH, ensure_fixture

    ensure_fixture()
    t_path = t_path or TRANSCRIPTS_PATH
    v_path = v_path or VOCAB_PATH
    return (f"WITH RECURSIVE {_extract_cte(t_path, v_path)}\n"
            "SELECT conv_id, turn_idx, subj, pred, obj, ts FROM triples_raw")


def transcript_nodes_sql(t_path: str | None = None,
                         v_path: str | None = None) -> str:
    """S5 nodes twin: one row per CANONICAL entity (component
    representative) — materialize's ``vocab ⋈ canon WHERE entity_id =
    canonical_id`` re-derived through the same linking/CC chain the edges
    twin uses (rdf_graph.ipynb cell-10..13 node emission)."""
    from ..fixtures import TRANSCRIPTS_PATH, VOCAB_PATH, ensure_fixture

    ensure_fixture()
    t_path = t_path or TRANSCRIPTS_PATH
    v_path = v_path or VOCAB_PATH
    return f"""WITH RECURSIVE {_extract_cte(t_path, v_path)},{_linking_cte()}
SELECT CAST(v.entity_id AS BIGINT) AS canonical_id,
       v.canonical_name AS name, v.entity_type
FROM vraw v JOIN assign a ON a.entity_id = v.entity_id
WHERE a.canonical_id = v.entity_id
"""


def transcript_edges_sql(t_path: str | None = None,
                         v_path: str | None = None) -> str:
    """Full S1..S5 twin: canonical KG edges (src, dst, pred, conv_id, ts)
    from the raw transcripts — pipeline/run.run_pipeline's ``edges``
    output re-derived end to end (ordering, extraction, blocked linking
    with the difflib verify, CC, resolve; materialize keeps ent→ent pair
    triples only and the timestamp rides from S2)."""
    from ..fixtures import TRANSCRIPTS_PATH, VOCAB_PATH, ensure_fixture

    ensure_fixture()
    t_path = t_path or TRANSCRIPTS_PATH
    v_path = v_path or VOCAB_PATH
    return f"""WITH RECURSIVE {_extract_cte(t_path, v_path)},{_linking_cte()}
SELECT CAST(ss.cid AS BIGINT) AS src, CAST(so.cid AS BIGINT) AS dst,
       t.pred, t.conv_id, t.ts
FROM triples_raw t
JOIN smap ss ON ss.surface = substr(t.subj, 5) AND t.subj LIKE 'srf:%'
JOIN smap so ON so.surface = substr(t.obj, 5) AND t.obj LIKE 'srf:%'
"""
