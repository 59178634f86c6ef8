"""difflib SequenceMatcher.ratio, re-derived from scratch in DuckDB SQL.

The transcript linker verifies candidate pairs with fuzzywuzzy-style
``token_set_ratio >= 85`` (kgp.fuzzy, reference
entity_alias_mapping.ipynb cell-20), whose core is difflib's
``SequenceMatcher.ratio`` = 2*M/T where M is the total size of the
matching blocks from the recursive longest-matching-block decomposition.
To hash-gate the flagship ``kgp_edges`` against an INDEPENDENT engine,
this module generates plain (non-lambda, window-only) SQL that reproduces
that decomposition exactly:

- ``longest_match(alo, ahi, blo, bhi)`` with no junk (names are far below
  difflib's 200-char autojunk threshold — a loud error() guard enforces
  it) selects the maximal common substring of the region, tie-broken by
  smallest a-start then smallest b-start.  SQL form: per string pair,
  enumerate character-equality cells (i, j), group them into maximal
  diagonal runs ("islands": consecutive cells with equal i - j), then per
  region clamp each island to the region window — max clamped length,
  min i, min j IS difflib's choice (the scan updates only on strictly
  greater length, so the first maximal block in (i, j) order wins).
- the recursion (left sub-region, right sub-region around each chosen
  block) is UNROLLED to a fixed depth: each level is one windowed
  choose-block CTE + one child-region CTE, all standard SQL — DuckDB's
  recursive CTEs disallow window functions in the recursive term, and
  the depth is bounded by the a-side length (every level consumes >= 1
  a-character on any root-to-leaf path), so a fixed unroll with an
  any-region-left error() guard is exact, never truncating silently.
- ``token_set_ratio`` builds the three canonical comparisons
  (inter vs inter+diff_a, inter vs inter+diff_b, the two full joins) from
  the token SETS, operands lexicographically swapped like kgp.fuzzy._ratio,
  and passes iff ANY comparison clears the threshold (max-of-3 >= t).

Property-tested against Python difflib on randomized token strings
(tests/test_transcript_twin.py) — the equivalence argument above is backed
by enumeration, not just derivation.
"""

from __future__ import annotations

DEPTH = 32            # unroll bound; names are ~<= 60 chars, typical depth <= 8
AUTOJUNK_LIMIT = 200  # difflib enables autojunk at len(b) >= 200 — out of domain


def ratio_chain(src: str, threshold: float) -> str:
    """CTE chain from ``{src}(pid, na, nb)`` to ``dl_pass(pid)``.

    ``{src}`` rows are candidate pairs whose normalized names are UNEQUAL
    (the caller short-circuits na == nb, like linkspec.verify_pair);
    ``dl_pass`` holds the pids with token_set_ratio >= threshold.
    ``nums`` is a shared 1-based numbers CTE covering max string length.
    """
    p, nums, depth = "dl", "nums", DEPTH
    levels = []
    for lv in range(depth):
        nxt = "" if lv + 1 == depth else f""",
{p}_r{lv + 1} AS MATERIALIZED (
  SELECT pid, cid, alo, bi AS ahi, blo, bj AS bhi
  FROM {p}_b{lv} WHERE bi > alo AND bj > blo
  UNION ALL
  SELECT pid, cid, bi + k, ahi, bj + k, bhi
  FROM {p}_b{lv} WHERE bi + k < ahi AND bj + k < bhi
)"""
        levels.append(f""",
{p}_b{lv} AS MATERIALIZED (
  SELECT pid, cid, alo, ahi, blo, bhi, k, bi, bj FROM (
    SELECT r.pid, r.cid, r.alo, r.ahi, r.blo, r.bhi,
           least(r.ahi, r.bhi + s.diag, s.i1 + 1)
             - greatest(r.alo, r.blo + s.diag, s.i0) AS k,
           greatest(r.alo, r.blo + s.diag, s.i0) AS bi,
           greatest(r.alo, r.blo + s.diag, s.i0) - s.diag AS bj,
           row_number() OVER (
             PARTITION BY r.pid, r.cid, r.alo, r.blo
             ORDER BY least(r.ahi, r.bhi + s.diag, s.i1 + 1)
                      - greatest(r.alo, r.blo + s.diag, s.i0) DESC,
                      greatest(r.alo, r.blo + s.diag, s.i0) ASC,
                      greatest(r.alo, r.blo + s.diag, s.i0) - s.diag ASC) AS rn
    FROM {p}_r{lv} r JOIN {p}_isl s ON s.pid = r.pid AND s.cid = r.cid
    WHERE least(r.ahi, r.bhi + s.diag, s.i1 + 1)
          > greatest(r.alo, r.blo + s.diag, s.i0)
  ) WHERE rn = 1
){nxt}""")
    unrolled = "".join(levels)
    m_union = "\n  UNION ALL ".join(
        f"SELECT pid, cid, k FROM {p}_b{lv}" for lv in range(depth))
    return f"""
-- token sets (python set(x.split()) — norm strings are space-collapsed)
{p}_la AS MATERIALIZED (
  SELECT pid, list_filter(string_split(na, ' '), t -> t <> '') AS lst FROM {src}
),
{p}_lb AS MATERIALIZED (
  SELECT pid, list_filter(string_split(nb, ' '), t -> t <> '') AS lst FROM {src}
),
{p}_ta AS MATERIALIZED (
  SELECT DISTINCT pid, lst[n.i] AS tok FROM {p}_la JOIN {nums} n ON n.i <= len(lst)
),
{p}_tb AS MATERIALIZED (
  SELECT DISTINCT pid, lst[n.i] AS tok FROM {p}_lb JOIN {nums} n ON n.i <= len(lst)
),
-- set ops as semi/anti joins: inside a WITH RECURSIVE list DuckDB 1.0
-- rejects INTERSECT/EXCEPT CTE bodies outright (parser: "Unsupported
-- setop type for recursive CTE"), and the inputs are already DISTINCT
{p}_ti AS MATERIALIZED (
  SELECT a.pid, a.tok FROM {p}_ta a
  JOIN {p}_tb b ON b.pid = a.pid AND b.tok = a.tok
),
{p}_da AS MATERIALIZED (
  SELECT a.pid, a.tok FROM {p}_ta a
  LEFT JOIN {p}_tb b ON b.pid = a.pid AND b.tok = a.tok
  WHERE b.tok IS NULL
),
{p}_db AS MATERIALIZED (
  SELECT b.pid, b.tok FROM {p}_tb b
  LEFT JOIN {p}_ta a ON a.pid = b.pid AND a.tok = b.tok
  WHERE a.tok IS NULL
),
{p}_ai AS MATERIALIZED (
  SELECT pid, string_agg(tok, ' ' ORDER BY tok) AS s FROM {p}_ti GROUP BY pid
),
{p}_aa AS MATERIALIZED (
  SELECT pid, string_agg(tok, ' ' ORDER BY tok) AS s FROM {p}_da GROUP BY pid
),
{p}_ab AS MATERIALIZED (
  SELECT pid, string_agg(tok, ' ' ORDER BY tok) AS s FROM {p}_db GROUP BY pid
),
{p}_strs AS MATERIALIZED (
  SELECT d.pid,
         coalesce(i.s, '') AS s_inter,
         trim(coalesce(i.s, '') || ' ' || coalesce(a.s, ''), ' ') AS s_a,
         trim(coalesce(i.s, '') || ' ' || coalesce(b.s, ''), ' ') AS s_b
  FROM (SELECT DISTINCT pid FROM {src}) d
  LEFT JOIN {p}_ai i ON i.pid = d.pid
  LEFT JOIN {p}_aa a ON a.pid = d.pid
  LEFT JOIN {p}_ab b ON b.pid = d.pid
),
-- the three token_set comparisons, operands swapped lexicographically
-- (kgp.fuzzy._ratio canonicalizes order — SequenceMatcher is asymmetric)
{p}_cmps AS MATERIALIZED (
  SELECT pid, cid, least(u, v) AS x, greatest(u, v) AS y FROM (
    SELECT pid, 0 AS cid, s_inter AS u, s_a AS v FROM {p}_strs
    UNION ALL SELECT pid, 1, s_inter, s_b FROM {p}_strs
    UNION ALL SELECT pid, 2, s_a, s_b FROM {p}_strs)
),
{p}_xch AS MATERIALIZED (
  SELECT pid, cid, n.i - 1 AS i, substr(x, n.i, 1) AS ch
  FROM {p}_cmps JOIN {nums} n ON n.i <= length(x)
),
{p}_ych AS MATERIALIZED (
  SELECT pid, cid, n.i - 1 AS j, substr(y, n.i, 1) AS ch
  FROM (SELECT pid, cid, y,
               CASE WHEN length(y) >= {AUTOJUNK_LIMIT}
                    THEN CAST(error('difflib twin: operand reaches the autojunk threshold') AS VARCHAR)
                    ELSE y END AS _guard
        FROM {p}_cmps) g
  JOIN {nums} n ON n.i <= length(y)
),
-- maximal diagonal runs of character-equality cells
{p}_isl AS MATERIALIZED (
  SELECT pid, cid, diag, min(i) AS i0, max(i) AS i1 FROM (
    SELECT pid, cid, i, i - j AS diag,
           i - row_number() OVER (PARTITION BY pid, cid, i - j ORDER BY i) AS grp
    FROM (SELECT x.pid, x.cid, x.i, y.j
          FROM {p}_xch x JOIN {p}_ych y
            ON y.pid = x.pid AND y.cid = x.cid AND y.ch = x.ch))
  GROUP BY pid, cid, diag, grp
),
{p}_r0 AS MATERIALIZED (
  SELECT pid, cid, 0 AS alo, length(x) AS ahi, 0 AS blo, length(y) AS bhi
  FROM {p}_cmps WHERE length(x) > 0 AND length(y) > 0
){unrolled},
{p}_guard AS MATERIALIZED (
  SELECT CASE WHEN count(*) > 0
              THEN CAST(error('difflib twin: unroll depth {depth} exceeded') AS BIGINT)
              ELSE 0 END AS ok
  FROM {p}_r{depth - 1} r
  WHERE EXISTS (SELECT 1 FROM {p}_b{depth - 1} b
                WHERE b.pid = r.pid AND b.cid = r.cid AND b.alo = r.alo
                  AND b.blo = r.blo
                  AND ((b.bi > b.alo AND b.bj > b.blo)
                       OR (b.bi + b.k < b.ahi AND b.bj + b.k < b.bhi)))
),
{p}_m AS MATERIALIZED (
  SELECT pid, cid, sum(k) AS m FROM ({m_union}) GROUP BY pid, cid
),
{p}_ratio AS MATERIALIZED (
  SELECT c.pid, c.cid,
         CASE WHEN length(c.x) = 0 AND length(c.y) = 0 THEN 100.0
              ELSE 200.0 * coalesce(m.m, 0) / (length(c.x) + length(c.y))
         END AS ratio,
         (SELECT ok FROM {p}_guard) AS _g
  FROM {p}_cmps c LEFT JOIN {p}_m m ON m.pid = c.pid AND m.cid = c.cid
),
{p}_pass AS MATERIALIZED (
  SELECT DISTINCT pid FROM {p}_ratio WHERE ratio >= {threshold}
)"""
