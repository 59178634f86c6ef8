"""Flagship transcript-pipeline DuckDB twin (ops.transcript_twin) +
the from-scratch difflib SequenceMatcher SQL (ops.difflib_sql).

These are the round-4 gates closing VERDICT r3 item #1: kgp_triples /
kgp_edges go from rows-only to full hash gates.  The heavy lifting is the
independence of the oracle — nothing here shares code with the pipeline
beyond module CONSTANTS (cue list, punctuation class, thresholds), so a
bug in textops/link/cc cannot self-confirm.
"""

from __future__ import annotations

import random

import duckdb
import pandas as pd
import pytest

from kgp import fixtures
from kgp.fuzzy import token_set_ratio
from kgp.ops.difflib_sql import ratio_chain
from kgp.ops.transcript_twin import transcript_edges_sql, transcript_triples_sql
# the driver's canonicalizer, as the registry gate replays it
from tools.check_parity import driver_canon, value_hash


# ---------------------------------------------------------------------------
# difflib-in-SQL: property test vs Python difflib
# ---------------------------------------------------------------------------

_WORDS = ["anna", "soren", "jensen", "nielsen", "kobenhavn", "ministeriet",
          "for", "skat", "miljo", "a", "ab", "abc", "styrelsen", "aarhus",
          "direktoratet", "energi", "kommunen", "x", "jnsen", "jensn", ""]


def _sql_pass(pairs: list[tuple[int, str, str]], threshold: float) -> set[int]:
    vals = ", ".join(f"({pid}, '{na}', '{nb}')" for pid, na, nb in pairs)
    sql = f"""WITH
vcand(pid, na, nb) AS (SELECT * FROM (VALUES {vals})),
nums AS MATERIALIZED (SELECT g.i FROM generate_series(1, 300) AS g(i)),
{ratio_chain('vcand', threshold)[1:]}
SELECT pid FROM dl_pass"""
    return {r[0] for r in duckdb.connect().execute(sql).fetchall()}


@pytest.mark.parametrize("threshold", [60.0, 85.0, 95.0])
def test_difflib_sql_matches_python(threshold):
    rng = random.Random(int(threshold))
    pairs = []
    for pid in range(250):
        na = " ".join(w for w in rng.choices(_WORDS, k=rng.randint(1, 5)) if w)
        nb = " ".join(w for w in rng.choices(_WORDS, k=rng.randint(1, 5)) if w)
        if na == nb:
            nb = (nb + " z").strip()
        pairs.append((pid, na, nb))
    # char-level mutations: the regime the 85-threshold actually gates
    for pid in range(250, 330):
        base = " ".join(rng.choices([w for w in _WORDS if w], k=3))
        mut = list(base)
        for _ in range(rng.randint(1, 3)):
            i = rng.randrange(len(mut))
            mut[i] = {"d": "", "i": mut[i] + rng.choice("abcdefgh"),
                      "s": rng.choice("abcdefgh")}[rng.choice("dis")]
        nb = "".join(mut)
        if base == nb:
            nb += "q"
        pairs.append((pid, base, nb))
    got = _sql_pass(pairs, threshold)
    want = {pid for pid, na, nb in pairs if token_set_ratio(na, nb) >= threshold}
    assert got == want


def test_difflib_sql_empty_and_subset_edges():
    pairs = [
        # empty-vs-anything scores 100: inter and inter+diff_a are BOTH
        # empty, and _ratio defines ''-vs-'' as 100 (why linkspec gives
        # empty-norm names no blocking keys at all — they'd merge with
        # everything)
        (0, "", "anything"),
        (1, "ibm", "ibm corp"),       # subset: inter == side a → 100
        (2, "eva jensen", "eva jnsen"),  # classic typo, ~95
        (3, "zz qq", "ww rr"),        # disjoint
    ]
    got = _sql_pass(pairs, 85.0)
    want = {pid for pid, na, nb in pairs if token_set_ratio(na, nb) >= 85.0}
    assert got == want == {0, 1, 2}


# ---------------------------------------------------------------------------
# fixture determinism
# ---------------------------------------------------------------------------

def test_fixture_matches_generator():
    tp, vp = fixtures.ensure_fixture()
    from kgp import synth

    vocab = synth.extend_alias_chains(synth.gen_entity_vocab(fixtures.N_ENT))
    trans = synth.gen_transcripts_pandas(fixtures.N_CONV, vocab)
    trans = trans.assign(ts=trans["ts"].astype("datetime64[us]"))
    on_disk = pd.read_parquet(tp)
    assert trans.equals(on_disk)
    vdisk = fixtures.load_vocab_pd()
    assert list(vdisk["canonical_name"]) == list(vocab["canonical_name"])
    assert [list(a) for a in vdisk["aliases"]] == [list(a) for a in vocab["aliases"]]


# ---------------------------------------------------------------------------
# end-to-end twin parity (the driver gate, replayed locally)
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def fixture_spark_result(spark):
    from kgp.queries import _kgp_edges, _kgp_triples

    triples = driver_canon(_kgp_triples(spark, "unused").toPandas())
    edges = driver_canon(_kgp_edges(spark, "unused").toPandas())
    return triples, edges


def test_triples_twin_hash_parity(fixture_spark_result):
    sdf, _ = fixture_spark_result
    odf = driver_canon(duckdb.connect().execute(transcript_triples_sql()).df())
    assert len(sdf) == len(odf)
    assert value_hash(sdf) == value_hash(odf)


def test_edges_twin_hash_parity(fixture_spark_result):
    _, sdf = fixture_spark_result
    odf = driver_canon(duckdb.connect().execute(transcript_edges_sql()).df())
    assert len(sdf) == len(odf)
    assert value_hash(sdf) == value_hash(odf)


def test_nodes_twin_hash_parity(spark):
    from kgp.ops.transcript_twin import transcript_nodes_sql
    from kgp.queries import _kgp_nodes_canonical

    sdf = driver_canon(_kgp_nodes_canonical(spark, "unused").toPandas())
    odf = driver_canon(duckdb.connect().execute(transcript_nodes_sql()).df())
    assert len(sdf) == len(odf) > 0
    assert value_hash(sdf) == value_hash(odf)
    # the canonical set is a real contraction of the vocab (linking merged)
    assert len(sdf) < fixtures.N_ENT


def test_twin_is_not_vacuous():
    """The gate has teeth: every triple family is populated, linking
    actually merges (some canonical ids own >1 entity), and fuzzy merges
    go beyond same-norm equality."""
    con = duckdb.connect()
    tri = con.execute(transcript_triples_sql()).df()
    preds = set(tri["pred"])
    assert {"mentions", "uses_tool", "co_occurs_with"} <= preds
    assert len(preds) >= 8  # all six cue predicates fire on the corpus
    edges = con.execute(transcript_edges_sql()).df()
    # resolve collapsed surfaces: fewer distinct endpoints than vocab rows
    assert edges["src"].nunique() < fixtures.N_ENT
    assert (edges["src"] != edges["dst"]).any()


def test_fixture_has_deep_component(spark):
    """Round-5 fixture ask (VERDICT r4): the gate corpus must exercise a
    >20-node component and a multi-block candidate set, not just 2-3-node
    merges.  extend_alias_chains' equality bridges + the denser 500-entity
    fuzzy space deliver a ~260-node giant component; assert a conservative
    floor so a generator regression that flattens it turns this red."""
    from kgp import fixtures
    from kgp.pipeline.cc import connected_components
    from kgp.pipeline.link import link_candidate_edges

    vocab = spark.createDataFrame(fixtures.load_vocab_pd())
    edges = link_candidate_edges(vocab)
    asg = connected_components(edges).toPandas()
    sizes = asg.groupby("canonical_id").size()
    assert sizes.max() >= 20
    # and the fuzzy path sees real blocks: multiple non-trivial components
    assert (sizes >= 3).sum() >= 5


def test_lowercase_domain_agreement():
    """dup_key parity precondition: DuckDB lower() and Python .lower()
    agree on every character the fixture corpus contains."""
    tp, _ = fixtures.ensure_fixture()
    texts = pd.read_parquet(tp)["text"].fillna("")
    chars = "".join(sorted(set("".join(texts))))
    got = duckdb.connect().execute("SELECT lower(?)", [chars]).fetchone()[0]
    assert got == chars.lower()
    assert "\x01" not in chars  # sentence-sentinel byte stays out of domain


def test_s2_core_matches_extract_turn_with_cue_override():
    """The shared S2 core on its own: caller-supplied ``ordered``/``vocab``/
    ``nums``, a 3-token surface beside its own 2- and 1-token prefixes
    (greedy leftmost-longest), and an overridden cue list with a 1-token
    and a 2-token cue (matched case-insensitively) — row-multiset equal to
    textops.extract_turn on the same turns."""
    from kgp.ops.transcript_twin import s2_cte
    from kgp.textops import GazetteerMatcher, extract_turn

    surfaces = ["new york city", "new york", "york", "paris", "rome", "big apple"]
    cues = [("near_to", ("near",)), ("next_to", ("next", "to"))]
    turns = [
        ("c1", 0, "New York City was quiet. new york city Near paris, rome!", "search"),
        ("c1", 1, "paris next to new york then york near rome", None),
        ("c2", 0, "  new york city new york york?  big apple next  TO rome. ", ""),
        ("c2", 3, "rome paris. ...  . paris near near rome next", "db"),
    ]
    ordered = pd.DataFrame(
        [(i + 1, c, t, tx, tool, pd.Timestamp("2024-01-01") + pd.Timedelta(hours=i))
         for i, (c, t, tx, tool) in enumerate(turns)],
        columns=["tid", "conv_id", "turn_idx", "text", "tool", "ts"])
    vocab = pd.DataFrame({"surface": surfaces,
                          "ntoks": [len(s.split()) for s in surfaces]})
    con = duckdb.connect()
    con.register("ordered", ordered)
    con.register("vocab", vocab)
    con.register("nums", pd.DataFrame({"i": range(1, 64)}))
    got = sorted(con.execute(
        f"WITH RECURSIVE {s2_cte(cues)}\n"
        "SELECT conv_id, turn_idx, subj, pred, obj FROM triples_raw").fetchall())

    m = GazetteerMatcher([(s, i, "t") for i, s in enumerate(surfaces)])
    exp = sorted(row for c, t, tx, tool in turns
                 for row in extract_turn(c, t, tx, tool, m, cue_toks=cues)[1])
    assert got == exp
    # non-vacuous: the 3-gram matched, and both override cues fired
    assert ("c1", 0, "conv:c1", "mentions", "srf:new york city") in got
    assert {"near_to", "next_to"} <= {p for _c, _t, _s, p, _o in got}
