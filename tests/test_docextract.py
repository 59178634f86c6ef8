"""kgp_extract_docs — the flagship extractor's hash-gated documents-corpus
oracle (ops.docextract): Spark (real pipeline.extract operator) must equal
the from-scratch DuckDB re-derivation row-multiset-exactly, and the entry
must exercise EVERY triple family (mentions, both cue preds, the 2-token
cue, the co_occurs default, uses_tool)."""

from __future__ import annotations

import duckdb
import pytest

from kgp.ops.docextract import (DOC_CUES, derive_vocab, docs_components,
                                docs_components_sql, extract_docs,
                                extract_docs_resolved,
                                extract_docs_resolved_sql, extract_docs_sql)
from kgp.textops import GazetteerMatcher, extract_turn, find_cues
from tools.check_parity import driver_canon

SF = "/root/testdata/sf0.001"


def test_docs_extraction_matches_duckdb(spark):
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF}/documents.parquet'")
    odf = driver_canon(con.execute(extract_docs_sql()).df())
    sdf = driver_canon(extract_docs(spark, SF).toPandas())
    assert len(sdf) == len(odf) > 10_000
    assert sdf.equals(odf)
    # non-vacuous: every triple family fires on the fixture corpus
    preds = set(sdf["pred"])
    assert {"mentions", "uses_tool", "co_occurs_with",
            "runs_slow", "runs_fast", "big_vector_link"} <= preds


def test_docs_resolved_matches_duckdb(spark):
    """Chain stage 2 (the real pipeline.materialize resolve) equals the SQL
    resolution layer, and no srf: operand survives (closed gazetteer)."""
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF}/documents.parquet'")
    odf = driver_canon(con.execute(extract_docs_resolved_sql()).df())
    sdf = driver_canon(extract_docs_resolved(spark, SF).toPandas())
    assert len(sdf) == len(odf) > 10_000
    assert sdf.equals(odf)
    assert not sdf["subj"].str.startswith("srf:").any()
    assert not sdf["obj"].str.startswith("srf:").any()
    assert sdf["subj"].str.startswith("ent:").any()


def test_docs_components_match_recursive_cte(spark):
    """Chain stage 3: the REAL distributed large-star/small-star CC loop
    (threshold=0) equals the recursive-CTE min-label twin, and the
    surface-variant graph is non-trivial (several multi-node components
    AND isolated nodes — a collapsed or fully-merged result would fail)."""
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF}/documents.parquet'")
    odf = driver_canon(con.execute(docs_components_sql()).df())
    sdf = driver_canon(docs_components(spark, SF).toPandas())
    assert sdf.equals(odf)
    sizes = sorted(odf.groupby("canonical_id").size())
    assert len(odf) == len(set(odf["entity_id"]))
    assert sizes[-1] >= 3 and sizes[0] == 1 and len(sizes) >= 3
    # canonical is the component MIN: every canonical maps to itself
    canon_ids = set(odf["canonical_id"])
    self_map = odf[odf["entity_id"].isin(canon_ids)]
    assert (self_map["entity_id"] == self_map["canonical_id"]).all()


def test_derived_vocab_is_deterministic_and_cue_free(spark):
    rows = derive_vocab(spark, SF)
    assert rows == derive_vocab(spark, SF)
    surfaces = [s for s, _eid, _t in rows]
    assert len(surfaces) == len(set(surfaces))
    reserved = {w for _p, cue in DOC_CUES for w in cue}
    for s in surfaces:
        assert not (set(s.split()) & reserved), s


def test_cue_override_changes_predicates_only():
    vocab = [("alpha", 1, "term"), ("beta", 2, "term")]
    m = GazetteerMatcher(vocab)
    text = "alpha zz beta."
    # default cue dict: 'zz' is no cue -> co_occurs default
    _, t_default = extract_turn("c", 0, text, None, m)
    # override: 'zz' becomes a cue
    _, t_cue = extract_turn("c", 0, text, None, m,
                            cue_toks=[("linked_by", ("zz",))])
    pair_d = [t for t in t_default if t[2].startswith("srf:")]
    pair_c = [t for t in t_cue if t[2].startswith("srf:") and
              not t[3] == "mentions"]
    assert [t[3] for t in pair_d if t[3] != "mentions"] == ["co_occurs_with"]
    assert [t[3] for t in pair_c] == ["linked_by"]
    # multi-token cue positions come from find_cues with the override
    hits = find_cues("a zz yy b", cue_toks=[("x", ("zz", "yy"))])
    assert hits == [("x", 1, 3)]


def test_adversarial_corpus_parity(spark, tmp_path):
    """The review-found domain edges, pinned: multi-space runs (empty-token
    compaction + bigram adjacency), NULL/empty source (no uses_tool
    triple), short docs, exact-8-token docs, trailing spaces."""
    import pandas as pd

    texts = [
        ("alpha  beta gamma alpha beta " * 6).strip(),       # double space
        "alpha beta gamma delta eps zeta eta theta",          # exactly 8 toks
        "alpha",                                              # single token
        "alpha beta  ",                                       # trailing spaces
        ("gamma slow delta fast eps big vector zeta " * 4).strip(),  # cues
    ] * 3
    pdf = pd.DataFrame({
        "doc_id": range(len(texts)),
        "text": texts,
        "lang": "en",
        "source": [None, "", "srcx", "srcy", "srcz"] * 3,
        "n_chars": [len(t) for t in texts],
    })
    d = str(tmp_path / "adv")
    spark.createDataFrame(pdf).coalesce(1).write.parquet(f"{d}/documents.parquet")
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{d}/documents.parquet/*.parquet'")
    odf = driver_canon(con.execute(extract_docs_sql()).df())
    sdf = driver_canon(extract_docs(spark, d).toPandas())
    assert sdf.equals(odf)
    # NULL and '' source docs emit no uses_tool triple on either engine
    tools = sdf[sdf["pred"] == "uses_tool"]
    assert set(tools["obj"]) == {"tool:srcx", "tool:srcy", "tool:srcz"}
    assert len(tools) == 9


def _pairs(triples):
    return [(s[4:], p, o[4:]) for _c, _t, s, p, o in triples
            if s.startswith("srf:")]


def test_pair_rule_strictly_between():
    cues = [("zzp", ("zz",))]
    # cue strictly between the two mention spans -> fires
    m = GazetteerMatcher([("alpha beta", 1, "phrase"), ("gamma", 2, "term")])
    _, t = extract_turn("c", 0, "alpha beta zz gamma.", None, m, cues)
    assert _pairs(t) == [("alpha beta", "zzp", "gamma")]
    # cue INSIDE the first mention's span -> default predicate
    m2 = GazetteerMatcher([("alpha zz", 1, "phrase"), ("gamma", 2, "term")])
    _, t2 = extract_turn("c", 0, "alpha zz gamma.", None, m2, cues)
    assert _pairs(t2) == [("alpha zz", "co_occurs_with", "gamma")]


# ---------------------------------------------------------------------------
# Property sweep: the DuckDB twin vs a pure-Python THIRD implementation
# (textops.extract_turn + a python vocab derivation) over random corpora.
# No Spark in the loop — the Spark↔Python bit-identity is pinned by the
# parity tests above; this sweeps the SQL twin across the input domain.
# ---------------------------------------------------------------------------

from collections import Counter  # noqa: E402

import pandas as pd  # noqa: E402
from hypothesis import given, settings, strategies as st  # noqa: E402

from kgp.ops.docextract import (_CUE_WORDS, N_BIGRAMS, N_UNIGRAMS,  # noqa: E402
                                _PERIOD_PAT)

_ALPHABET = ["alpha", "beta", "gamma", "delta", "eps", "zeta",
             "slow", "fast", "big", "vector"]


def _py_vocab(texts):
    toks_per_doc = [[t for t in tx.split(" ") if t] for tx in texts]
    uni = Counter(t for toks in toks_per_doc for t in toks
                  if t not in _CUE_WORDS)
    bi = Counter(f"{a} {b}" for toks in toks_per_doc
                 for a, b in zip(toks, toks[1:])
                 if a not in _CUE_WORDS and b not in _CUE_WORDS)
    top_u = sorted(uni.items(), key=lambda kv: (-kv[1], kv[0]))[:N_UNIGRAMS]
    top_b = sorted(bi.items(), key=lambda kv: (-kv[1], kv[0]))[:N_BIGRAMS]
    rows = [(s, rk, "term") for rk, (s, _c) in enumerate(top_u, 1)]
    rows += [(s, 100 + rk, "phrase") for rk, (s, _c) in enumerate(top_b, 1)]
    return rows


def _py_extract(texts, sources):
    import re

    rows = _py_vocab(texts)
    m = GazetteerMatcher(rows)
    out = []
    for i, (tx, src) in enumerate(zip(texts, sources)):
        ptext = re.sub(_PERIOD_PAT, r"\1. ", tx)
        tool = src if isinstance(src, str) and src else None
        _men, trip = extract_turn(str(i), 0, ptext, tool, m, DOC_CUES)
        out.extend((str(i), s, p, o) for _c, _t, s, p, o in trip)
    return sorted(out)


@settings(max_examples=25, deadline=None)
@given(st.data())
def test_sql_twin_matches_python_on_random_corpora(data):
    n_docs = data.draw(st.integers(2, 8))
    texts, sources = [], []
    for i in range(n_docs):
        n_tok = data.draw(st.integers(0, 30))
        toks = [data.draw(st.sampled_from(_ALPHABET)) for _ in range(n_tok)]
        texts.append(" ".join(toks))
        sources.append(data.draw(st.sampled_from(["srcx", "srcy", "", None])))
    pdf = pd.DataFrame({
        "doc_id": range(n_docs), "text": texts, "lang": "en",
        "source": pd.array(sources, dtype="string"),
        "n_chars": [len(t) for t in texts],
    })
    con = duckdb.connect()
    con.register("documents", pdf)
    got = sorted(map(tuple, con.execute(extract_docs_sql()).df()
                     [["doc_id", "subj", "pred", "obj"]].itertuples(index=False)))
    assert got == _py_extract(texts, sources)
