"""Linking + connected-components tests (FIXTURES.md §5 rows 3 & 6)."""

import pandas as pd
import pytest

from kgp.pipeline.cc import connected_components
from kgp.pipeline.link import link_candidate_edges
from kgp.pipeline.materialize import materialize


def _uf_components(edges: list[tuple[int, int]], nodes: set[int]) -> dict[int, int]:
    parent: dict[int, int] = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in nodes}


def test_cc_matches_union_find_on_random_graphs(spark):
    """Both the distributed loop (threshold=0) and the small-graph driver
    shortcut must equal the reference union-find."""
    import numpy as np

    for seed in (0, 1, 2):
        rng = np.random.default_rng(seed)
        n = 200
        m = int(rng.integers(50, 400))
        e = [(int(rng.integers(n)), int(rng.integers(n))) for _ in range(m)]
        e = [(a, b) for a, b in e if a != b]
        edf = spark.createDataFrame(pd.DataFrame(e, columns=["a", "b"]))
        nodes = {x for ab in e for x in ab}
        want = set(_uf_components(e, nodes).items())
        for threshold in (0, 10 ** 6):  # distributed path / driver shortcut
            got = {(int(r["entity_id"]), int(r["canonical_id"]))
                   for r in connected_components(
                       edf, small_graph_threshold=threshold).collect()}
            assert got == want, f"seed {seed} threshold {threshold}"


def test_cc_fixpoint_bound(spark):
    # a 64-node path graph (worst case for min propagation) still converges
    # on the distributed path
    e = [(i, i + 1) for i in range(63)]
    edf = spark.createDataFrame(pd.DataFrame(e, columns=["a", "b"]))
    res = connected_components(edf, max_iter=10, small_graph_threshold=0).collect()
    assert all(int(r["canonical_id"]) == 0 for r in res)


def test_cc_empty_edges(spark):
    edf = spark.createDataFrame([], schema="a long, b long")
    assert connected_components(edf).count() == 0


def test_driver_union_find_returns_local_relation(spark):
    """The small-graph result goes back through Arrow as a local relation,
    not a Python RDD (which would start a second Python worker pool)."""
    from kgp.pipeline.cc import _driver_union_find

    e0 = spark.createDataFrame(pd.DataFrame({"a": [1, 2, 5], "b": [2, 3, 6]}))
    res = _driver_union_find(e0)
    assert "LogicalRDD" not in res._jdf.queryExecution().analyzed().toString()
    assert res.schema.simpleString() == "struct<entity_id:bigint,canonical_id:bigint>"
    assert {(r["entity_id"], r["canonical_id"]) for r in res.collect()} == {
        (1, 1), (2, 1), (3, 1), (5, 5), (6, 5)}


def test_link_edges_all_verified(spark, small_vocab, small_spark_inputs):
    """Every emitted link edge satisfies the spec's verification predicate."""
    from kgp import linkspec

    _, vdf = small_spark_inputs
    edges = link_candidate_edges(vdf).toPandas()
    names = dict(small_vocab[["entity_id", "canonical_name"]].itertuples(index=False))
    surfaces: dict[int, set] = {}
    for eid, name, aliases in small_vocab[["entity_id", "canonical_name", "aliases"]].itertuples(index=False):
        surfaces[eid] = {name, *aliases}
    from kgp.textops import normalize_surface
    for a, b in edges.itertuples(index=False):
        norm_a = {normalize_surface(s) for s in surfaces[a]}
        norm_b = {normalize_surface(s) for s in surfaces[b]}
        ok = bool(norm_a & norm_b) or linkspec.verify_pair(names[a], names[b])
        assert ok, f"unverified edge {a}-{b}: {names[a]!r} vs {names[b]!r}"


def test_blocking_catches_short_and_subset_names(spark):
    """ADVICE regression: pairs whose only shared token is SHORT must still
    block (df cap, not length, gates token blocks), and acronym-subset
    pairs (always score 100) must link.  Typo pairs share a deletion-
    neighborhood key deterministically."""
    from kgp import linkspec

    vocab = spark.createDataFrame(
        [(1, "IBM", "inst", []), (2, "IBM Corp", "inst", []),
         (3, "Eva Jensen", "person", []), (4, "Eva Jnsen", "person", []),
         (5, "Unrelated Name", "person", [])],
        "entity_id long, canonical_name string, entity_type string, aliases array<string>")
    edges = {(r["a"], r["b"]) for r in link_candidate_edges(vocab).collect()}
    assert (1, 2) in edges    # subset name via short token 'ibm'
    assert (3, 4) in edges    # typo pair
    # deletion-neighborhood guarantee: 1-edit tokens share a key
    assert set(linkspec.token_deletions("jensen")) & set(linkspec.token_deletions("jnsen"))


def test_token_set_ratio_ge_equivalence():
    """The short-circuited threshold form must equal the exact form."""
    import random

    from kgp.fuzzy import token_set_ratio, token_set_ratio_ge

    rng = random.Random(11)
    words = ["eva", "jensen", "jnsen", "ibm", "corp", "aalborg", "universitetet",
             "for", "miljo", "per", "lund", "q", ""]
    for _ in range(2000):
        a = " ".join(rng.sample(words, rng.randint(1, 4))).strip()
        b = " ".join(rng.sample(words, rng.randint(1, 4))).strip()
        for thr in (40.0, 85.0, 99.0):
            assert (token_set_ratio(a, b) >= thr) == token_set_ratio_ge(a, b, thr), (a, b, thr)


def test_salt_invariance(spark, small_run, small_spark_inputs):
    """Same edges content for any salt bucket count (FIXTURES.md skew row)."""
    t, v = small_spark_inputs
    keys = ["conv_id", "src", "dst", "pred", "ts"]
    base = None
    for salt in (1, 32):
        _, _, edges = materialize(
            small_run["raw_triples"], small_run["ordered"], small_run["entity_map"], v,
            salt_buckets=salt,
        )
        cur = edges.toPandas()[keys].sort_values(keys).reset_index(drop=True)
        if base is None:
            base = cur
        else:
            pd.testing.assert_frame_equal(base, cur)


def test_distributed_cc_on_star_is_exact(spark):
    """A 300-spoke hub through the distributed loop gives the exact
    assignment: every spoke canonicalizes to the hub."""
    star = spark.createDataFrame(
        pd.DataFrame([(0, i) for i in range(1, 301)], columns=["a", "b"]))
    got = {(int(r["entity_id"]), int(r["canonical_id"]))
           for r in connected_components(star, small_graph_threshold=0).collect()}
    assert got == {(i, 0) for i in range(301)}
