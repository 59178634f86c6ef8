"""Round-4 review/advice fixes, each pinned by a test:

1. cc.py's distributed window-form loop must equal the driver
   union-find, across the periodic localCheckpoint (lineage bound);
2. the fused round's plan keeps three exchanges and no join;
3. ann_recall is a quality GATE: floors asserted inside the entry,
   quantized int output;
4. _a3_dense_ids' unpartitioned window runs on the distinct set only;
5. pin()/release_pins() is thread-safe.
"""

from __future__ import annotations

import importlib
import random
import threading

import pytest
from pyspark.sql import functions as F

from kgp.pipeline.cc import CHECKPOINT_EVERY, connected_components
from kgp.ops import simsearch
from kgp.ops.common import pin, release_pins
from kgp.ops.tables import load

cc_mod = importlib.import_module("kgp.pipeline.cc")

SF = "/root/testdata/sf0.001"


def _random_edges(rng, n_nodes, n_edges):
    return [(rng.randrange(n_nodes), rng.randrange(n_nodes))
            for _ in range(n_edges)]


def test_window_cc_matches_union_find(spark, monkeypatch):
    rng = random.Random(4)
    edges = _random_edges(rng, 400, 900) + [(i, i + 1) for i in range(120)]
    # a shuffled 200-node path on fresh ids needs enough rounds that the
    # CHECKPOINT_EVERY localCheckpoint fires inside the loop
    path = list(range(1000, 1200))
    random.Random(4).shuffle(path)
    edges += list(zip(path, path[1:]))
    edf = spark.createDataFrame(edges, "a long, b long")

    digests = []
    digest = cc_mod._digest
    monkeypatch.setattr(cc_mod, "_digest",
                        lambda e: digests.append(1) or digest(e))
    window_form = {(r["entity_id"], r["canonical_id"])
                   for r in connected_components(
                       edf, small_graph_threshold=0).collect()}
    # one digest of the input, then one per round
    assert len(digests) - 1 > CHECKPOINT_EVERY
    # the loop runs in the caller's session with constraint propagation on
    assert spark.conf.get("spark.sql.constraintPropagation.enabled") == "true"
    exact = {(r["entity_id"], r["canonical_id"])
             for r in connected_components(edf).collect()}  # union-find
    assert window_form == exact


def test_checkpoint_cadence_constant_sane():
    assert 2 <= CHECKPOINT_EVERY <= 10


def test_fused_round_matches_star_pair(spark):
    from kgp.pipeline.cc import _large_star, _round_fused, _small_star

    rng = random.Random(23)
    for seed_edges in (_random_edges(rng, 60, 250),
                       [(i, i + 1) for i in range(40)] + [(0, 39)]):
        edf = (spark.createDataFrame(seed_edges, "a long, b long")
               .filter(F.col("a") != F.col("b")).distinct())
        pair = {tuple(r) for r in _small_star(_large_star(edf)).collect()}
        fused = {tuple(r) for r in _round_fused(edf).collect()}
        assert pair == fused and len(fused) > 0


def test_fused_round_plan_has_three_exchanges(spark):
    from kgp.pipeline.cc import _round_fused

    edf = spark.range(500).select((F.col("id") % 83).alias("a"),
                                  (F.col("id") % 31 + 100).alias("b"))
    plan = _round_fused(edf)._jdf.queryExecution().executedPlan().toString()
    # large window (hash a) + small repartition (hash a') + final distinct:
    # the intermediate distinct's 4th exchange must not reappear
    assert plan.count("Exchange hashpartitioning") == 3
    # no join anywhere in the round, so the loop session needs no
    # broadcast guard
    assert "Join" not in plan


def _lsh_index(spark, emb, out_dir):
    simsearch.build_lsh_index(emb, str(out_dir))
    return simsearch.load_lsh_index(spark, str(out_dir))


def test_ann_recall_gate_passes_and_quantizes(spark, tmp_path):
    emb = load(spark, SF, "embeddings")
    df = simsearch.ann_recall_at_k(
        emb, _lsh_index(spark, emb, tmp_path), max_qid=10, k=5,
        min_recall={"lsh": 0.0, "ivf": 0.0}).toPandas()
    assert set(df["method"]) == {"lsh", "ivf"}
    assert df["recall_bp"].dtype.kind == "i"
    assert (df["recall_bp"] <= 10000).all() and (df["recall_bp"] >= 0).all()
    release_pins()


def test_ann_recall_gate_trips_on_impossible_floor(spark, tmp_path):
    emb = load(spark, SF, "embeddings")
    with pytest.raises(AssertionError, match="quality gate"):
        simsearch.ann_recall_at_k(emb, _lsh_index(spark, emb, tmp_path),
                                  max_qid=10, k=5,
                                  min_recall={"lsh": 1.01, "ivf": 1.01})
    release_pins()


def test_a3_window_input_is_distinct_set(spark):
    from kgp.queries import _a3_dense_ids

    out = _a3_dense_ids(spark, SF).toPandas()
    n_distinct = load(spark, SF, "events").select("event_type").distinct().count()
    # the unpartitioned window's input cardinality == the distinct count —
    # the documented precondition for the single-task sort being safe
    assert len(out) == n_distinct
    assert sorted(out["type_id"]) == list(range(1, n_distinct + 1))


def test_pin_release_thread_safety(spark):
    df = spark.range(10)
    errors = []

    def hammer():
        try:
            for _ in range(50):
                pin(df.filter(F.col("id") >= 0))
                release_pins()
        except Exception as exc:  # noqa: BLE001
            errors.append(exc)

    threads = [threading.Thread(target=hammer) for _ in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    release_pins()
    assert not errors
