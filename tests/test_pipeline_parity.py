"""Spark pipeline vs pandas oracle — the BASELINE.json correctness gates.

- per-turn text equality under stable (conv_id, turn_idx, ts) ordering
- mention-set equality
- distinct-triple precision/recall >= 0.95 (observed: 1.0)
- entity_map / nodes exact equality
"""

import pandas as pd


def _pdf(df, keys):
    p = df.toPandas().sort_values(keys).reset_index(drop=True)
    return p


def test_per_turn_text_equality(small_run, small_oracle):
    sp = _pdf(small_run["ordered"].select("conv_id", "turn_idx", "text"), ["conv_id", "turn_idx"])
    op = small_oracle["ordered"][["conv_id", "turn_idx", "text"]].sort_values(
        ["conv_id", "turn_idx"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(sp, op)


def test_ordered_clustered_by_conversation(small_run):
    """S1 output is conv-clustered and turn-sorted within partitions."""
    from pyspark.sql import functions as F

    df = small_run["ordered"].withColumn("pid", F.spark_partition_id())
    # each conversation lives in exactly one partition
    assert df.groupBy("conv_id").agg(F.countDistinct("pid").alias("n")).filter("n > 1").count() == 0


def test_mentions_equal(small_run, small_oracle):
    keys = ["conv_id", "turn_idx", "sent_idx", "mention"]
    sp = _pdf(small_run["mentions"], keys)
    op = small_oracle["mentions"].sort_values(keys).reset_index(drop=True)[sp.columns.tolist()]
    pd.testing.assert_frame_equal(sp, op)


def test_triple_precision_recall(small_run, small_oracle):
    st = set(map(tuple, small_run["triples"].select("subj", "pred", "obj").distinct()
                 .toPandas().itertuples(index=False)))
    ot = set(map(tuple, small_oracle["triples"][["subj", "pred", "obj"]]
                 .drop_duplicates().itertuples(index=False)))
    inter = len(st & ot)
    precision, recall = inter / len(st), inter / len(ot)
    assert precision >= 0.95, f"precision {precision:.4f}"
    assert recall >= 0.95, f"recall {recall:.4f}"


def test_entity_map_exact(small_run, small_oracle):
    keys = ["surface", "entity_id"]
    sp = _pdf(small_run["entity_map"], keys)
    op = small_oracle["entity_map"].sort_values(keys).reset_index(drop=True)[sp.columns.tolist()]
    pd.testing.assert_frame_equal(sp, op)


def test_nodes_exact(small_run, small_oracle):
    sp = _pdf(small_run["nodes"], ["canonical_id"])
    op = small_oracle["nodes"].sort_values(["canonical_id"]).reset_index(drop=True)[sp.columns.tolist()]
    pd.testing.assert_frame_equal(sp, op)


def test_edges_match(small_run, small_oracle):
    keys = ["conv_id", "src", "dst", "pred", "ts"]
    sp = _pdf(small_run["edges"], keys)[keys]
    op = small_oracle["edges"][keys].sort_values(keys).reset_index(drop=True)
    pd.testing.assert_frame_equal(sp, op)


def test_metrics_lineage_rows(small_run):
    m = small_run["metrics"].toPandas()
    assert set(m["stage"].unique()) >= {"ordered", "extracted", "entity_map", "triples", "nodes", "edges"}
    assert (m["output_rows"] >= 0).all()
    assert m["snapshot_id"].notna().all()


def test_edge_turns_match_oracle(spark):
    """Turns that are whitespace-only (pass order.py's space-only gate but
    yield zero sentences) or contain \\x1f must produce EXACTLY the pandas
    oracle's mentions and triples — including the uses_tool triple of a
    sentence-less turn."""
    from kgp import oracle, synth
    from kgp.pipeline.extract import extract, mentions_view, raw_triples_view
    from kgp.textops import GazetteerMatcher

    vocab_pd = synth.gen_entity_vocab(20)
    ent = vocab_pd["canonical_name"].iloc[0]
    rows = [
        ("c0", 0, "user", "\n", "sql", pd.Timestamp("2025-01-01")),       # ws-only + tool
        ("c0", 1, "user", "\t \n", None, pd.Timestamp("2025-01-01 00:01")),  # ws-only, no tool
        ("c0", 2, "user", f"a\x1fb. {ent} did things.", "web",
         pd.Timestamp("2025-01-01 00:02")),                                # \x1f in text
        ("c0", 3, "user", f"{ent} said hello.", None,
         pd.Timestamp("2025-01-01 00:03")),
    ]
    ordered_pd = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"])
    surface_rows = synth.vocab_surface_rows(vocab_pd)
    got = extract(spark.createDataFrame(ordered_pd), surface_rows)
    want_m, want_t = oracle.extract(ordered_pd, GazetteerMatcher(surface_rows))

    def rows_of(pdf, keys):
        return sorted(map(tuple, pdf[keys].itertuples(index=False)))

    m_keys = ["conv_id", "turn_idx", "sent_idx", "mention", "entity_type"]
    t_keys = ["conv_id", "turn_idx", "subj", "pred", "obj"]
    assert rows_of(mentions_view(got).toPandas(), m_keys) == rows_of(want_m, m_keys)
    assert rows_of(raw_triples_view(got).toPandas(), t_keys) == rows_of(want_t, t_keys)
    assert len(want_m) > 0
    # the sentence-less tool turn IS present with its uses_tool triple
    by_turn = {r["turn_idx"]: [tuple(t) for t in r["triples"]] for r in got.collect()}
    assert 0 in by_turn and ("conv:c0", "uses_tool", "tool:sql") in by_turn[0]
    assert 1 in by_turn and by_turn[1] == []
