"""Idempotent-resume semantics (FIXTURES.md §5 resume row; reference D3
skip-existing checks, extract_paragraphs_faster.py:20-26)."""

import pytest

from kgp.io import TableIO
from kgp.pipeline import run_pipeline
from kgp.pipeline.run import STAGES, InjectedFailure


def test_kill_and_rerun_identical_and_no_recompute(spark, tiny_spark_inputs, tmp_path):
    t, v = tiny_spark_inputs
    out = str(tmp_path / "wh")

    # full clean run → record snapshot ids
    res1 = run_pipeline(spark, t, v, out, "resume:v1")
    assert res1["recomputed"] == list(STAGES)
    io = TableIO(out)
    snaps1 = {n: io.manifest(n)["snapshot_id"] for n in
              ("ordered", "extracted", "entity_map", "triples", "nodes", "edges")}

    # fresh warehouse, crash after S2 commit
    out2 = str(tmp_path / "wh2")
    with pytest.raises(InjectedFailure):
        run_pipeline(spark, t, v, out2, "resume:v1", fail_after="extracted")
    io2 = TableIO(out2)
    assert io2.is_committed("ordered") and io2.is_committed("extracted")
    assert not io2.is_committed("triples")

    # rerun: committed stages are NOT recomputed; outputs content-identical
    res2 = run_pipeline(spark, t, v, out2, "resume:v1")
    assert "ordered" not in res2["recomputed"]
    assert "extracted" not in res2["recomputed"]
    snaps2 = {n: io2.manifest(n)["snapshot_id"] for n in snaps1}
    assert snaps1 == snaps2  # content-addressed snapshots identical


def test_corpus_failure_raises_after_vocab_branch_joins(spark, tiny_spark_inputs, tmp_path):
    """A crash in the corpus branch leaves the runner only once the
    overlapped vocabulary branch has committed and no job is left running."""
    t, v = tiny_spark_inputs
    out = str(tmp_path / "wh")
    with pytest.raises(InjectedFailure):
        run_pipeline(spark, t, v, out, "join:v1", fail_after="ordered")
    io = TableIO(out)
    assert io.is_committed("ordered") and io.is_committed("entity_map")
    assert not io.is_committed("extracted")
    assert spark.sparkContext.statusTracker().getActiveJobsIds() == []


def test_vocab_branch_failure_is_raised_and_resumes(spark, tiny_spark_inputs, tmp_path):
    """A crash in the vocabulary branch is raised from the join, not lost
    on its thread, and the rerun reuses its committed snapshot."""
    t, v = tiny_spark_inputs
    out = str(tmp_path / "wh")
    with pytest.raises(InjectedFailure, match="entity_map"):
        run_pipeline(spark, t, v, out, "vfail:v1", fail_after="entity_map")
    io = TableIO(out)
    assert all(io.is_committed(n) for n in ("ordered", "extracted", "entity_map"))
    assert not io.is_committed("triples")
    res = run_pipeline(spark, t, v, out, "vfail:v1")
    assert res["recomputed"] == ["triples", "nodes", "edges", "errors"]


def test_vocab_branch_inherits_job_group(spark, tiny_spark_inputs, tmp_path):
    """Every job of the run, the vocabulary branch's included, runs under
    the caller's job group, so cancelJobGroup reaches both branches."""
    t, v = tiny_spark_inputs
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("kgp-resume-test", "run_pipeline under one job group")
    try:
        run_pipeline(spark, t, v, str(tmp_path / "wh"), "group:v1")
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    assert tracker.getJobIdsForGroup("kgp-resume-test")
    assert set(tracker.getJobIdsForGroup(None)) - before == set()


def test_fingerprint_mismatch_forces_recompute(spark, tiny_spark_inputs, tmp_path):
    t, v = tiny_spark_inputs
    out = str(tmp_path / "wh")
    run_pipeline(spark, t, v, out, "fp:v1")
    res = run_pipeline(spark, t, v, out, "fp:v2")  # new input fingerprint
    assert set(res["recomputed"]) == {"ordered", "extracted", "entity_map",
                                      "triples", "nodes", "edges", "errors"}


def test_errors_ledger_d4(spark, tiny_spark_inputs, tmp_path):
    """D4: malformed rows land in the committed errors table, not in the
    pipeline outputs — and the ledger participates in resume."""
    import pandas as pd

    t, v = tiny_spark_inputs
    # an all-nullable variant of the transcript schema: the validation path
    # exists precisely for inputs that don't honor the contract
    bad = spark.createDataFrame(
        pd.DataFrame([
            (None, 0, "user", "null conv id here", None, pd.Timestamp("2024-01-01")),
            ("convX", None, "user", "null turn idx here", None, pd.Timestamp("2024-01-01")),
        ], columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]),
        schema="conv_id string, turn_idx int, role string, text string, tool string, ts timestamp")
    res = run_pipeline(spark, t.unionByName(bad), v, str(tmp_path / "wh"), "d4:v1")
    errs = {(r["stage"], r["reason"]) for r in res["errors"].collect()}
    assert ("order", "null_ordering_key") in errs
    assert res["errors"].count() == 2
    # malformed rows are excluded from ordered output
    assert res["ordered"].filter("conv_id IS NULL OR turn_idx IS NULL").count() == 0
    # errors is a committed, resumable stage
    io = TableIO(str(tmp_path / "wh"))
    assert io.is_committed("errors")


def test_unmatched_surfaces_ledger(spark):
    """Open-vocabulary guard: srf: operands without a canonical mapping are
    ledger'd by materialize's D4 feed."""
    import pandas as pd

    from kgp.pipeline.materialize import unmatched_surfaces

    raw = spark.createDataFrame(pd.DataFrame({
        "conv_id": ["c"] * 3, "turn_idx": [0, 0, 1],
        "subj": ["srf:known one", "srf:ghost entity", "conv:c"],
        "pred": ["p"] * 3,
        "obj": ["srf:known one", "srf:known one", "tool:t"],
    }))
    emap = spark.createDataFrame(pd.DataFrame({
        "surface": ["known one"], "entity_id": [1], "canonical_id": [1]}))
    errs = unmatched_surfaces(raw, emap).collect()
    assert [(r["stage"], r["key"], r["reason"]) for r in errs] == [
        ("materialize", "ghost entity", "unmatched_surface")]


def test_tableio_snapshot_content_addressed(spark, tmp_path):
    import pandas as pd

    io = TableIO(str(tmp_path / "t"))
    pdf = pd.DataFrame({"a": [3, 1, 2], "b": ["x", "y", "z"]})
    m1 = io.write(spark.createDataFrame(pdf), "tbl")
    # same content, different row order / partitioning → same snapshot_id
    m2 = io.write(spark.createDataFrame(pdf.iloc[::-1]).repartition(3), "tbl")
    assert m1["snapshot_id"] == m2["snapshot_id"]
    m3 = io.write(spark.createDataFrame(pdf.assign(a=[3, 1, 99])), "tbl")
    assert m3["snapshot_id"] != m1["snapshot_id"]


def test_tableio_read_requires_commit(spark, tmp_path):
    io = TableIO(str(tmp_path / "t"))
    with pytest.raises(FileNotFoundError):
        io.read(spark, "nope")
