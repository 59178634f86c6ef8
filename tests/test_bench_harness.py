"""Smoke tests for the bench harnesses (they import the pipeline inside
their functions, so a stale import only shows up when they run), plus the
scaling sweep's input build and retry policy over a stubbed cluster."""

import os
import subprocess

import pytest

import bench
from tools import bench_scaling, cluster


def test_run_kgp_smoke(spark):
    res = bench.run_kgp(spark, 20)
    assert res["n_turns"] > 0
    assert res["sec"] > 0


def test_scaling_pipeline_subjects_smoke(spark, tmp_path):
    path = str(tmp_path)
    bench_scaling.build_corpus(spark, path, n_convs=20, n_ents=30)
    for name in ("pipeline", "pipeline_cc"):
        assert bench_scaling.SUBJECTS[name].measure(spark, path)["n_turns"] > 0


def test_scaling_cc_graph_subject_smoke(spark, tmp_path):
    path = str(tmp_path)
    subj = bench_scaling.SUBJECTS["cc_graph"]
    subj.build(spark, path, n_chains=5, n_stars=2, star_spokes=6)
    res = subj.measure(spark, path, n_chains=5, n_stars=2)
    assert res["n_components"] == 7
    assert res["n_nodes"] == 8 * 5 + 2 * (6 + 1)


def _build_tiny_cc_graph(spark, path):
    """A tiny cc_graph input that also records which process built it."""
    bench_scaling.build_cc_graph(spark, path, n_chains=5, n_stars=2, star_spokes=6)
    with open(os.path.join(path, "build_pid"), "w") as f:
        f.write(str(os.getpid()))


def test_ensure_input_builds_in_a_child_process(spark, tmp_path):
    """The generator session (and the JVM it leaves behind) lives in a
    child process, never in the sweep's own."""
    path = str(tmp_path / "ccg")
    subj = bench_scaling.SUBJECTS["cc_graph"]._replace(
        input_dir=path, marker="_done_tiny", build=_build_tiny_cc_graph)
    bench_scaling.ensure_input(subj)
    with open(os.path.join(path, "build_pid")) as f:
        assert int(f.read()) != os.getpid()
    assert os.path.exists(os.path.join(path, "_done_tiny"))
    res = subj.measure(spark, path, n_chains=5, n_stars=2)
    assert res["n_components"] == 7


WRONG = bench_scaling.WrongAnswer("wrong component count: 6 != 7")
TRANSIENT = RuntimeError("cc_graph run failed at 1 executors")


@pytest.mark.parametrize("failures, n_calls, n_records", [
    ({1: WRONG}, 1, 0),       # a wrong answer is attempted once, not recorded
    ({3: WRONG}, 3, 0),       # ... and voids the round before it
    ({1: TRANSIENT}, 5, 1),   # a transient failure reruns its whole round once
], ids=["wrong_first", "wrong_later", "transient"])
def test_abba_retry_policy(monkeypatch, failures, n_calls, n_records):
    """abba over a stubbed cluster, 2 rounds; ``failures`` maps a one_run
    call number to the exception that call raises."""
    calls, written = [], []

    def one_run(name, n_exec):
        calls.append(n_exec)
        if len(calls) in failures:
            raise failures[len(calls)]
        return {"sec": 1.0}

    monkeypatch.setattr(bench_scaling, "one_run", one_run)
    monkeypatch.setattr(bench_scaling, "ensure_input", lambda subj: None)
    monkeypatch.setattr(bench_scaling, "write_record", lambda *a: written.append(a))
    monkeypatch.setattr(cluster, "start_cluster", lambda: None)
    monkeypatch.setattr(cluster, "stop_cluster", lambda: None)
    monkeypatch.setattr(bench_scaling, "RUNS", 2)
    if WRONG in failures.values():
        with pytest.raises(bench_scaling.WrongAnswer):
            bench_scaling.abba("cc_graph")
    else:
        bench_scaling.abba("cc_graph")
    assert len(calls) == n_calls
    assert len(written) == n_records


def test_one_run_raises_wrong_answer_from_the_child(monkeypatch):
    def run(cmd, **kw):
        return subprocess.CompletedProcess(
            cmd, 1, stdout="WRONG wrong component count: 6 != 7\n", stderr="")

    monkeypatch.setattr(bench_scaling.subprocess, "run", run)
    with pytest.raises(bench_scaling.WrongAnswer, match="6 != 7"):
        bench_scaling.one_run("cc_graph", 1)


def test_single_run_reports_a_wrong_answer(monkeypatch, capsys):
    def measure(spark, path):
        raise bench_scaling.WrongAnswer("wrong component count: 6 != 7")

    monkeypatch.setattr(cluster, "executor_session", lambda n, app_name: None)
    monkeypatch.setitem(bench_scaling.SUBJECTS, "cc_graph",
                        bench_scaling.SUBJECTS["cc_graph"]._replace(measure=measure))
    with pytest.raises(bench_scaling.WrongAnswer):
        bench_scaling.single_run("cc_graph", 1)
    assert "WRONG wrong component count: 6 != 7" in capsys.readouterr().out.splitlines()
