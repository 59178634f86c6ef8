"""Smoke tests for the bench harnesses: they import the pipeline inside
their functions, so a stale import only shows up when they run."""

import bench
from tools import bench_scaling


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
