"""Smoke test for bench.py's pipeline probe: the harness imports the
pipeline inside the function, so a stale import only shows up when it runs."""

import bench


def test_run_kgp_smoke(spark):
    res = bench.run_kgp(spark, 20)
    assert res["n_turns"] > 0
    assert res["sec"] > 0
