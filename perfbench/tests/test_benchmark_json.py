import json
import os

from perfbench import run, workloads

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _read(*path):
    with open(os.path.join(ROOT, *path), encoding="utf-8") as f:
        return f.read()


def test_benchmark_json_matches_the_metrics_run_reports():
    spec = json.loads(_read("BENCHMARK.json"))
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_units()
    assert len(spec["per_layer"]) <= 128
    assert {w["name"] for w in spec["workloads"]} <= set(workloads.WORKLOADS)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values())


def test_readme_tags_every_per_layer_metric():
    """The README's table has a row per metric family (``order.*``,
    ``q.*``, ...) naming the end-to-end metric and workload it should move."""
    rows = [line for line in _read("perfbench", "README.md").splitlines()
            if line.startswith("| `")]
    tagged = {row.split("`")[1] for row in rows}
    assert {n.split(".")[0] + ".*" for n in run.per_layer_units()} <= tagged
