"""Summarize a set of benchmark runs of one workload.

    for s in 1 2 3 4 5 6 7 8 9 10; do
      python3 perfbench/run.py --workload kg_build --seed $s --seconds 15 --trace 0 \\
        | tail -n 1 >> runs.jsonl
    done
    python3 perfbench/summarize.py runs.jsonl

Input: one result JSON object per line, in run order.  For each metric it
prints the median, the quartiles (``statistics.quantiles(n=4)``), the
spread (quartile distance over median), and the medians of the first and
second half of the runs, so a slowdown from accumulated state shows.
"""

from __future__ import annotations

import json
import statistics
import sys


def summarize(results: list[dict]) -> dict[str, dict[str, float]]:
    out = {}
    for name in results[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in results]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
        half = len(vals) // 2
        out[name] = {
            "median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else 0.0,
            "first_half": statistics.median(vals[:half] or vals),
            "second_half": statistics.median(vals[half:]),
            "unit": results[0]["metrics"][name]["unit"],
        }
    return out


def main(paths: list[str]) -> int:
    results = [json.loads(line) for p in paths for line in open(p, encoding="utf-8") if line.strip()]
    failed = sum(r["failed"] for r in results)
    attempted = sum(r["attempted"] for r in results)
    print(f"{len(results)} runs, failed_frac {failed / max(attempted, 1):.4f} "
          f"({failed} of {attempted})")
    print(f"{'metric':26s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'spread':>8s} "
          f"{'1st half':>12s} {'2nd half':>12s}")
    for name, s in summarize(results).items():
        print(f"{name:26s} {s['median']:12.4f} {s['q1']:12.4f} {s['q3']:12.4f} "
              f"{s['spread']:8.4f} {s['first_half']:12.4f} {s['second_half']:12.4f} {s['unit']}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
