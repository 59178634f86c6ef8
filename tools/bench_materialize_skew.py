"""Quantify the salted writer spread in S5 materialization (r4 verdict #7).

`kgp/pipeline/materialize.py` repartitions the edges table on
(src, salt) before the write so a Zipf head entity cannot pin one writer
partition.  That claim was asserted in comments/tests but never measured.
This bench synthesizes an edges table with the HEAD SHARE the flagship
fixture actually exhibits (canonical node 1 owns ~39% of edges — see
FIXTURES.md) at bench scale and times the repartition+write with the salt
on vs off, plus the per-partition row balance each produces.

Deterministic (pure id arithmetic — no RNG, no wall-clock input), in-process
local[32] (the writer-spread effect is task-level straggling, which local
mode exhibits the same way a cluster does).  ABBA rounds, median of
within-round ratios, per the repo's drift discipline.

Usage:
    python tools/bench_materialize_skew.py
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

from kgp.pipeline.materialize import SALT_BUCKETS, spread_writers  # noqa: E402 — after sys.path

N_ROWS = int(os.environ.get("KGP_MAT_SKEW_ROWS", "40000000"))
HEAD_PCT = 39            # head entity's edge share, matching the fixture
N_ENTITIES = 10_000
ROUNDS = int(os.environ.get("KGP_MAT_SKEW_ROUNDS", "3"))


def build_edges(spark, n_rows: int = N_ROWS):
    from pyspark.sql import functions as F

    ids = spark.range(n_rows)
    # deterministic Zipf-head: HEAD_PCT% of rows land on src=0, the rest
    # spread uniformly — the worst case the salted writer exists for
    h = F.pmod(F.xxhash64("id"), F.lit(100))
    src = F.when(h < HEAD_PCT, F.lit(0)).otherwise(
        F.pmod(F.xxhash64("id", F.lit(1)), F.lit(N_ENTITIES)))
    return ids.select(
        src.alias("src"),
        F.pmod(F.xxhash64("id", F.lit(2)), F.lit(N_ENTITIES)).alias("dst"),
        (F.pmod(F.xxhash64("id", F.lit(3)), F.lit(7))).cast("string").alias("pred"),
        F.concat(F.lit("conv"), F.pmod(F.xxhash64("id", F.lit(4)),
                                       F.lit(1_000_000)).cast("string")).alias("conv_id"),
        F.timestamp_seconds(F.lit(1704067200)
                            + F.pmod(F.xxhash64("id", F.lit(5)), F.lit(10_000_000))).alias("ts"),
    )


def layout(spark, salted: bool):
    """The edges frame in the production writer spread, or in the unsalted
    repartition(src) baseline."""
    edges = build_edges(spark)
    if salted:
        return spread_writers(edges)
    return edges.repartition(spark.sparkContext.defaultParallelism, "src")


def one_write(spark, salted: bool) -> float:
    out = layout(spark, salted)
    t0 = time.monotonic()
    out.write.format("noop").mode("overwrite").save()
    return time.monotonic() - t0


def partition_balance(spark, salted: bool) -> dict:
    from pyspark.sql import functions as F

    counts = (layout(spark, salted).select(F.spark_partition_id().alias("p"))
              .groupBy("p").count().toPandas()["count"])
    return {"max_rows": int(counts.max()),
            "mean_rows": int(counts.mean()),
            "max_over_mean": round(float(counts.max() / counts.mean()), 2)}


def main() -> None:
    from kgp.session import get_spark

    spark = get_spark(master="local[32]", app_name="kgp-mat-skew")
    # AQE's skew handling does not apply to an explicit round-robin-free
    # repartition(cols) — the comparison is exactly the two writer layouts
    times = {True: [], False: []}
    ratios = []
    for rnd in range(ROUNDS):
        order = (False, True) if rnd % 2 == 0 else (True, False)
        got = {}
        for salted in order:
            got[salted] = one_write(spark, salted)
            print(f"round {rnd}: salted={salted} {got[salted]:.1f}s", flush=True)
            times[salted].append(got[salted])
        ratios.append(got[False] / got[True])
    balance = {"salted": partition_balance(spark, True),
               "unsalted": partition_balance(spark, False)}
    spark.stop()
    summary = {
        "n_rows": N_ROWS, "head_pct": HEAD_PCT, "salt_buckets": SALT_BUCKETS,
        "rounds": ROUNDS,
        "median_sec": {"salted": round(statistics.median(times[True]), 2),
                       "unsalted": round(statistics.median(times[False]), 2)},
        "runs_sec": {"salted": [round(t, 2) for t in times[True]],
                     "unsalted": [round(t, 2) for t in times[False]]},
        "unsalted_over_salted_median_ratio": round(statistics.median(ratios), 3),
        "partition_balance": balance,
    }
    with open(os.path.join(_REPO, "BENCH", "materialize_skew.json"), "w") as f:
        json.dump(summary, f, indent=2)
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
