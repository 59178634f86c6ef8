"""Repo benchmark: one workload, one Spark session at local[4], one JSON line.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 10 --trace 0

Workloads (see perfbench/README.md for sizes and why each was chosen):
``kg_build`` and ``query_suite``.  The run sets up (session, seeded inputs,
one-time builds), then runs the measured iteration once: both workloads'
iterations outlast ``--seconds``.  It checks every output and prints each
metric with its unit.  The last line of stdout is the JSON result.

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` is a separate
run with the Spark event log on and spans around kgp's layer functions;
it reports the per-layer metrics.  Everything the run writes stays under
``.perfbench_work/`` in the checkout and is deleted at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time
from contextlib import nullcontext

_T0 = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MASTER, SLOTS, DRIVER_MEM = "local[4]", 4, "2g"

END_TO_END = {"wall_s": "s", "cpu_s": "s", "setup_s": "s", "peak_rss_mb": "MB"}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name -> unit, in BENCHMARK.json order."""
    from perfbench import tracing
    from perfbench.workloads import suite_queries

    units = {"wall_s": "s", "self_s": "s", "cpu_s": "s", "jvm_cpu_s": "s",
             "slot_util": "ratio", "shuffle_bytes": "bytes", "spill_bytes": "bytes",
             "jobs": "count", "rows_out": "count"}
    out = {f"{layer}.{c}": units[c] for layer in tracing.LAYERS for c in tracing.COUNTERS}
    out.update({"io.digest_s": "s", "io.bytes_written": "bytes",
                "materialize.task_skew": "ratio", "run.self_s": "s", "trace.wall_s": "s"})
    for q in suite_queries():
        out[f"q.{q}.wall_s"] = "s"
        out[f"q.{q}.cpu_s"] = "s"
    for kind in ("graph", "ranked", "bucketed"):
        out[f"setup.{kind}_build_s"] = "s"
    return out


def _spark_conf(work: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.local.dir": f"{work}/spark-local",
        "spark.sql.warehouse.dir": f"{work}/spark-warehouse",
        # the whole heap is committed and touched at start, so peak RSS
        # does not depend on when the collector chose to grow the heap
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={work}/tmp -Dderby.system.home={work} -XX:-UsePerfData "
            f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        os.makedirs(f"{work}/events")
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{work}/events",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def _log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - _T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


def _stop(spark) -> None:
    """Stop the session, then the JVM, then anything left in the tree, and
    wait for each to end."""
    from perfbench import proctree

    gateway = spark.sparkContext._gateway
    started = proctree.descendants()  # the JVM, the pyspark daemon, its workers
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the gateway JVM exits when its stdin closes
    gateway.proc.wait(timeout=60)
    # the daemon is the JVM's child: once the JVM is gone it is no longer
    # ours to wait for, so poll the processes seen before the stop
    deadline = time.monotonic() + 30
    while (left := [p for p in started if proctree.running(p)]) and time.monotonic() < deadline:
        for pid in left:
            try:
                os.kill(pid, signal.SIGTERM)
            except ProcessLookupError:
                pass
        time.sleep(0.2)


def measure(args, work: str) -> dict:
    from perfbench import eventlog, proctree, tracing
    from perfbench.workloads import WORKLOADS
    from kgp.session import get_spark

    os.environ["KGP_DRIVER_MEM"] = DRIVER_MEM
    spark = get_spark(master=MASTER, app_name=f"perfbench-{args.workload}",
                      extra_conf=_spark_conf(work, args.trace))
    _log("session started")
    wl = WORKLOADS[args.workload](spark, work, args.seed)
    try:
        setup_parts = wl.setup()
        setup_s = time.perf_counter() - _T0
        _log("inputs and builds done")

        tracer = tracing.Tracer(spark.sparkContext) if args.trace else None
        restore = tracing.install(tracer) if tracer else None
        span = tracer.span if tracer else (lambda name, layer, owner=None: nullcontext())
        rss = proctree.PeakRss().start()
        c0, t0 = proctree.cpu_seconds(), time.perf_counter()
        with span("run", "run"):
            result = wl.iterate(span)
        wall = time.perf_counter() - t0
        cpu = proctree.cpu_seconds() - c0
        peak = rss.stop()
        _log(f"iteration: {wall:.3f}s")
        if restore:
            restore()
        attempted, failed = wl.check(result)
        wl.reclaim(result)
        _log("checks done")
    finally:
        _stop(spark)
        _log("session stopped")

    metrics = {"wall_s": wall, "cpu_s": cpu, "setup_s": setup_s, "peak_rss_mb": peak / 2**20}
    # printed, not a BENCHMARK.json metric: every workload reports the same
    # end-to-end set, and on kg_build this is a fixed count over wall_s
    info = {"turns_per_s": (wl.n_turns / wall, "1/s")} if hasattr(wl, "n_turns") else {}
    if tracer:
        (log,) = os.listdir(f"{work}/events")
        groups = eventlog.parse_file(f"{work}/events/{log}")
        units = per_layer_units()
        values = dict.fromkeys(units, 0.0)
        values.update(tracing.layer_metrics(tracer.spans, groups, SLOTS))
        values["trace.wall_s"] = wall
        for s in tracer.spans:
            if s.layer == "q":
                values[f"{s.name}.wall_s"] = s.dur
                values[f"{s.name}.cpu_s"] = s.cpu
        values.update(setup_parts)
        metrics = {k: values[k] for k in units}
    return {"attempted": attempted, "failed": failed, "metrics": metrics, "info": info}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["kg_build", "query_suite"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(f"{work}/tmp")
    # Python workers import kgp from the checkout; every temp file of the
    # run (cc parquet hops, registry scratch dirs) lands in the work dir
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = f"{work}/tmp"
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/spark-local"  # overrides spark.local.dir
    # spark-submit's launcher JVM gets neither extraJavaOptions nor TMPDIR
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp"
    import tempfile

    tempfile.tempdir = f"{work}/tmp"
    try:
        res = measure(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's work dir is still there

    units = per_layer_units() if args.trace else END_TO_END
    print(f"{args.workload} seed={args.seed} trace={args.trace}")
    for name, value in res["metrics"].items():
        print(f"  {name:40s} {value:14.4f} {units[name]}")
    for name, (value, unit) in res["info"].items():
        print(f"  {name:40s} {value:14.4f} {unit}")
    print(f"  {'failed_frac':40s} {res['failed'] / res['attempted']:14.4f} ratio "
          f"({res['failed']} of {res['attempted']})")
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in res["metrics"].items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
