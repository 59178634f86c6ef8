"""SparkSession factory with scale-appropriate defaults.

Local mode stands in for the multi-executor cluster (BASELINE.json: the
two-cluster-size criterion is evidenced at two parallelism levels, e.g.
local[8] vs local[32]).  All settings below are cluster-valid: AQE,
skew-join handling, Arrow batching for the pandas-UDF extraction stages.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(master: str | None = None, app_name: str = "kgp",
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or os.environ.get("KGP_MASTER", f"local[{cpus}]")
    n = master[master.find("[") + 1 : master.find("]")] if "[" in master else ""
    shuffle_partitions = cpus if n in ("", "*") else max(int(n), 4) if n.isdigit() else cpus

    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("KGP_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    # shuffle/spill location: ONLY override when explicitly asked.  A tmpfs
    # default (/dev/shm) would make spill compete with executor heap for RAM
    # and /dev/shm is commonly capped at 50% of memory — large shuffles then
    # die with ENOSPC instead of spilling to disk.  The bench harness
    # (tools/cluster.py) opts in to tmpfs deliberately for its own runs.
    local_dirs = os.environ.get("KGP_SPARK_LOCAL_DIRS")
    if local_dirs:
        b = b.config("spark.local.dir", local_dirs)
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    # getOrCreate silently ignores builder configs when a session already
    # exists — a harness asking for local[32] after a local[8] session
    # would otherwise measure 8-core numbers labeled 32 (the scaling bench
    # dodges this with one PROCESS per parallelism level; this guard
    # catches in-process misuse loudly instead of corrupting evidence)
    active = spark.sparkContext.master
    if master and active != master:
        import warnings

        warnings.warn(
            f"get_spark(master={master!r}) reused an existing session on "
            f"{active!r}; configs were NOT applied. Use one process per "
            "master (tools/bench_scaling.py) or stop the session first.",
            RuntimeWarning, stacklevel=2)
    spark.sparkContext.setLogLevel("WARN")
    return spark
