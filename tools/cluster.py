"""Local Spark standalone cluster helpers (master + worker JVMs).

The north rule's scaling criterion talks about N vs 4N *executors*.  A
single local[k] JVM is a poor stand-in — all executor threads share one
heap/GC and one Python fan-out, which conflates JVM effects with true
scaling.  A standalone master + worker on localhost gives real executor
topology: each executor is its own JVM (own heap, own GC, own python
worker pool), carved from the worker's core pool via
spark.executor.cores + spark.cores.max — exactly how a multi-node
cluster schedules, minus the network hop.

Usage:
    from tools.cluster import start_cluster, stop_cluster, executor_session
    start_cluster()
    spark = executor_session(n_executors=4)
    ...
    stop_cluster()
"""

from __future__ import annotations

import glob
import os
import subprocess
import time
import zipfile

import pyspark

SPARK_HOME = os.path.dirname(os.path.abspath(pyspark.__file__))
MASTER_URL = "spark://127.0.0.1:7077"
_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

EXECUTOR_CORES = int(os.environ.get("KGP_EXECUTOR_CORES", "2"))
EXECUTOR_MEM = os.environ.get("KGP_EXECUTOR_MEM", "20g")
WORKER_CORES = 32      # the worker's pool that executors are carved from
WORKER_MEM = "100g"


LOCAL_DIRS = os.environ.get("KGP_SPARK_LOCAL_DIRS", "/dev/shm/kgp-spark")


def _java_env() -> dict:
    env = dict(os.environ)
    env["SPARK_HOME"] = SPARK_HOME
    # pip layout has no launcher/target build dir; pin the scala version
    env["SPARK_SCALA_VERSION"] = "2.13"
    # shuffle/spill on tmpfs: the sandbox analog of per-node local disks —
    # 4 executor JVMs sharing ONE spinning /tmp serializes shuffle IO and
    # poisons the scaling measurement; a real cluster adds disks per node
    os.makedirs(LOCAL_DIRS, exist_ok=True)
    env["SPARK_LOCAL_DIRS"] = LOCAL_DIRS
    return env


def start_cluster() -> None:
    stop_cluster()
    cp = os.path.join(SPARK_HOME, "jars", "*")
    subprocess.Popen(
        ["java", "-Xmx1g", "-cp", cp, "org.apache.spark.deploy.master.Master",
         "-h", "127.0.0.1", "-p", "7077", "--webui-port", "8091"],
        env=_java_env(), stdout=open("/tmp/spark-master.log", "w"),
        stderr=subprocess.STDOUT)
    time.sleep(3)
    os.makedirs("/tmp/spark-work", exist_ok=True)
    subprocess.Popen(
        ["java", "-Xmx1g", "-cp", cp, "org.apache.spark.deploy.worker.Worker",
         MASTER_URL, "-c", str(WORKER_CORES), "-m", WORKER_MEM,
         "-h", "127.0.0.1", "-d", "/tmp/spark-work", "--webui-port", "8092"],
        env=_java_env(), stdout=open("/tmp/spark-worker.log", "w"),
        stderr=subprocess.STDOUT)
    deadline = time.time() + 30
    while time.time() < deadline:
        try:
            if "Registering worker" in open("/tmp/spark-master.log").read():
                return
        except FileNotFoundError:
            pass
        time.sleep(1)
    raise RuntimeError("standalone worker did not register; see /tmp/spark-master.log")


def stop_cluster() -> None:
    subprocess.run(["pkill", "-f", "org.apache.spark.deploy.master.Master"],
                   capture_output=True)
    subprocess.run(["pkill", "-f", "org.apache.spark.deploy.worker.Worker"],
                   capture_output=True)
    time.sleep(1)


def build_pyfiles_zip(path: str = "/tmp/kgp.zip") -> str:
    """Package kgp/ for spark-submit --py-files-style shipping."""
    with zipfile.ZipFile(path, "w") as z:
        for f in glob.glob(os.path.join(_REPO, "kgp", "**", "*.py"), recursive=True):
            z.write(f, os.path.relpath(f, _REPO))
    return path


def executor_session(n_executors: int, app_name: str | None = None):
    """SparkSession with exactly n_executors executors of EXECUTOR_CORES
    cores each, kgp shipped as a py-files zip.  SQL, Arrow and AQE settings
    are get_spark's, as for every other entry point; only the executor
    topology, its partition count, the driver heap and the tmpfs local
    dirs are set here."""
    from kgp.session import get_spark

    cores = EXECUTOR_CORES * n_executors
    spark = get_spark(master=MASTER_URL, app_name=app_name or f"kgp-{n_executors}exec",
                      extra_conf={
                          "spark.executor.cores": str(EXECUTOR_CORES),
                          "spark.executor.memory": EXECUTOR_MEM,
                          "spark.cores.max": str(cores),
                          "spark.default.parallelism": str(cores),
                          "spark.sql.shuffle.partitions": str(cores),
                          "spark.driver.memory": "1g",
                          "spark.local.dir": LOCAL_DIRS,
                      })
    spark.sparkContext.addPyFile(build_pyfiles_zip())
    # wait until the requested executors are registered
    deadline = time.time() + 60
    sc = spark.sparkContext
    while time.time() < deadline:
        n = sc._jsc.sc().getExecutorMemoryStatus().size() - 1  # minus driver
        if n >= n_executors:
            return spark
        time.sleep(0.5)
    raise RuntimeError(f"only {n} of {n_executors} executors registered")
