"""TableIO — snapshot-committed table storage with per-partition lineage.

Iceberg stand-in (the Iceberg runtime jar is not guaranteed offline —
SURVEY.md §7.3): each table is a parquet directory plus a ``manifest.json``
written *after* the data, acting as the commit marker.  The manifest
records a content-addressed ``snapshot_id`` (order-insensitive xxhash64
row-digest), per-partition row counts + checksums (the lineage rows), and
the fingerprint of the stage input — so a rerun

- skips any stage whose manifest exists with a matching input fingerprint
  (the reference's skip-existing resume semantics done right:
  extract_paragraphs_faster.py:20-26, embed_v14.py:54-56 — here an atomic
  snapshot commit instead of racy file-existence checks), and
- can prove idempotence: identical input → identical snapshot_id.

On a real cluster the same seam swaps in ``spark.read.table`` /
``df.writeTo(...).createOrReplace()`` against an Iceberg catalog.
"""

from __future__ import annotations

import json
import os
import shutil
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession, functions as F

MANIFEST = "manifest.json"


def _digest(df: DataFrame):
    """(total_rows, [(pid, rows, checksum)], snapshot_id) — order-insensitive.

    Checksum = sum of xxhash64 over all columns per file partition, summed
    in decimal(38,0) so ANSI mode can't overflow; snapshot only depends on
    row *content*, not row order or partition layout.
    """
    cols = [F.col(c) for c in df.columns]
    per_part = (
        df.withColumn("_pid", F.spark_partition_id())
        .withColumn("_h", F.xxhash64(*cols).cast("decimal(38,0)"))
        .groupBy("_pid")
        .agg(F.count("*").alias("rows"), F.sum("_h").alias("chk"))
        .collect()
    )
    total = sum(r["rows"] for r in per_part)
    parts = [(int(r["_pid"]), int(r["rows"]), str(int(r["chk"] or 0))) for r in per_part]
    global_chk = sum(int(p[2]) for p in parts)
    snapshot_id = f"{total}-{global_chk % (1 << 63):x}"
    return total, sorted(parts), snapshot_id


class TableIO:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    # -- paths ------------------------------------------------------------
    def data_path(self, name: str) -> str:
        """Path of the COMMITTED data dir.  Data dirs are versioned
        (``data-NNN``) and the manifest names the live one, so a writer
        crash never touches the last committed snapshot; tables written
        before versioning fall back to the legacy ``data`` dir."""
        m = self.manifest(name)
        return os.path.join(self.root, name, (m or {}).get("data_dir", "data"))

    def manifest_path(self, name: str) -> str:
        return os.path.join(self.root, name, MANIFEST)

    # -- commit protocol ---------------------------------------------------
    def manifest(self, name: str) -> dict | None:
        p = self.manifest_path(name)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    def is_committed(self, name: str, input_fingerprint: str | None = None) -> bool:
        m = self.manifest(name)
        if m is None:
            return False
        return input_fingerprint is None or m.get("input_fingerprint") == input_fingerprint

    def write(self, df: DataFrame, name: str, input_fingerprint: str | None = None) -> dict:
        """Write table data, then lineage manifest (the commit point).

        Iceberg-style commit order: the new snapshot is written to a FRESH
        versioned dir while the previous manifest (and the data dir it
        names) stays fully readable; the manifest ``os.replace`` is the
        single atomic commit point, after which superseded data dirs are
        garbage-collected.  A crash anywhere leaves either the old
        committed snapshot or the new one — never neither."""
        table_dir = os.path.join(self.root, name)
        os.makedirs(table_dir, exist_ok=True)
        existing = {e for e in os.listdir(table_dir)
                    if e == "data" or e.startswith("data-")}
        n = 0
        while f"data-{n:03d}" in existing:
            n += 1
        new_dir = f"data-{n:03d}"
        new_path = os.path.join(table_dir, new_dir)
        df.write.mode("overwrite").parquet(new_path)

        # digest what LANDED, but under the writer's schema — the same
        # schema read() applies — so the manifest checksums hash exactly
        # the rows a resumed run reads back
        written = df.sparkSession.read.schema(df.schema).parquet(new_path)
        total, parts, snapshot_id = _digest(written.select(*df.columns))
        manifest = {
            "table": name,
            "data_dir": new_dir,
            "snapshot_id": snapshot_id,
            "rows": total,
            "schema": df.schema.jsonValue(),
            "partitions": [
                {"partition_id": pid, "output_rows": rows, "checksum": chk}
                for pid, rows, chk in parts
            ],
            "input_fingerprint": input_fingerprint,
            "committed_at": datetime.now(timezone.utc).isoformat(),
        }
        tmp = self.manifest_path(name) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1)
        os.replace(tmp, self.manifest_path(name))  # atomic commit
        for stale in existing - {new_dir}:  # post-commit GC of old snapshots
            shutil.rmtree(os.path.join(table_dir, stale), ignore_errors=True)
        return manifest

    def read(self, spark: SparkSession, name: str) -> DataFrame:
        if not self.is_committed(name):
            raise FileNotFoundError(f"table {name!r} has no committed snapshot under {self.root}")
        # apply the COMMITTED schema, never re-infer: a resumed run must
        # read back the table under the schema the run that committed it
        # wrote
        from pyspark.sql.types import StructType

        m = self.manifest(name)
        reader = spark.read
        if m and m.get("schema"):
            reader = reader.schema(StructType.fromJson(m["schema"]))
        return reader.parquet(self.data_path(name))

    # -- metrics table (FIXTURES.md §4) -------------------------------------
    def metrics_df(self, spark: SparkSession) -> DataFrame:
        """Lineage/metrics rows across all committed tables."""
        import pandas as pd

        from .schemas import METRICS

        rows = []
        for name in sorted(os.listdir(self.root)):
            m = self.manifest(name)
            if not m:
                continue
            for p in m["partitions"]:
                # keep the timestamp tz-AWARE: stripping the tz would make
                # Spark reinterpret the UTC wall time in the session zone,
                # shifting every commit instant on non-UTC sessions
                rows.append((m["table"], p["partition_id"], None, p["output_rows"],
                             p["checksum"], m["snapshot_id"],
                             pd.Timestamp(m["committed_at"]).tz_convert("UTC")))
        pdf = pd.DataFrame(rows, columns=[f.name for f in METRICS.fields])
        return spark.createDataFrame(pdf, schema=METRICS) if rows else spark.createDataFrame([], METRICS)
