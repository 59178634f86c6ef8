"""Structured Streaming surface: incremental triple extraction.

The reference is purely batch (SURVEY.md §2.10) and the north rule asks
for checkpointed, resumable *batch*, so parity does not require
streaming.  What ships is the catch-up path a growing transcript
directory needs: S2 triple emission applied to a file-source stream and
landed exactly-once in the warehouse.  ``python -m kgp.job
--stream-input`` and the ``stream_triples_catchup`` registry entry both
run it through ``drain_triples``.  The corpus-level steps (S1's D1
window and D2 boilerplate census, S3/S4 linking and canonicalization)
stay batch passes over the landed tables.

Design notes:
- the stream is stateless end to end: validation + the batch extraction
  operator (mapInPandas, no shuffle, no state store), so a micro-batch's
  triples are bit-identical to the batch ``raw_triples_view`` over the
  same rows;
- ``trigger(availableNow=True)`` turns the query into a catch-up batch
  job: each run processes only the files its checkpoint has not seen;
- exactly-once into the warehouse via foreachBatch + TableIO snapshot
  commits keyed on the batch id (the streaming twin of pipeline.run's
  snapshot resume).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from . import schemas
from .pipeline.extract import extract, raw_triples_view
from .pipeline.order import valid_turns


def read_transcript_stream(spark: SparkSession, input_dir: str,
                           max_files_per_trigger: int | None = None) -> DataFrame:
    """File-source stream of transcript parquet drops (append-only dir)."""
    reader = spark.readStream.schema(schemas.TRANSCRIPTS)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.parquet(input_dir)


def streaming_triples(stream: DataFrame,
                      surface_rows: list[tuple[str, int, str]]) -> DataFrame:
    """The flagship S2 stage as a stream: per-turn (subj, pred, obj)
    triples from a transcript firehose.

    Triple emission is per-turn — no ordering, no cross-turn context —
    so the batch operator streams unchanged."""
    cleaned = valid_turns(stream)
    return raw_triples_view(extract(cleaned, surface_rows))


def run_to_table(result: DataFrame, out_root: str, table: str,
                 checkpoint_dir: str):
    """Drain the stream exactly-once into TableIO-managed tables.

    foreachBatch gives a batch DataFrame + monotone batch id; the batch id
    in the fingerprint makes re-delivery after a crash a no-op (TableIO
    skips committed fingerprints).
    """
    from .io import TableIO

    io = TableIO(out_root)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        name = f"{table}_batch{batch_id:06d}"
        fp = f"stream:{table}:{batch_id}"
        if not io.is_committed(name, fp):
            io.write(batch_df, name, input_fingerprint=fp)

    return (
        result.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def committed_batches(out_root: str, table: str) -> list[str]:
    """Sorted ``<table>_batchNNNNNN`` names with a committed snapshot."""
    from .io import TableIO

    io = TableIO(out_root)  # creates out_root on the first run
    return sorted(n for n in os.listdir(out_root)
                  if n.startswith(f"{table}_batch") and io.is_committed(n))


def drain_triples(spark: SparkSession, input_dir: str,
                  surface_rows: list[tuple[str, int, str]], out_root: str,
                  table: str, max_files_per_trigger: int | None = None,
                  timeout_s: float | None = None) -> list[str]:
    """Catch up on ``input_dir``: stream its unseen drops through
    ``streaming_triples`` into ``run_to_table`` (checkpoint under
    ``<out_root>/_checkpoints/<table>``), wait for the availableNow drain
    to finish, and return ``committed_batches``.  With ``timeout_s`` a
    drain still running after that many seconds is stopped and raises."""
    stream = read_transcript_stream(spark, input_dir, max_files_per_trigger)
    q = run_to_table(streaming_triples(stream, surface_rows), out_root, table,
                     os.path.join(out_root, "_checkpoints", table))
    if timeout_s is None:
        q.awaitTermination()
    elif not q.awaitTermination(timeout_s):
        q.stop()
        raise RuntimeError(f"availableNow drain of {table} did not terminate "
                           f"within {timeout_s}s")
    return committed_batches(out_root, table)
