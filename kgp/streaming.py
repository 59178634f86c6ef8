"""Structured Streaming surface: incremental transcript ingestion.

The reference is purely batch (SURVEY.md §2.10) and the north rule asks
for checkpointed, resumable *batch* — parity does not require streaming.
This module is the forward path a transcript firehose needs anyway:
the same extraction core (kgp.textops via pipeline.extract's mapInPandas)
applied to a file-source stream with event-time windowing + watermarks.

Design notes (cluster scale):
- the stream is stateless through extraction (mapInPandas — no shuffle),
  stateful only at the windowed aggregation (state store keyed by
  (window, mention), pruned by the watermark);
- `trigger(availableNow=True)` turns the same query into a catch-up
  batch job — the batch/stream unification Spark gives for free;
- exactly-once into the warehouse via foreachBatch + TableIO snapshot
  commits keyed on batch id (idempotent MERGE analog of pipeline.run).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from . import schemas
from .pipeline.extract import extract, mentions_view, raw_triples_view
from .pipeline.order import valid_turns


def read_transcript_stream(spark: SparkSession, input_dir: str,
                           max_files_per_trigger: int | None = None) -> DataFrame:
    """File-source stream of transcript parquet drops (append-only dir)."""
    reader = spark.readStream.schema(schemas.TRANSCRIPTS)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.parquet(input_dir)


def streaming_mentions(stream: DataFrame,
                       surface_rows: list[tuple[str, int, str]]) -> DataFrame:
    """Per-turn mention rows from a streaming transcript source.

    Reuses the exact batch extraction operator — mapInPandas is
    stream-compatible (stateless, no shuffle)."""
    cleaned = valid_turns(stream)
    return mentions_view(extract(cleaned, surface_rows))


def streaming_triples(stream: DataFrame,
                      surface_rows: list[tuple[str, int, str]]) -> DataFrame:
    """The flagship S2 stage as a stream: per-turn (subj, pred, obj)
    triples from a transcript firehose.

    Triple emission is per-turn — no ordering, no cross-turn context —
    so the batch operator streams unchanged: stateless mapInPandas, no
    shuffle, no state store, and the micro-batch output is bit-identical
    to the batch ``raw_triples_view`` over the same rows (pytest asserts
    this parity).  Entity linking and canonicalization stay batch jobs
    (they are global fixpoints over the vocab); they consume the landed
    triples table downstream, so a firehose deployment is: this stream →
    ``run_to_table`` exactly-once sink → periodic batch link+CC over the
    warehouse."""
    cleaned = valid_turns(stream)
    return raw_triples_view(extract(cleaned, surface_rows))


def windowed_mention_counts(stream: DataFrame,
                            surface_rows: list[tuple[str, int, str]],
                            window: str = "1 hour",
                            watermark: str = "2 hours") -> DataFrame:
    """Event-time tumbling-window mention frequencies with late-data bound.

    State per (window, mention); the watermark lets the state store drop
    windows older than `watermark` — bounded memory at any stream length.
    """
    cleaned = valid_turns(stream)
    extracted = extract(cleaned, surface_rows)  # carries ts (schemas.EXTRACTED)
    mentions = extracted.select("ts", F.explode("mentions").alias("m")).select(
        F.col("m.mention").alias("mention"),
        F.col("m.entity_type").alias("entity_type"), "ts")
    return (
        mentions.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), "mention")
        .agg(F.count("*").alias("n_mentions"))
        .select(F.col("win.start").alias("window_start"),
                F.col("win.end").alias("window_end"), "mention", "n_mentions")
    )


def streaming_conv_progress(stream: DataFrame) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): incremental
    per-conversation progress — turn count + time span — maintained in the
    state store across micro-batches and emitted in update mode.

    This is the `applyInPandasWithState` surface a transcript firehose
    needs for operators Spark lacks built-in (per-key custom aggregation
    with explicit state).  State per conv_id is three scalars; at scale
    the state store shards by the groupBy key exactly like any shuffle.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "conv_id string, n_turns long, first_ts timestamp, last_ts timestamp"
    state_schema = "n long, first_us long, last_us long"

    def update(key, pdfs, state: GroupState):
        n, first_us, last_us = state.get if state.exists else (0, None, None)
        for pdf in pdfs:
            n += len(pdf)
            # null ts rows still count as turns but must not touch the
            # span: NaT.astype(int64) is the int64-min sentinel, which
            # would poison min() forever and overflow pd.Timestamp
            ts = pd.to_datetime(pdf["ts"])
            ts = ts[ts.notna()]
            if len(ts):
                us = ts.astype("int64") // 1000
                lo, hi = int(us.min()), int(us.max())
                first_us = lo if first_us is None else min(first_us, lo)
                last_us = hi if last_us is None else max(last_us, hi)
        state.update((n, first_us, last_us))
        yield pd.DataFrame({
            "conv_id": [key[0]],
            "n_turns": [n],
            "first_ts": [pd.Timestamp(first_us * 1000, unit="ns")
                         if first_us is not None else pd.NaT],
            "last_ts": [pd.Timestamp(last_us * 1000, unit="ns")
                        if last_us is not None else pd.NaT],
        })

    return (
        stream.groupBy("conv_id")
        .applyInPandasWithState(update, out_schema, state_schema,
                                "update", GroupStateTimeout.NoTimeout)
    )


def streaming_exact_dedup(stream: DataFrame,
                          watermark: str = "2 hours") -> DataFrame:
    """D1's streaming twin: exact content dedup over an unbounded
    transcript stream.

    Keys on the same sha2 content hash as ops.dedup.exact_dedup and uses
    ``dropDuplicatesWithinWatermark`` so the dedup state store keeps one
    entry per distinct hash only within the watermark horizon — memory is
    bounded by (ingest rate × watermark), never by stream length.  The
    state shards on the hash key exactly like the batch D1 shuffle, so at
    firehose scale it spreads across executors with no hot key (sha2 is
    uniform by construction).  Duplicates arriving later than the
    watermark are admitted — the horizon is the documented contract, same
    as any watermarked streaming op; run the batch D1 pass on the
    warehouse table for total dedup.
    """
    # null event-times cannot participate in a watermarked operator;
    # null texts have no content to dedup on — drop both up front
    hashed = stream.filter(
        F.col("ts").isNotNull() & F.col("text").isNotNull()
    ).withColumn(
        "content_hash", F.sha2(F.col("text").cast("binary"), 256))
    return (hashed
            .withWatermark("ts", watermark)
            .dropDuplicatesWithinWatermark(["content_hash"])
            .drop("content_hash"))


def run_to_table(result: DataFrame, out_root: str, table: str,
                 checkpoint_dir: str):
    """Drain the stream exactly-once into a TableIO-managed table.

    foreachBatch gives a batch DataFrame + monotone batch id; the batch id
    in the fingerprint makes re-delivery after a crash a no-op (TableIO
    skips committed fingerprints) — the streaming twin of pipeline.run's
    snapshot resume.
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
