"""Event-stream operators (events table): stable ordering, sessionization,
time-bucketed aggregation.

The reference is purely batch (SURVEY.md §2.10); these are the batch forms
of the stream operators a transcript/telemetry pipeline needs.  Ordering
mirrors the north rule's window-over-conv_id sort (W1): (user_id ⊳ ts,
event_id) here ≙ (conv_id ⊳ turn_idx, ts) in the transcript pipeline.

Scale notes: all three operators shuffle exactly once, on ``user_id`` (or
the time bucket) — the natural partitioning key; window functions then run
within partitions.  Skewed users are handled by AQE; for pathological
single-user skew, pre-split sessions by day before the window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F

from .aggutil import decsum, decsum_sql

SESSION_GAP_US = 1800 * 1_000_000  # 30 min in microseconds
# event values are summed as DECIMAL(18, 6), rounded to 4 digits
VALUE_DEC = {"scale": 6, "round_to": 4}


def _ts_asc():
    """Spark's ascending window default is NULLS FIRST; DuckDB's ORDER BY
    default is NULLS LAST — a null-ts event would get a different seq /
    session boundary on the two engines, so the null position is pinned
    explicitly everywhere a window orders by ts.  (A function, not a
    module constant: Column construction needs an active session.)"""
    return F.col("ts").asc_nulls_last()


def stable_order(events: DataFrame) -> DataFrame:
    """W1: deterministic per-user sequence numbers (event_id tie-break)."""
    w = W.partitionBy("user_id").orderBy(_ts_asc(), "event_id")
    return events.select(
        "user_id", F.row_number().over(w).alias("seq"), "event_id", "event_type")


STABLE_ORDER_SQL = """
    SELECT user_id,
           ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS seq,
           event_id, event_type
    FROM events
"""


def sessionize(events: DataFrame) -> DataFrame:
    """Gap-based sessionization: new session when idle > gap.

    One shuffle on user_id; two window passes (lag → cumulative sum) —
    the standard batch sessionizer, identical at any scale.
    """
    w = W.partitionBy("user_id").orderBy(_ts_asc(), "event_id")
    # parquet timestamps load as TIMESTAMP_NTZ; session tz is UTC so the
    # cast to TIMESTAMP is identity
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    is_new = F.when(
        F.lag(us).over(w).isNull() | ((us - F.lag(us).over(w)) > SESSION_GAP_US), 1
    ).otherwise(0)
    sess = events.withColumn(
        "session_seq", F.sum(is_new).over(w.rowsBetween(W.unboundedPreceding, 0)))
    return (
        sess.groupBy("user_id", "session_seq")
        .agg(F.count("*").alias("n_events"),
             F.min("ts").alias("start_ts"), F.max("ts").alias("end_ts"),
             # DECIMAL accumulation: Spark partial-agg order vs DuckDB's
             # serial sum can never flip the rounded 4th digit
             decsum("value", "total_value", **VALUE_DEC))
    )


SESSIONIZE_SQL = f"""
    WITH o AS (
        SELECT *, epoch_us(ts) - LAG(epoch_us(ts)) OVER
                  (PARTITION BY user_id ORDER BY ts, event_id) AS gap
        FROM events),
    s AS (
        SELECT *, SUM(CASE WHEN gap IS NULL OR gap > {SESSION_GAP_US} THEN 1 ELSE 0 END)
                  OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS session_seq
        FROM o)
    SELECT user_id, session_seq, COUNT(*) AS n_events,
           MIN(ts) AS start_ts, MAX(ts) AS end_ts,
           {decsum_sql('value', 'total_value', **VALUE_DEC)}
    FROM s GROUP BY user_id, session_seq
"""


def hourly_counts(events: DataFrame) -> DataFrame:
    """Tumbling 1h window counts per event_type (batch form of a streaming
    windowed agg; in Structured Streaming this is window('1 hour') +
    a watermark)."""
    return (
        events.groupBy(
            F.date_trunc("hour", "ts").alias("hour"), "event_type")
        .agg(F.count("*").alias("n_events"),
             decsum("value", "total_value", **VALUE_DEC))
    )


HOURLY_COUNTS_SQL = f"""
    SELECT date_trunc('hour', ts) AS hour, event_type,
           COUNT(*) AS n_events, {decsum_sql('value', 'total_value', **VALUE_DEC)}
    FROM events GROUP BY 1, 2
"""
