"""S1 — stable turn ordering, empty-drop, exact dedup, boilerplate removal.

Reference behaviors reproduced (SURVEY.md §2.2/§2.8):
- paragraph-in-file order ≙ (conv_id, turn_idx, ts) window sort (W1)
- empty-after-trim drop (P11, embed_paragraphs.py:23)
- exact-duplicate drop (D1, sha256 membership in create_faiss_index.py:19-37)
  — here a row_number window per (conv_id, text), keep first
- near-dup boilerplate removal (D2, remove_duplicate_paragraphs.py:104-132)
  — reformulated scalably: turns whose digit-masked normalized text
  (dup_key) is shared by >= MIN_DUP_GROUP turns are dropped.

Physical plan (exactly ONE shuffle of the corpus):
- one hash repartition on conv_id; the (conv_id, text) dedup window and the
  final (conv_id, turn_idx, ts) sort both run within those partitions
  (HashPartitioning(conv_id) satisfies the window's clustering requirement,
  so Catalyst inserts local sorts, not exchanges);
- the boilerplate key census is a partial-aggregated groupBy whose hot
  output (keys with count >= MIN_DUP_GROUP — a handful of boilerplate
  templates by construction) is broadcast back as a left-anti join: no
  second shuffle of the corpus, and Zipf-heavy dup keys cost map-side
  combine instead of a skewed sort (the window-count formulation we
  replaced sorted the whole corpus by dup_key);
- the deduped+keyed rows are pinned with an eager localCheckpoint.  The
  key is built-in functions only (ops.common.dup_key_col), so the pin
  shares no Python evaluation; it keeps S1 at ONE corpus shuffle and one
  dedup window.  Without it the census and main branches each plan the
  repartition + window: over a parquet scan AQE's final plan has two
  ``Exchange hashpartitioning(conv_id)`` and no ReusedExchange (the
  census side carries an inferred ``isnotnull(_dkey)`` filter, so the
  subtrees differ); over a local relation the exchange is reused but the
  window still runs twice.  Downstream stages also re-read blocks, not
  lineage.  On a real cluster this is
  ``df.persist(StorageLevel.DISK_ONLY)`` or a stage-table write — same
  seam, see io.TableIO.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F

from ..ops.common import dup_key_col
from ..textops import MIN_DUP_GROUP

# partition oversubscription: conversations vary 2-16 turns, so 1 task per
# core straggles on the unlucky partition; 4x gives the scheduler room
PARTS_PER_CORE = 4


def validation_errors(df: DataFrame) -> DataFrame:
    """D4 feed: rows that cannot participate in ordering (null key parts).
    Mirrors the reference's bad-files ledger (get_files.py:86-102): the
    failure is RECORDED, not silently dropped."""
    bad = df.filter(F.col("conv_id").isNull() | F.col("turn_idx").isNull())
    return bad.select(
        F.lit("order").alias("stage"),
        F.concat_ws("#", F.coalesce(F.col("conv_id"), F.lit("?")),
                    F.coalesce(F.col("turn_idx").cast("string"), F.lit("?"))).alias("key"),
        F.lit("null_ordering_key").alias("reason"),
    )


def valid_turns(df: DataFrame) -> DataFrame:
    """Rows that can be ordered and carry text: a null conv_id/turn_idx or
    blank text is dropped.  Batch S1 surfaces the null-key rows via
    validation_errors -> the errors table (D4), never silently kept.  The
    streaming surface applies the same gate before extraction: a file
    source's schema nullability is advisory, and one null turn_idx would
    otherwise fail the whole query in the extractor's int() coercion."""
    return df.filter(
        F.col("conv_id").isNotNull() & F.col("turn_idx").isNotNull()
        & (F.length(F.trim(F.col("text"))) > 0))


def order_turns(df: DataFrame) -> DataFrame:
    parts = PARTS_PER_CORE * df.sparkSession.sparkContext.defaultParallelism

    df = valid_turns(df).repartition(parts, "conv_id")

    # exact within-conversation dedup, keep earliest turn — window is
    # clustered by a superset of the partitioning key: no extra exchange.
    # asc_nulls_LAST on ts: Spark's ascending default is nulls first while
    # the pandas oracle's mergesort puts NaT last, so on a (conv, text,
    # turn_idx) tie the two engines would keep DIFFERENT survivor rows.
    # role/tool complete the key: a full (turn_idx, ts) tie with differing
    # tool would otherwise pick a partition-arbitrary survivor — and the
    # survivor's tool decides whether a uses_tool triple is emitted
    w = W.partitionBy("conv_id", "text").orderBy(
        "turn_idx", F.col("ts").asc_nulls_last(),
        F.col("role").asc_nulls_last(), F.col("tool").asc_nulls_last())
    df = df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")

    # eager pin: keeps S1 at one corpus shuffle (see module docstring)
    keyed = df.withColumn("_dkey", dup_key_col("text")).localCheckpoint(eager=True)

    bad_keys = (
        keyed.groupBy("_dkey").agg(F.count("*").alias("_n"))
        .filter(F.col("_n") >= MIN_DUP_GROUP)
        .select("_dkey")
    )
    cleaned = keyed.join(F.broadcast(bad_keys), "_dkey", "left_anti").drop("_dkey")

    # partition-local order restore; per-conversation contiguity holds from
    # the single repartition above (pin preserves partitioning); nulls-last
    # ts matches the oracle's NaT-last mergesort
    return cleaned.sortWithinPartitions("conv_id", "turn_idx",
                                        F.col("ts").asc_nulls_last())
