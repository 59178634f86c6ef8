"""Fixed explicit schemas (SURVEY.md §1.3 — no inference anywhere).

The transcript schema is the authoritative input shape from
BASELINE.json's input_hint:
(conv_id:string, turn_idx:int32, role:string, text:string, tool:string,
 ts:timestamp).
"""

from __future__ import annotations

from pyspark.sql import types as T

TRANSCRIPTS = T.StructType([
    # conv_id/turn_idx nullable: the D4 contract REQUIRES dirty inputs
    # with null ordering keys to be representable (order.validation_errors
    # ledgers them; a non-nullable field would both reject such rows at
    # createDataFrame and let Catalyst constant-fold the isNull() checks
    # the ledger is built from)
    T.StructField("conv_id", T.StringType(), True),
    T.StructField("turn_idx", T.IntegerType(), True),
    T.StructField("role", T.StringType(), True),
    T.StructField("text", T.StringType(), True),
    T.StructField("tool", T.StringType(), True),
    T.StructField("ts", T.TimestampType(), True),
])

ENTITY_VOCAB = T.StructType([
    T.StructField("entity_id", T.LongType(), False),
    T.StructField("canonical_name", T.StringType(), False),
    T.StructField("entity_type", T.StringType(), False),
    T.StructField("aliases", T.ArrayType(T.StringType()), False),
])

MENTIONS = T.StructType([
    T.StructField("conv_id", T.StringType(), False),
    T.StructField("turn_idx", T.IntegerType(), False),
    T.StructField("sent_idx", T.IntegerType(), False),
    T.StructField("mention", T.StringType(), False),
    T.StructField("entity_type", T.StringType(), False),
])

RAW_TRIPLES = T.StructType([
    T.StructField("conv_id", T.StringType(), False),
    T.StructField("turn_idx", T.IntegerType(), False),
    T.StructField("subj", T.StringType(), False),
    T.StructField("pred", T.StringType(), False),
    T.StructField("obj", T.StringType(), False),
    T.StructField("ts", T.TimestampType(), True),
])

# one extraction pass emits ONE compact row per turn, with mentions and
# raw triples as nested struct arrays.  vs the former exploded union shape
# (~4.5 emitted rows/turn, 10 mostly-null columns, conv_id/ts repeated per
# emission) this cuts the Arrow python→JVM transfer and the checkpoint
# bytes ~3× — at bench scale that JVM byte-shoveling was a measurable
# drag on extract-phase scaling.  Consumers explode lazily JVM-side
# (mentions_view / raw_triples_view: whole-stage-codegen generators).
# The turn timestamp rides along so S5 never joins the corpus back just
# to stamp edges.
EXTRACTED = T.StructType([
    T.StructField("conv_id", T.StringType(), False),
    T.StructField("turn_idx", T.IntegerType(), False),
    T.StructField("ts", T.TimestampType(), True),
    T.StructField("mentions", T.ArrayType(T.StructType([
        T.StructField("sent_idx", T.IntegerType(), False),
        T.StructField("mention", T.StringType(), False),
        T.StructField("entity_type", T.StringType(), False),
    ])), False),
    T.StructField("triples", T.ArrayType(T.StructType([
        T.StructField("subj", T.StringType(), False),
        T.StructField("pred", T.StringType(), False),
        T.StructField("obj", T.StringType(), False),
    ])), False),
])

ENTITY_MAP = T.StructType([
    T.StructField("surface", T.StringType(), False),
    T.StructField("entity_id", T.LongType(), False),
    T.StructField("canonical_id", T.LongType(), False),
])

NODES = T.StructType([
    T.StructField("canonical_id", T.LongType(), False),
    T.StructField("name", T.StringType(), False),
    T.StructField("entity_type", T.StringType(), False),
])

EDGES = T.StructType([
    T.StructField("src", T.LongType(), False),
    T.StructField("dst", T.LongType(), False),
    T.StructField("pred", T.StringType(), False),
    T.StructField("conv_id", T.StringType(), False),
    T.StructField("ts", T.TimestampType(), True),
])

# D4 failure ledger (reference get_files.py:86-102 bad_files dict → a real
# table written alongside outputs)
ERRORS = T.StructType([
    T.StructField("stage", T.StringType(), False),
    T.StructField("key", T.StringType(), False),
    T.StructField("reason", T.StringType(), False),
])

METRICS = T.StructType([
    T.StructField("stage", T.StringType(), False),
    T.StructField("partition_id", T.IntegerType(), False),
    T.StructField("input_rows", T.LongType(), True),
    T.StructField("output_rows", T.LongType(), False),
    T.StructField("checksum", T.StringType(), False),
    T.StructField("snapshot_id", T.StringType(), False),
    T.StructField("committed_at", T.TimestampType(), False),
])
