"""S5 — graph materialization: canonical triples + nodes/edges tables.

The rdf_graph.ipynb cell-10..cell-29 analog, but declarative: surface →
canonical resolution is two hash joins against the (small) surface map
(Catalyst/AQE broadcasts it under the threshold; at a vocabulary too big
to broadcast it degrades gracefully to sort-merge), and the final edges
table is written with a salted repartition on the entity key so a Zipf
head entity (rdf_graph.ipynb cell-18's rolleid skew) cannot pin one
writer partition/file (the north rule's skew requirement).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

SALT_BUCKETS = 16  # edges writer spread (see spread_writers)


def _resolve(t: DataFrame, smap: DataFrame, col: str) -> DataFrame:
    """Replace ``srf:<surface>`` values in `col` with ``ent:<canonical_id>``."""
    srf = F.when(F.col(col).startswith("srf:"), F.expr(f"substring({col}, 5)"))
    t = t.withColumn("_srf", srf)
    t = t.join(
        smap.withColumnRenamed("surface", "_srf").withColumnRenamed("canonical_id", "_cid"),
        "_srf",
        "left",
    )
    resolved = F.when(F.col("_srf").isNull(), F.col(col)).otherwise(
        F.concat(F.lit("ent:"), F.col("_cid").cast("string"))
    )
    # an unmatched surface (None _cid on a srf: row) is dropped — cannot
    # happen with a closed gazetteer, but guards open-vocabulary detectors
    return (
        t.withColumn(col, resolved)
        .filter(F.col("_srf").isNull() | F.col("_cid").isNotNull())
        .drop("_srf", "_cid")
    )


def spread_writers(edges: DataFrame) -> DataFrame:
    """Salted repartition of edges(src, conv_id, ts, ...) on the entity key:
    hot src values spread over SALT_BUCKETS writer partitions (the salt is a
    content hash, so the layout is deterministic).

    To be precise about what this buys: it is a WRITER SPREAD — it defuses
    single-writer hot partitions under Zipf head entities; it does NOT
    preserve per-src locality for later reads (a consumer wanting src
    clustering reads the pred-partitioned materialized table instead)."""
    parts = edges.sparkSession.sparkContext.defaultParallelism
    return edges.repartition(
        parts,
        F.col("src"),
        F.pmod(F.xxhash64("conv_id", "ts"), F.lit(SALT_BUCKETS)).alias("_salt"),
    )


def surface_map_df(entity_map: DataFrame) -> DataFrame:
    return entity_map.groupBy("surface").agg(F.min("canonical_id").alias("canonical_id"))


def unmatched_surfaces(raw_triples: DataFrame, entity_map: DataFrame) -> DataFrame:
    """D4 feed: ``srf:`` operands with no canonical mapping — the rows
    `_resolve` drops.  Empty under a closed gazetteer; load-bearing for
    open-vocabulary detectors."""
    smap = surface_map_df(entity_map)
    srf = (
        raw_triples.select(F.col("subj").alias("v"))
        .union(raw_triples.select(F.col("obj").alias("v")))
        .filter(F.col("v").startswith("srf:"))
        .select(F.expr("substring(v, 5)").alias("surface"))
        .distinct()
    )
    return srf.join(smap, "surface", "left_anti").select(
        F.lit("materialize").alias("stage"),
        F.col("surface").alias("key"),
        F.lit("unmatched_surface").alias("reason"),
    )


def nodes_df(vocab: DataFrame, entity_map: DataFrame) -> DataFrame:
    """One row per canonical entity: vocab ⋈ canon WHERE entity_id = canonical_id."""
    canon = entity_map.select("entity_id", "canonical_id").distinct()
    return (
        vocab.join(canon, "entity_id")
        .filter(F.col("entity_id") == F.col("canonical_id"))
        .select("canonical_id", F.col("canonical_name").alias("name"), "entity_type")
    )


def materialize(raw_triples: DataFrame, entity_map: DataFrame, vocab: DataFrame):
    smap = surface_map_df(entity_map)
    t = _resolve(raw_triples, smap, "subj")
    t = _resolve(t, smap, "obj")
    triples = t.select("subj", "pred", "obj", "conv_id", "turn_idx")

    nodes = nodes_df(vocab, entity_map)

    # the emitting turn's timestamp rode along from S2 (schemas.EXTRACTED):
    # no join back to the ordered corpus
    edges = (
        t.filter(F.col("subj").startswith("ent:") & F.col("obj").startswith("ent:"))
        .select(
            F.expr("cast(substring(subj, 5) as long)").alias("src"),
            F.expr("cast(substring(obj, 5) as long)").alias("dst"),
            "pred", "conv_id", "ts",
        )
    )
    return triples, nodes, spread_writers(edges)
