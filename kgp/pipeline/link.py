"""S3 — entity linking: blocked candidate generation + fuzzy verification.

Replaces the reference's O(n²) greedy fuzzy grouping
(entity_alias_mapping.ipynb cell-20) and exact same-name loop (cell-29)
with shuffle-native blocking:

- normalized-surface equality edges: one groupBy(norm) — the same-name case
- blocking keys (token deletion neighborhoods, kgp.linkspec) exploded and
  self-joined — candidates only ever meet inside a block, so the verify
  cost is |block|² per block instead of n² total
- pairs deduped BEFORE verification (verify is the expensive part)
- verification = the same token_set_ratio >= 85 as the reference, in an
  Arrow-batched pandas UDF

Skew note: deletion-neighborhood keys of frequent name tokens ("Jensen")
are the hot keys; keys shared by more than linkspec.MAX_BLOCK_DF
entities are dropped (the df cap), and AQE skew-join splits what remains
at runtime.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from .. import linkspec
from ..ops.common import explode_once
from ..textops import normalize_surface


@F.pandas_udf(T.StringType())
def _norm(s: pd.Series) -> pd.Series:
    return s.map(lambda x: normalize_surface(x or ""))


@F.pandas_udf(T.ArrayType(T.StringType()))
def _block_keys(names: pd.Series) -> pd.Series:
    return names.map(lambda n: linkspec.blocking_keys(n or ""))


@F.pandas_udf(T.BooleanType())
def _verify(a: pd.Series, b: pd.Series) -> pd.Series:
    return pd.Series([linkspec.verify_pair(x or "", y or "") for x, y in zip(a, b)])


def surfaces_df(vocab: DataFrame) -> DataFrame:
    """(entity_id, entity_type, surface) — canonical name + all aliases: S3's
    surface rows and, collected, S2's gazetteer."""
    return vocab.select(
        "entity_id", "entity_type",
        F.explode(F.concat(F.array("canonical_name"), "aliases")).alias("surface"),
    )


def link_candidate_edges(vocab: DataFrame) -> DataFrame:
    """Undirected link edges (a < b) between entity ids."""
    surf = surfaces_df(vocab).withColumn("norm", _norm("surface"))

    # (a) normalized-surface equality → edge to the group min (star shape is
    # enough: CC closes the transitivity).  Empty norms are EXCLUDED: every
    # punctuation-only alias ('...', '?!') normalizes to '', and a norm=''
    # group would hard-link all entities owning such an alias into one
    # spurious component (the oracle applies the identical guard).
    eq_edges = (
        surf.filter(F.col("norm") != "")
        .groupBy("norm")
        .agg(F.min("entity_id").alias("a"), F.collect_set("entity_id").alias("ids"))
        .select("a", F.explode("ids").alias("b"))
        .filter(F.col("a") < F.col("b"))
    )

    # (b) deletion-neighborhood blocking on canonical names, dedupe pairs,
    # then fuzzy verify.  Frequency cap exactly linkspec.block_is_capped: a
    # hot key ("jensen") would be an O(df²) verify block.  The oracle
    # applies the same rule, so candidate sets stay equal by construction.
    # The capped-keys set is a handful of rows — broadcast anti-join, no
    # second vocab shuffle.
    # explode_once: a bare inner explode would double-evaluate the blocking
    # UDF below the exchange (see ops.common).  Deliberately NOT persisted:
    # the three consumers (df census, both self-join sides) re-derive the
    # UDF once each, but blocking_keys over the VOCAB (entities, not the
    # corpus) is cheap and the persist barrier measurably adds ~0.5s of
    # latency to the overlapped linking branch at bench scale (ABBA-
    # measured); at a 10^7+-entity vocab, swap in .persist() here.
    blocks = explode_once(
        vocab.select(F.col("entity_id").alias("id"),
                     F.col("canonical_name").alias("name")),
        ["id", "name"], _block_keys("name"), ["bkey"], pos=False,
    )
    capped = (
        blocks.groupBy("bkey").agg(F.count("*").alias("_n"))
        .filter(F.col("_n") > linkspec.MAX_BLOCK_DF)
        .select("bkey")
    )
    blocks = blocks.join(F.broadcast(capped), "bkey", "left_anti")
    l, r = blocks.alias("l"), blocks.alias("r")
    pairs = (
        l.join(r, "bkey")
        .filter(F.col("l.id") < F.col("r.id"))
        .select(
            F.col("l.id").alias("a"), F.col("l.name").alias("na"),
            F.col("r.id").alias("b"), F.col("r.name").alias("nb"),
        )
        .dropDuplicates(["a", "b"])
    )
    fuzzy_edges = pairs.filter(_verify("na", "nb")).select("a", "b")

    return eq_edges.union(fuzzy_edges).distinct()


def entity_map_from_edges(vocab: DataFrame, assignments: DataFrame) -> DataFrame:
    """entity_map(surface, entity_id, canonical_id) from CC assignments
    (entity_id, canonical_id); entities absent from the link graph are their
    own canonical."""
    surf = surfaces_df(vocab)
    return (
        surf.join(assignments, "entity_id", "left")
        .withColumn("canonical_id", F.coalesce("canonical_id", "entity_id"))
        .select("surface", "entity_id", "canonical_id")
        .dropDuplicates(["surface", "entity_id"])
    )
