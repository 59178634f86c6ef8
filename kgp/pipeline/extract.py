"""S2 — vectorized mention detection + triple extraction (mapInPandas).

One Arrow-batched pass over the ordered turns emits BOTH mention rows and
raw triple rows (union schema EXTRACTED) — the per-sentence NER loop of the
reference (src/data/extract_entities.py:29-50) re-expressed as an
iterator-of-batches pandas transform: the gazetteer matcher is built once
on the driver and broadcast; each python worker unpickles the broadcast
value once and caches it (analog of loading the NER model once per
executor, SURVEY.md §2.9 M1), then applies it to every batch.

No per-row Python at the Spark API layer (input_hint requirement): Spark
hands us Arrow record batches; the tight loop is plain-python over an
in-memory batch, exactly like the reference's chunked NER calls
(entity_alias_mapping.ipynb cell-16, chunks of 100).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from .. import schemas
from ..textops import GazetteerMatcher, extract_turn
from .link import surfaces_df


def collect_surface_rows(vocab: DataFrame) -> list[tuple[str, int, str]]:
    """(surface, entity_id, entity_type) for every canonical name and alias
    of ``vocab``, collected to the driver (one row per surface,
    vocabulary-sized) — the list extract() builds its broadcast matcher
    from."""
    return [(r["surface"], int(r["entity_id"]), r["entity_type"])
            for r in surfaces_df(vocab).collect()]


def extract(ordered: DataFrame, surface_rows: list[tuple[str, int, str]],
            cue_toks: list[tuple[str, tuple[str, ...]]] | None = None) -> DataFrame:
    """ordered(conv_id, turn_idx, role, text, tool, ts) -> EXTRACTED rows.

    ``cue_toks`` overrides the predicate-cue dictionary (textops._CUE_TOKS
    shape); the transcript pipeline always uses the default — the override
    exists for the documents-corpus oracle entry (ops.docextract)."""
    b_matcher = ordered.sparkSession.sparkContext.broadcast(GazetteerMatcher(surface_rows))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        matcher = b_matcher.value
        for pdf in batches:
            # one compact row per turn: mention/triple tuples nest into
            # struct arrays (schemas.EXTRACTED) — conv_id/ts are never
            # repeated per emission and the Arrow transfer stays ~3×
            # smaller than the former exploded union shape
            mentions_col, triples_col = [], []
            for conv_id, turn_idx, text, tool in zip(
                pdf["conv_id"], pdf["turn_idx"], pdf["text"], pdf["tool"]
            ):
                mrows, trows = extract_turn(
                    conv_id, int(turn_idx), text or "",
                    tool if isinstance(tool, str) and tool else None, matcher,
                    cue_toks,
                )
                mentions_col.append([(s, mention, etype) for _c, _t, s, mention, etype in mrows])
                triples_col.append([(sj, pr, ob) for _c, _t, sj, pr, ob in trows])
            yield pd.DataFrame({
                "conv_id": pdf["conv_id"],
                "turn_idx": pdf["turn_idx"].astype("int32"),
                "ts": pdf["ts"],
                "mentions": mentions_col,
                "triples": triples_col,
            })

    return ordered.select("conv_id", "turn_idx", "text", "tool", "ts").mapInPandas(
        run, schema=schemas.EXTRACTED
    )


def mentions_view(extracted: DataFrame) -> DataFrame:
    from pyspark.sql import functions as F

    return extracted.select(
        "conv_id", "turn_idx", F.explode("mentions").alias("m")
    ).select(
        "conv_id", "turn_idx",
        F.col("m.sent_idx").alias("sent_idx"),
        F.col("m.mention").alias("mention"),
        F.col("m.entity_type").alias("entity_type"),
    )


def raw_triples_view(extracted: DataFrame) -> DataFrame:
    from pyspark.sql import functions as F

    return extracted.select(
        "conv_id", "turn_idx", "ts", F.explode("triples").alias("t")
    ).select(
        "conv_id", "turn_idx",
        F.col("t.subj").alias("subj"),
        F.col("t.pred").alias("pred"),
        F.col("t.obj").alias("obj"),
        "ts",
    )
