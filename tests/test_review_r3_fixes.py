"""Regressions for the round-3 adversarial review of the pipeline core:
punctuation-only-alias mega-merge, streaming null guards and scipy-clip
minima semantics."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from kgp import linkspec, oracle
from kgp.ops import embed


def test_blocking_keys_empty_norm_is_keyless():
    assert linkspec.blocking_keys("...") == []
    assert linkspec.blocking_keys("?!") == []
    assert linkspec.blocking_keys("") == []
    keys = linkspec.blocking_keys("Eva Jensen")
    assert keys and all(k.startswith("d:") for k in keys)
    assert "d:eva" in keys and "d:jensen" in keys  # del-0 == shared token


def _vocab(rows):
    return pd.DataFrame(rows, columns=["entity_id", "canonical_name",
                                       "entity_type", "aliases"])


def test_punct_only_aliases_do_not_merge(spark):
    """Two unrelated entities each carrying a punctuation-only alias (which
    normalizes to '') must remain separate components on BOTH engines."""
    vocab = _vocab([
        (1, "Eva Jensen", "person", ["..."]),
        (2, "Zebra Ltd", "institution", ["?!"]),
        (3, "Eva Jnsen", "person", []),
    ])
    em = oracle.link_entities(vocab)
    canon = em.drop_duplicates("entity_id").set_index("entity_id")["canonical_id"]
    assert canon[1] != canon[2]  # no mega-merge via ''-norm aliases
    assert canon[1] == canon[3]  # real fuzzy pair still links

    from kgp.pipeline import cc, link
    vdf = spark.createDataFrame(vocab)
    edges = link.link_candidate_edges(vdf)
    got = {(r["a"], r["b"]) for r in edges.collect()}
    assert (1, 2) not in got and (2, 3) not in got
    assert (1, 3) in got


def test_relative_minima_matches_scipy_clip_semantics():
    # strictly increasing: clip mode never admits the boundary
    assert embed.relative_minima(np.arange(10.0)) == []
    assert embed.relative_minima(np.arange(10.0)[::-1]) == []
    # interior strict minimum survives
    assert embed.relative_minima(np.array([5.0, 4.0, 1.0, 4.0, 5.0])) == [2]
    # plateau is not a strict minimum
    assert embed.relative_minima(np.array([3.0, 1.0, 1.0, 3.0, 4.0])) == []


def test_streaming_conv_progress_tolerates_null_ts(spark, tmp_path):
    from kgp.streaming import read_transcript_stream, streaming_conv_progress

    pdf = pd.DataFrame({
        "conv_id": ["c1", "c1", "c1"],
        "turn_idx": pd.array([0, 1, 2], dtype="int32"),
        "role": ["user"] * 3,
        "text": ["a.", "b.", "c."],
        "tool": [None] * 3,
        "ts": [pd.Timestamp("2025-01-01"), pd.NaT, pd.Timestamp("2025-01-02")],
    })
    from kgp import schemas
    drop = str(tmp_path / "drops")
    spark.createDataFrame(pdf, schema=schemas.TRANSCRIPTS).write.parquet(drop)
    q = (
        streaming_conv_progress(read_transcript_stream(spark, drop))
        .writeStream.format("memory").queryName("convprog_nullts")
        .outputMode("update").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    out = spark.sql("SELECT * FROM convprog_nullts").toPandas()
    row = out.sort_values("n_turns").tail(1).iloc[0]
    assert int(row["n_turns"]) == 3  # null-ts turn still counted
    assert row["first_ts"] == pd.Timestamp("2025-01-01")
    assert row["last_ts"] == pd.Timestamp("2025-01-02")


def test_ascii_split_fast_path_equals_regex():
    """ascii_split's str.split() fast path must match the ASCII-class regex
    on every input, including the \\x1c-\\x1f separator controls Python's
    str.split() treats as whitespace but the JVM/DuckDB twins do not."""
    from hypothesis import given, settings, strategies as st

    from kgp.textops import _WS_ASCII_RE, ascii_split

    alphabet = st.sampled_from(list("ab .\t\n\r\f\v\x1c\x1d\x1e\x1f\xa0 é"))

    @settings(max_examples=500, deadline=None)
    @given(st.text(alphabet=alphabet, max_size=24))
    def check(s):
        assert ascii_split(s) == [t for t in _WS_ASCII_RE.split(s) if t]

    check()


def test_streaming_extraction_drops_invalid_rows(spark, tmp_path):
    """A null turn_idx row in a drop must be filtered, not crash the query."""
    from kgp import schemas
    from kgp.streaming import read_transcript_stream, streaming_triples

    from datetime import datetime
    ts = datetime(2025, 1, 1)
    rows = [
        ("c1", 0, "user", "Alice meets Bob.", None, ts),
        ("c1", None, "user", "valid text.", None, ts),
        (None, 1, "user", "also valid.", None, ts),
    ]
    drop = str(tmp_path / "drops2")
    # a foreign producer may write nulls even where OUR schema says
    # non-null — file-source nullability is advisory, not enforced
    from pyspark.sql import types as T
    nullable = T.StructType([T.StructField(f.name, f.dataType, True)
                             for f in schemas.TRANSCRIPTS.fields])
    spark.createDataFrame(rows, schema=nullable).write.parquet(drop)
    q = (
        streaming_triples(read_transcript_stream(spark, drop), [("Alice", 1, "person")])
        .writeStream.format("memory").queryName("trip_nullidx")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    out = spark.sql("SELECT * FROM trip_nullidx").toPandas()
    assert set(out["turn_idx"]) == {0}  # only the fully-valid row extracted


def test_oracle_edges_no_fanout_on_duplicate_turn_idx(spark):
    """Two ordered rows sharing (conv_id, turn_idx) with different text:
    edges must carry the EMITTING row's ts, one edge per triple — the
    former (conv_id, turn_idx) join-back fanned out (2 edges per triple,
    one per ts) and the Spark twin never did."""
    from kgp import synth

    vocab_pd = synth.gen_entity_vocab(20)
    a = vocab_pd["canonical_name"].iloc[0]
    b = vocab_pd["canonical_name"].iloc[1]
    t = pd.DataFrame([
        ("c", 0, "user", f"{a} works with {b}.", None,
         pd.Timestamp("2025-01-01 00:00")),
        ("c", 0, "user", f"{b} works with {a}.", None,
         pd.Timestamp("2025-01-01 00:05")),
    ], columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"])
    out = oracle.run_pipeline(t, vocab_pd)
    edges = out["edges"]
    # 2 surviving rows (distinct text), 1 entity-pair triple each
    assert len(edges) == 2
    assert set(edges["ts"]) == {pd.Timestamp("2025-01-01 00:00"),
                                pd.Timestamp("2025-01-01 00:05")}


def test_oracle_nan_tool_emits_no_uses_tool_triple():
    """pandas float NaN in the tool column is truthy — the oracle must
    sanitize it to None exactly like pipeline/extract.py."""
    from kgp import synth

    vocab_pd = synth.gen_entity_vocab(20)
    t = pd.DataFrame([
        ("c", 0, "user", "hello there.", np.nan,
         pd.Timestamp("2025-01-01")),
    ], columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"])
    t["tool"] = t["tool"].astype("float64")  # the read_csv-style dtype
    out = oracle.run_pipeline(t, vocab_pd)
    assert not (out["raw_triples"]["pred"] == "uses_tool").any()


def test_dedup_survivor_tiebreak_matches_across_engines(spark):
    """Full (conv, text, turn_idx, ts) tie with differing tool: both
    engines must keep the SAME survivor (role/tool complete the sort key),
    or uses_tool triples flake between engines."""
    from kgp import synth
    from kgp.pipeline.order import order_turns

    vocab_pd = synth.gen_entity_vocab(10)
    ts = pd.Timestamp("2025-01-01")
    rows = [("c", 0, "user", "same text here.", tool, ts)
            for tool in ("zz_tool", "aa_tool", None)]
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role",
                                      "text", "tool", "ts"])
    o = oracle.order_turns(pdf)
    assert len(o) == 1 and o["tool"].iloc[0] == "aa_tool"
    s = order_turns(spark.createDataFrame(pdf)).toPandas()
    assert len(s) == 1 and s["tool"].iloc[0] == "aa_tool"
