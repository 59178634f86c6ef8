"""Streaming surface: file-source stream == batch result, exactly-once sink."""

from __future__ import annotations

import pytest

from kgp import schemas, synth
from kgp.streaming import read_transcript_stream


@pytest.fixture(scope="module")
def stream_input(spark, tiny_vocab, tiny_transcripts, tmp_path_factory):
    """Transcripts written as 3 separate parquet drops (micro-batch files)."""
    d = str(tmp_path_factory.mktemp("stream_in"))
    n = len(tiny_transcripts)
    for i, lo in enumerate(range(0, n, n // 3 + 1)):
        chunk = tiny_transcripts.iloc[lo: lo + n // 3 + 1]
        spark.createDataFrame(chunk, schema=schemas.TRANSCRIPTS).coalesce(1).write.mode(
            "append").parquet(d)
    return d


def test_stream_catchup_registry_entry(spark):
    """The stream_triples_catchup registry entry (file-source stream →
    availableNow → exactly-once TableIO sink → committed read-back) emits
    the EXACT triple multiset of the batch extractor over the same
    validated rows, and a second invocation is an idempotent catch-up
    (same snapshots, no re-commit).

    The comparison is against extraction over valid_turns-filtered rows,
    NOT the full S1 (order_turns): the corpus-level dedup steps — the
    (conv_id, text) D1 window and the D2 boilerplate census — are corpus
    aggregates that the firehose architecture deliberately leaves to the
    periodic batch pass over the landed warehouse (streaming.py module
    docstring)."""
    import os

    from pyspark.sql import functions as F

    from kgp import queries as Qmod
    from kgp.io import TableIO
    from kgp.pipeline.extract import extract, raw_triples_view
    from kgp.queries import _kgp_inputs, _stream_triples_catchup
    from kgp.synth import vocab_surface_rows

    cols = ["conv_id", "turn_idx", "subj", "pred", "obj"]
    got = (_stream_triples_catchup(spark, "")
           .select(cols).toPandas().sort_values(cols).reset_index(drop=True))
    vocab_pd, _ = _kgp_inputs(spark)
    batch = spark.read.parquet(f"{Qmod._STREAM_ROOT[0]}/in").filter(
        F.col("conv_id").isNotNull() & F.col("turn_idx").isNotNull()
        & (F.length(F.trim("text")) > 0))
    exp = (raw_triples_view(extract(batch, vocab_surface_rows(vocab_pd)))
           .select(cols).toPandas().sort_values(cols).reset_index(drop=True))
    assert len(got) > 0 and got.equals(exp)

    root = Qmod._STREAM_ROOT[0]
    io = TableIO(f"{root}/wh")
    snaps = {t: io.manifest(t)["snapshot_id"]
             for t in os.listdir(f"{root}/wh") if t.startswith("triples_batch")}
    assert snaps, "no committed stream batches"
    # every committed batch carries its lineage manifest, and the
    # manifests' row counts add up to the streamed multiset
    assert sum(io.manifest(t)["rows"] for t in snaps) == len(exp)
    # second call: catch-up no-op — identical committed snapshots
    again = (_stream_triples_catchup(spark, "")
             .select(cols).toPandas().sort_values(cols).reset_index(drop=True))
    assert again.equals(exp)
    snaps2 = {t: io.manifest(t)["snapshot_id"]
              for t in os.listdir(f"{root}/wh") if t.startswith("triples_batch")}
    assert snaps2 == snaps


def test_streaming_triples_equal_batch(spark, tiny_vocab, stream_input):
    """The flagship triple emitter streams bit-identically: the triple
    multiset from micro-batched execution equals the batch
    raw_triples_view over the same files."""
    from kgp.pipeline.extract import extract, raw_triples_view
    from kgp.streaming import streaming_triples
    from pyspark.sql import functions as F

    surface_rows = synth.vocab_surface_rows(tiny_vocab)
    stream = read_transcript_stream(spark, stream_input, max_files_per_trigger=1)
    q = (
        streaming_triples(stream, surface_rows)
        .writeStream.format("memory").queryName("tstream")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)

    cols = ["conv_id", "turn_idx", "subj", "pred", "obj"]
    got = (spark.sql("select * from tstream").select(cols)
           .toPandas().sort_values(cols).reset_index(drop=True))
    batch = spark.read.parquet(stream_input).filter(
        F.length(F.trim("text")) > 0)
    exp = (raw_triples_view(extract(batch, surface_rows)).select(cols)
           .toPandas().sort_values(cols).reset_index(drop=True))
    assert got.equals(exp)
    assert len(got) > 0


def test_job_stream_input_catches_up(spark, tiny_vocab, tiny_transcripts,
                                     tmp_path, capsys):
    """``python -m kgp.job --stream-input``, driven in-process (main()
    would stop the shared session): each run lands exactly the drops the
    checkpoint has not seen, and the committed manifests add up to the
    batch extractor over the same files."""
    import argparse
    import re

    from kgp import job
    from kgp.io import TableIO
    from kgp.pipeline.extract import extract, raw_triples_view
    from kgp.pipeline.order import valid_turns
    from kgp.streaming import committed_batches

    drops, vocab, out = (str(tmp_path / d) for d in ("drops", "vocab", "wh"))
    spark.createDataFrame(tiny_vocab, schema=schemas.ENTITY_VOCAB).write.parquet(vocab)
    surface_rows = synth.vocab_surface_rows(tiny_vocab)
    args = argparse.Namespace(stream_input=drops, vocab=vocab, out=out)
    half = len(tiny_transcripts) // 2

    def drop(rows):
        df = spark.createDataFrame(rows, schema=schemas.TRANSCRIPTS)
        df.coalesce(1).write.mode("append").parquet(drops)
        return raw_triples_view(extract(valid_turns(df), surface_rows)).count()

    def run():
        job._run_stream(spark, args)
        m = re.search(r"kgp-stream done: (\d+) new micro-batches -> (\d+) new",
                      capsys.readouterr().out)
        return int(m[1]), int(m[2])

    n_first = drop(tiny_transcripts.iloc[:half])
    assert n_first > 0
    assert run() == (1, n_first)
    assert run() == (0, 0)  # nothing unseen: catch-up no-op
    n_second = drop(tiny_transcripts.iloc[half:])
    assert n_second > 0
    assert run() == (1, n_second)  # only the appended drop is processed

    names = committed_batches(out, "triples_stream")
    assert len(names) == 2
    io = TableIO(out)
    batch = spark.read.parquet(drops)
    assert (sum(io.manifest(n)["rows"] for n in names)
            == raw_triples_view(extract(valid_turns(batch), surface_rows)).count())
