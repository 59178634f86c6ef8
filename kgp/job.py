"""spark-submit entry point.

Usage (cluster):
    spark-submit --py-files kgp.zip kgp/job.py \
        --input /path/to/transcripts_parquet --vocab /path/to/vocab_parquet \
        --out /path/to/warehouse

Usage (synthetic, local):
    python -m kgp.job --synth-convs 2000 --synth-entities 500 --out /tmp/kgp_out

Usage (incremental catch-up over a growing transcript directory):
    python -m kgp.job --stream-input /path/to/drops --vocab /path/to/vocab \
        --out /path/to/warehouse
Each run processes ONLY parquet files the stream checkpoint has not seen
(availableNow trigger), landing per-turn triples exactly-once into
TableIO micro-batch tables; entity linking + canonicalization remain the
batch job over the accumulated warehouse.
"""

from __future__ import annotations

import argparse
import time


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description="kgp knowledge-graph construction job")
    ap.add_argument("--input", help="parquet dir of transcripts (conv_id,turn_idx,role,text,tool,ts)")
    ap.add_argument("--vocab", help="parquet dir of entity vocabulary")
    ap.add_argument("--synth-convs", type=int, default=0, help="generate N synthetic conversations instead of --input")
    ap.add_argument("--synth-entities", type=int, default=500)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--out", required=True, help="output warehouse root")
    ap.add_argument("--master", default=None)
    ap.add_argument("--force", action="store_true", help="recompute all stages")
    ap.add_argument("--stream-input",
                    help="parquet dir ingested incrementally: each run processes only "
                         "files the stream checkpoint has not seen and lands triples "
                         "exactly-once (requires --vocab)")
    args = ap.parse_args(argv)

    from .session import get_spark
    from .pipeline import run_pipeline

    spark = get_spark(master=args.master, app_name="kgp-job")
    try:
        if args.stream_input:
            if not args.vocab:
                ap.error("--stream-input requires --vocab")
            _run_stream(spark, args)
            return
        if args.synth_convs:
            from .synth import gen_entity_vocab, gen_transcripts_spark

            vocab_pdf = gen_entity_vocab(args.synth_entities, args.seed)
            transcripts = gen_transcripts_spark(spark, args.synth_convs, vocab_pdf, args.seed)
            vocab = spark.createDataFrame(vocab_pdf)
            fingerprint = f"synth:{args.synth_convs}:{args.synth_entities}:{args.seed}"
        else:
            if not args.input or not args.vocab:
                ap.error("either --synth-convs or both --input and --vocab are required")
            transcripts = spark.read.parquet(args.input)
            vocab = spark.read.parquet(args.vocab)
            # CONTENT fingerprint, not the raw paths: regenerating the
            # input files in place must invalidate the resume — a
            # path-only fingerprint would silently serve the previous
            # dataset's committed outputs (dataset_tag hashes every part
            # file's relpath/size/mtime recursively)
            from .ops.common import cached_dataset_tag

            fingerprint = (f"content:{cached_dataset_tag(args.input)}"
                           f":{cached_dataset_tag(args.vocab)}")

        t0 = time.monotonic()
        out = run_pipeline(spark, transcripts, vocab, args.out, fingerprint, force=args.force)
        elapsed = time.monotonic() - t0
        n_turns = out["ordered"].count()
        n_triples = out["triples"].count()
        print(f"kgp-job done: {n_turns} turns -> {n_triples} triples in {elapsed:.1f}s "
              f"({n_turns / max(elapsed, 1e-9):.0f} turns/s); recomputed={out['recomputed']}")
    finally:
        spark.stop()


def _run_stream(spark, args) -> None:
    """Incremental catch-up: drain unseen transcript drops into
    exactly-once triples micro-batch tables (streaming.drain_triples)."""
    from .io import TableIO
    from .pipeline.extract import collect_surface_rows
    from .streaming import committed_batches, drain_triples

    table = "triples_stream"
    surface_rows = collect_surface_rows(spark.read.parquet(args.vocab))
    pre = set(committed_batches(args.out, table))
    t0 = time.monotonic()
    all_b = drain_triples(spark, args.stream_input, surface_rows, args.out, table)
    elapsed = time.monotonic() - t0

    io = TableIO(args.out)
    new = [n for n in all_b if n not in pre]
    new_rows = sum(io.manifest(n)["rows"] for n in new)
    total_rows = sum(io.manifest(n)["rows"] for n in all_b)
    print(f"kgp-stream done: {len(new)} new micro-batches -> {new_rows} new triples "
          f"in {elapsed:.1f}s ({total_rows} triples across {len(all_b)} committed batches)")


if __name__ == "__main__":
    main()
