"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS]; prints ONE JSON line.

Each query is forced to full materialization with the noop sink (no
driver-side collect — measures the distributed plan, not toPandas).
Also runs the transcript KG pipeline (the north-rule workload) on a
deterministic synthetic corpus sized to the scale factor and reports
turns/s (BASELINE.md metric).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

HEADLINE = [
    "kg_edges",
    "kg_edges_by_pred",
    # flagship M1 extraction semantics over the documents corpus (the
    # hash-gated twin of the transcript pipeline's extractor)
    "kgp_extract_docs",
    "bgp_two_hop",
    # BGP over the pred-partitioned MATERIALIZED graph (partition-pruned
    # single scans; the build cost is reported once under setup)
    "bgp_two_hop_mat",
    "bgp_conjunctive_mat",
    "bgp_date_range_mat",
    "agg_pricing_summary",
    "w3_topk_per_group",
    "sessionize",
    "hourly_event_counts",
    "dedup_exact_survivors",
    "dedup_masked_groups",
    # NOT the exact n-gram self-join: with this corpus's tiny closed bigram
    # vocabulary it is Θ(Σ df²) ≈ 73M join rows at sf0.1 — the minhash-LSH
    # variant is the scale path (exact join stays as the sf0.01 oracle query)
    "dedup_minhash_pairs",
    "dedup_simhash_pairs",
    "text_doc_profile",
    "text_fingerprints",
    # text reshaping (grouped-map + window surface)
    "t2_segment_sentences",
    "t4_adjust_lengths",
    "corpus_curation",
    "t8_context_windows",
    "t5_wordpiece",
    # similarity / retrieval
    "knn_cosine_topk",
    "dedup_cosine_pairs_lsh",
    "m2_embed_neardup",
    "ann_batch_topk",
    "ann_ivf_topk",
    "retrieval_pipeline",
    # zero-exchange co-located join over bucketBy'd fact tables
    "bucketed_order_revenue",
    "mm_meta",
    # M7 protocol surface: whole-stage-codegen generate→parse round trip,
    # and the composed MCQ deployment pipeline (divide → retrieve → union
    # → budget trim → answer parse)
    "m7_qa_generate",
    "m7_mcq_pipeline",
]

# conversations for the KG-pipeline throughput probe, by scale factor
KGP_CONVS = {"0.001": 200, "0.01": 1000, "0.1": 4000,
             # the amplified bench dirs (tools/make_bench_sf.py) scale the
             # transcript corpus with them, keeping turns/s comparable
             "0.5": 20000, "2": 80000}


def _materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def run_kgp(spark, n_conv: int, repeats: int = 1) -> dict:
    from kgp import synth
    from kgp.pipeline import run_pipeline

    vocab_pd = synth.gen_entity_vocab(400)
    transcripts = synth.gen_transcripts_spark(spark, n_conv, vocab_pd).cache()
    n_turns = transcripts.count()  # cache the input so generation cost is excluded

    # best-of-N over the SAME cached corpus (generating a fresh corpus per
    # repeat would double untimed wall-clock for no measurement value)
    best = float("inf")
    for _ in range(max(1, repeats)):
        t0 = time.time()
        vocab = spark.createDataFrame(vocab_pd)
        out = run_pipeline(spark, transcripts, vocab)
        _materialize(out["edges"])
        best = min(best, time.time() - t0)
    transcripts.unpersist()
    return {"n_turns": n_turns, "sec": round(best, 3),
            "turns_per_sec": round(n_turns / best, 1)}


def main() -> None:
    from kgp.ops.common import release_pins
    from kgp.queries import REGISTRY
    from kgp.session import get_spark

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    try:  # a non-sf-suffixed dir must not crash the final JSON print
        sf_val = float(sf)
    except ValueError:
        sf_val = None
    # bench-only tmpfs shuffle dirs (the library default stays on disk so
    # real deployments spill instead of dying on a capped /dev/shm; here the
    # per-query shuffles are MBs and the box has 126G of tmpfs)
    os.environ.setdefault("KGP_SPARK_LOCAL_DIRS", "/dev/shm/kgp-spark")
    spark = get_spark(master=f"local[{CPUS}]", app_name="kgp-bench")

    # warm up JVM + python workers (excluded from timings)
    _materialize(REGISTRY["kg_edges_by_pred"].fn(spark, SF_DIR))

    # one-time index/graph materialization (S8 + S10) — timed separately:
    # amortized across the query workload, like the reference's
    # create_faiss_index / graph build steps
    import shutil

    from kgp.queries import _ann_index, _cache_dir, _edges_mat, _ranked_corpus

    setup: dict[str, float] = {}
    for kind, builder in (("graph", _edges_mat), ("ann", _ann_index),
                          ("ranked", _ranked_corpus)):
        shutil.rmtree(_cache_dir(kind, SF_DIR), ignore_errors=True)
        t0 = time.time()
        builder(spark, SF_DIR)
        setup[f"{kind}_build"] = round(time.time() - t0, 3)

    from kgp.ops.bucketed import ensure_bucketed

    bucket_root = "/tmp/kgp_cache_bucketed"
    shutil.rmtree(bucket_root, ignore_errors=True)
    t0 = time.time()
    ensure_bucketed(spark, SF_DIR, bucket_root)
    setup["bucketed_build"] = round(time.time() - t0, 3)

    # best-of-2 per query: the sandbox VM's effective CPU drifts ±40%
    # between runs minutes apart (r2→r3 measured 37s..59s for the same
    # code), so a single-shot timing conflates plan cost with host noise.
    # Reporting the min of two back-to-back materializations of the SAME
    # distributed plan keeps the metric about the plan.
    times: dict[str, float] = {}
    for name in HEADLINE:
        best = float("inf")
        for _ in range(2):
            t0 = time.time()
            _materialize(REGISTRY[name].fn(spark, SF_DIR))
            best = min(best, time.time() - t0)
        times[name] = round(best, 3)
        # release operator-internal persists (minhash/simhash signatures,
        # rerank scored, retrieval top): each invocation builds a fresh
        # plan -> a NEW CacheManager entry, so ~60 timed materializations
        # would otherwise accumulate corpus-sized cached tables
        release_pins()

    kgp_stats = run_kgp(spark, KGP_CONVS.get(sf, 1000), repeats=2)
    times["kgp_pipeline"] = kgp_stats["sec"]

    total = round(sum(times.values()), 3)
    print(json.dumps({
        "metric": "e2e_headline_sec",
        "value": total,
        "unit": "sec",
        "queries": times,
        "timing": "best_of_2",
        "setup": setup,
        "sf": sf_val,
        "kgp": kgp_stats,
        "cpus": CPUS,
    }))


if __name__ == "__main__":
    main()
