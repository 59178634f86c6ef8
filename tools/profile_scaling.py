"""Per-phase scaling profile: where does the pipeline stop scaling N→4N?

Runs the pipeline SEQUENTIALLY (no branch overlap) with a phase timer
around S1/S2/S3+S4/S5, at a given executor count on the standalone
cluster (cluster must be running — see tools/cluster.py).

Usage: python tools/profile_scaling.py <n_executors>
"""

from __future__ import annotations

import json
import os
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

INPUT_DIR = os.environ.get("KGP_SCALE_INPUT", "/tmp/kgp_scale_input3")


def main() -> None:
    n_exec = int(sys.argv[1])
    from kgp.pipeline.cc import connected_components
    from kgp.pipeline.extract import collect_surface_rows, extract, raw_triples_view
    from kgp.pipeline.link import entity_map_from_edges, link_candidate_edges
    from kgp.pipeline.materialize import materialize
    from kgp.pipeline.order import order_turns
    from tools.cluster import executor_session

    spark = executor_session(n_exec, app_name=f"kgp-profile-{n_exec}")
    transcripts = spark.read.parquet(f"{INPUT_DIR}/transcripts")
    vocab = spark.read.parquet(f"{INPUT_DIR}/vocab")

    phases: dict[str, float] = {}

    def clock(name: str, fn):
        t0 = time.monotonic()
        out = fn()
        phases[name] = round(time.monotonic() - t0, 2)
        return out

    surface_rows = clock("collect_vocab", lambda: collect_surface_rows(vocab))
    n_turns = transcripts.count()

    t_total = time.monotonic()
    ordered = clock("s1_order", lambda: order_turns(transcripts))  # pins checkpoint
    extracted = clock("s2_extract",
                      lambda: extract(ordered, surface_rows).localCheckpoint(eager=True))
    emap = clock("s3s4_link_cc", lambda: entity_map_from_edges(
        vocab, connected_components(link_candidate_edges(vocab))))
    raw = raw_triples_view(extracted)

    def mat():
        _t, _n, edges = materialize(raw, ordered, emap, vocab)
        edges.write.format("noop").mode("overwrite").save()
    clock("s5_materialize", mat)
    total = round(time.monotonic() - t_total, 2)

    print("PROFILE " + json.dumps({
        "n_exec": n_exec, "n_turns": n_turns,
        "phases": phases, "sequential_total": total,
    }), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
