"""A/B the intermediate-pin strategies on the standalone cluster.

Usage:
  python tools/pin_ab.py --single <n_exec> <pin_extracted:0|1> <pin_ordered>
  python tools/pin_ab.py            # orchestrates the grid
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

INPUT_DIR = os.environ.get("KGP_SCALE_INPUT", "/tmp/kgp_scale_input4")


def single(n_exec: int, pin_extracted: bool, pin_ordered: str,
           overlap: bool = True) -> None:
    from kgp.pipeline.exec import build_graph
    from kgp.pipeline.extract import collect_surface_rows
    from tools.cluster import executor_session

    spark = executor_session(n_exec, app_name=f"kgp-ab-{n_exec}")
    transcripts = spark.read.parquet(f"{INPUT_DIR}/transcripts")
    vocab = spark.read.parquet(f"{INPUT_DIR}/vocab")
    surface_rows = collect_surface_rows(vocab)
    n_turns = transcripts.count()
    t0 = time.monotonic()
    out = build_graph(spark, transcripts, vocab, surface_rows, overlap=overlap,
                      pin_extracted=pin_extracted, pin_ordered=pin_ordered)
    out["edges"].write.format("noop").mode("overwrite").save()
    dt = time.monotonic() - t0
    spark.stop()
    print("RUN " + json.dumps({"n_exec": n_exec, "overlap": overlap,
                               "pin_extracted": pin_extracted,
                               "pin_ordered": pin_ordered, "n_turns": n_turns,
                               "sec": round(dt, 2)}), flush=True)


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--single":
        ov = bool(int(sys.argv[5])) if len(sys.argv) > 5 else True
        single(int(sys.argv[2]), bool(int(sys.argv[3])), sys.argv[4], overlap=ov)
        return

    from tools.cluster import start_cluster, stop_cluster

    configs = [
        ("A", 1, "checkpoint", 1),   # current default (overlapped)
        ("B", 1, "checkpoint", 0),   # sequential
        ("C", 0, "checkpoint", 0),   # sequential, no extract pin
        ("D", 0, "none", 0),         # sequential, no pins at all
    ]
    start_cluster()
    try:
        for tag, pe, po, ov in configs:
            for n in (1, 4):
                p = subprocess.run(
                    [sys.executable, os.path.abspath(__file__), "--single",
                     str(n), str(pe), po, str(ov)],
                    capture_output=True, text=True, timeout=1800, cwd=_REPO)
                lines = [ln for ln in p.stdout.splitlines() if ln.startswith("RUN")]
                print(tag, lines or ("ERR", p.stdout[-500:], p.stderr[-1000:]), flush=True)
    finally:
        stop_cluster()


if __name__ == "__main__":
    main()
