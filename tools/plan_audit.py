"""Physical-plan audit: summarize explain("formatted") for key queries.

For each audited query prints: #exchanges, #broadcast joins, #sort-merge
joins, scans with their ReadSchema width / PushedFilters / PartitionFilters,
and whether any WholeStageCodegen span exists.  Feeds PLANS.md.

Usage: python tools/plan_audit.py [sf_dir] [query ...]
"""

from __future__ import annotations

import io
import re
import sys
from contextlib import redirect_stdout

import os

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

AUDIT = [
    "p2_in_filter", "agg_pricing_summary", "kg_edges", "bgp_two_hop",
    "bgp_two_hop_mat", "bgp_date_range_mat", "knn_cosine_topk",
    "knn_batch_topk", "j5_anti_join", "sessionize", "t8_context_windows",
    "t4_adjust_lengths", "dedup_minhash_pairs", "dedup_simhash_pairs",
    "mm_frame_sample", "t5_wordpiece", "kgp_extract_docs",
]


def plan_text(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def summarize(name: str, txt: str) -> str:
    n_ex = len(re.findall(r"\bExchange\b", txt))
    n_reuse = len(re.findall(r"ReusedExchange", txt))
    n_bhj = len(re.findall(r"BroadcastHashJoin|BroadcastNestedLoopJoin", txt))
    n_smj = len(re.findall(r"SortMergeJoin", txt))
    scans = []
    for m in re.finditer(r"Scan parquet[^\n]*\n(?:.*\n)*?.*ReadSchema: struct<([^>]*)>", txt):
        ncols = len([c for c in m.group(1).split(",") if c.strip()])
        scans.append(ncols)
    pushed = len(re.findall(r"PushedFilters: \[(?!\])", txt))
    parts = len(re.findall(r"PartitionFilters: \[(?!\])", txt))
    # NOTE: static plans — AQE performs exchange reuse and SMJ->broadcast
    # conversion at runtime, so `exchanges` is an upper bound and `smj` a
    # pessimistic count; runtime evidence is the measured wall times.
    return (f"{name:24s} exchanges={n_ex}(reused {n_reuse}) bcast={n_bhj} "
            f"smj={n_smj} scans(cols)={scans} "
            f"pushed_scans={pushed} partition_pruned={parts}")


def main(argv: list[str]) -> None:
    from kgp.queries import REGISTRY
    from kgp.session import get_spark

    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    names = argv[1:] or AUDIT
    spark = get_spark(app_name="plan-audit",
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    for name in names:
        df = REGISTRY[name].fn(spark, sf_dir)
        print(summarize(name, plan_text(df)), flush=True)


if __name__ == "__main__":
    main(sys.argv[1:])
