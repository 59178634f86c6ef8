"""In-memory pipeline executor with branch-level job overlap.

`run_pipeline` (run.py) is the durable path: every stage commits a
snapshot.  `build_graph` here is the hot path used by the bench harnesses
and ad-hoc queries: no snapshot writes.  Both run the two independent DAG
branches —

    transcripts ─ S1 order ─ S2 extract ──┐
                                          ├─ S5 materialize
    vocab ─ S3 link ─ S4 CC ─ entity map ─┘

— concurrently from two driver threads (Spark job scheduling is
thread-safe; on a cluster this is the standard FAIR-scheduler pattern).
The linking/CC branch is latency-bound (iterative tiny jobs with
checkpoint barriers), the extraction branch is throughput-bound; run
serially they add, overlapped they hide the CC latency entirely.

The linking branch runs on a worker thread and the extraction branch on
the caller's; both are joined before S5.  An error in the extraction
branch is raised once the linking branch has finished, and an error in
the linking branch is raised from the join.  ``overlap=False`` runs the
branches one after the other on the caller's thread.

The extraction branch is pinned with an eager localCheckpoint so both
branches make progress simultaneously and the final materialize join reads
the extracted rows from block storage instead of recomputing the lineage.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession

from .cc import connected_components
from .extract import collect_surface_rows, extract, raw_triples_view
from .link import entity_map_from_edges, link_candidate_edges
from .materialize import materialize
from .order import order_turns


def build_graph(spark: SparkSession, transcripts: DataFrame, vocab: DataFrame,
                surface_rows: list[tuple[str, int, str]] | None = None,
                overlap: bool = True, pin_extracted: bool = True,
                pin_ordered: str | bool = "checkpoint",
                cc_threshold: int | None = None) -> dict:
    """S1..S5 in memory; returns dict with ordered/extracted/entity_map/
    triples/nodes/edges DataFrames (edges/triples not yet materialized).

    ``pin_extracted=True`` checkpoints the extraction output so several
    downstream consumers (triples, nodes, edges, mention views) share one
    extraction pass.  Pass False when exactly one output will be consumed —
    extraction then streams straight into materialize with no intermediate
    store (the single-sink fused plan the bench measures; the turn ts
    rides along in EXTRACTED, so no consumer joins the corpus back).
    ``pin_ordered`` is forwarded to order_turns (see its docstring).
    ``cc_threshold`` overrides the connected-components small-graph
    short-circuit (pass 0 to force the distributed large-star/small-star
    loop — the scaling bench uses this to exercise the at-scale CC path).
    """
    if surface_rows is None:
        surface_rows = collect_surface_rows(vocab)

    def linking_branch() -> DataFrame:
        from .cc import SMALL_GRAPH_EDGES

        thr = SMALL_GRAPH_EDGES if cc_threshold is None else cc_threshold
        return entity_map_from_edges(
            vocab, connected_components(link_candidate_edges(vocab),
                                        small_graph_threshold=thr))

    if overlap:
        with ThreadPoolExecutor(max_workers=1) as pool:
            f_emap = pool.submit(linking_branch)
            ordered = order_turns(transcripts, pin=pin_ordered)
            extracted = extract(ordered, surface_rows)
            if pin_extracted:
                extracted = extracted.localCheckpoint(eager=True)
            emap = f_emap.result()
    else:
        ordered = order_turns(transcripts, pin=pin_ordered)
        extracted = extract(ordered, surface_rows)
        if pin_extracted:
            extracted = extracted.localCheckpoint(eager=True)
        emap = linking_branch()

    raw = raw_triples_view(extracted)
    triples, nodes, edges = materialize(raw, ordered, emap, vocab)
    return dict(ordered=ordered, extracted=extracted, entity_map=emap,
                raw_triples=raw, triples=triples, nodes=nodes, edges=edges)
