"""Pipeline runner: the one definition of the S1→S5 DAG.

The stages form two independent branches that meet at S5:

    transcripts ─ S1 ordered ─ S2 extracted ──┐
                                              ├─ S5 triples/nodes/edges/errors
    vocab ─ S3 link ─ S4 CC ─ entity_map ─────┘

With an ``out_root`` the run is durable: each stage writes a committed
TableIO snapshot whose manifest records the input fingerprint (upstream
snapshot ids chained).  A rerun reads any stage whose snapshot is
committed against the same input — the reference's skip-existing resume
(extract_paragraphs_faster.py:20-26 etc.) promoted to atomic snapshot
semantics.

Without one the run is in memory (the bench harnesses and ad-hoc
queries): no TableIO, no manifest, no resume.  Each stage's plan is
returned lazily except ``extracted``, which is pinned with an eager
localCheckpoint on the caller's thread, so extraction overlaps the
vocabulary branch and is computed once for triples, nodes and edges.

The vocabulary branch is submitted to one extra driver thread before S1
starts, and the corpus branch runs on the caller's thread: the
latency-bound CC jobs hide behind the throughput-bound extraction.  The
branch thread inherits the caller's Spark local properties and job tags,
so a job group set by the caller (and ``cancelJobGroup`` on it) covers
both branches.

The branch thread is joined before S5 and before any error leaves the
runner: a failure in S1/S2 is raised only after the vocabulary branch has
finished (its snapshot is then committed for the rerun), and a failure in
the vocabulary branch is raised from the join.  If both branches fail,
the corpus branch's error is the one raised.

Every layer function is looked up through this module's globals at call
time, so a wrapper patched onto them (a tracer) sees every call.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession

from ..io import TableIO
from .cc import SMALL_GRAPH_EDGES, connected_components
from .extract import collect_surface_rows, extract, mentions_view, raw_triples_view
from .link import entity_map_from_edges, link_candidate_edges
from .materialize import materialize, unmatched_surfaces
from .order import order_turns, validation_errors

STAGES = ("ordered", "extracted", "entity_map", "triples", "nodes", "edges", "errors")


def run_pipeline(spark: SparkSession, transcripts: DataFrame, vocab: DataFrame,
                 out_root: str | None = None, input_fingerprint: str | None = None, *,
                 small_graph_threshold: int = SMALL_GRAPH_EDGES,
                 force: bool = False) -> dict:
    """Run (or resume) S1..S5; returns {'io': TableIO or None,
    'recomputed': [...], '<stage>': DataFrame for each stage}.
    ``recomputed`` lists the stages computed by this call in STAGES order,
    whichever branch finished first (every stage when in memory).
    ``small_graph_threshold`` is forwarded to connected_components (pass 0
    to force the distributed large-star/small-star loop)."""
    io = TableIO(out_root) if out_root is not None else None
    written: set[str] = set()

    def stage(name: str, fingerprint: str, compute) -> tuple[DataFrame, str | None]:
        if io is None:
            df = compute()
            written.add(name)
            return (df.localCheckpoint(eager=True) if name == "extracted" else df), None
        if not force and io.is_committed(name, fingerprint):
            return io.read(spark, name), io.manifest(name)["snapshot_id"]
        manifest = io.write(compute(), name, input_fingerprint=fingerprint)
        written.add(name)
        return io.read(spark, name), manifest["snapshot_id"]

    def vocab_branch() -> tuple[DataFrame, str | None]:
        return stage(
            "entity_map", input_fingerprint,
            lambda: entity_map_from_edges(vocab, connected_components(
                link_candidate_edges(vocab), small_graph_threshold=small_graph_threshold)),
        )

    # leaving the block joins the branch thread, also when S1/S2 raise
    with ThreadPoolExecutor(max_workers=1) as pool:
        vocab_done = pool.submit(inheritable_thread_target(spark)(vocab_branch))
        ordered, snap1 = stage("ordered", input_fingerprint, lambda: order_turns(transcripts))
        # the surface rows are collected lazily: a fully-committed resume
        # must not pay a vocabulary-sized driver collect it never uses
        extracted, snap2 = stage(
            "extracted", f"{input_fingerprint}/{snap1}",
            lambda: extract(ordered, collect_surface_rows(vocab)),
        )
    emap, snap3 = vocab_done.result()

    raw_triples = raw_triples_view(extracted)
    fp_mat = f"{input_fingerprint}/{snap2}/{snap3}"
    # plans only (no job runs): each uncommitted table's write runs its own
    triples_df, nodes_df, edges_df = materialize(raw_triples, emap, vocab)
    triples, _ = stage("triples", fp_mat, lambda: triples_df)
    nodes, _ = stage("nodes", fp_mat, lambda: nodes_df)
    edges, _ = stage("edges", fp_mat, lambda: edges_df)

    # D4 failure ledger: validation rejects + unmatched surfaces, written
    # as a committed table like any other stage output (reference
    # get_files.py:86-102 bad_files → errors table)
    errors, _ = stage(
        "errors", fp_mat,
        lambda: validation_errors(transcripts).union(unmatched_surfaces(raw_triples, emap)),
    )

    return dict(
        io=io, recomputed=[n for n in STAGES if n in written],
        ordered=ordered, extracted=extracted,
        mentions=mentions_view(extracted), raw_triples=raw_triples,
        entity_map=emap, triples=triples, nodes=nodes, edges=edges,
        errors=errors, metrics=io.metrics_df(spark) if io is not None else None,
    )
