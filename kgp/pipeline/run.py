"""Pipeline runner: stage orchestration + snapshot-based idempotent resume.

Each stage writes a committed TableIO snapshot whose manifest records the
input fingerprint (upstream snapshot ids chained).  A rerun reads any stage
whose snapshot is committed against the same input — the reference's
skip-existing resume (extract_paragraphs_faster.py:20-26 etc.) promoted to
atomic snapshot semantics.  ``fail_after`` injects a crash for the
kill-and-rerun test (FIXTURES.md §5 resume row).

The stages form two independent branches that meet at S5:

    transcripts ─ S1 ordered ─ S2 extracted ──┐
                                              ├─ S5 triples/nodes/edges/errors
    vocab ─ S3 link ─ S4 CC ─ entity_map ─────┘

The vocabulary branch is submitted to one extra driver thread before S1
starts, and the corpus branch runs on the caller's thread — the overlap
exec.build_graph measured hiding the latency-bound CC jobs behind the
throughput-bound extraction.  The branch thread inherits the caller's
Spark local properties and job tags, so a job group set by the caller
(and ``cancelJobGroup`` on it) covers both branches.

The branch thread is joined before S5 and before any error leaves the
runner: a failure in S1/S2 is raised only after the vocabulary branch has
finished (its snapshot is then committed for the rerun), and a failure in
the vocabulary branch is raised from the join.  If both branches fail,
the corpus branch's error is the one raised.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession

from ..io import TableIO
from .cc import connected_components
from .extract import collect_surface_rows, extract, mentions_view, raw_triples_view
from .link import entity_map_from_edges, link_candidate_edges
from .materialize import materialize, unmatched_surfaces
from .order import order_turns, validation_errors

STAGES = ("ordered", "extracted", "entity_map", "triples", "nodes", "edges", "errors")


class InjectedFailure(RuntimeError):
    pass


def run_pipeline(spark: SparkSession, transcripts: DataFrame, vocab: DataFrame,
                 out_root: str, input_fingerprint: str, *,
                 surface_rows: list[tuple[str, int, str]] | None = None,
                 fail_after: str | None = None, force: bool = False) -> dict:
    """Run (or resume) S1..S5; returns {'io': TableIO, 'recomputed': [...],
    '<table>': DataFrame for each committed table}.  ``recomputed`` lists
    the stages written by this call in STAGES order, whichever branch
    committed first."""
    io = TableIO(out_root)
    written: set[str] = set()

    def stage(name: str, fingerprint: str, compute) -> tuple[DataFrame, str]:
        if not force and io.is_committed(name, fingerprint):
            return io.read(spark, name), io.manifest(name)["snapshot_id"]
        manifest = io.write(compute(), name, input_fingerprint=fingerprint)
        written.add(name)
        if fail_after == name:
            raise InjectedFailure(f"injected failure after committing stage {name!r}")
        return io.read(spark, name), manifest["snapshot_id"]

    def vocab_branch() -> tuple[DataFrame, str]:
        return stage(
            "entity_map", input_fingerprint,
            lambda: entity_map_from_edges(vocab, connected_components(link_candidate_edges(vocab))),
        )

    # leaving the block joins the branch thread, also when S1/S2 raise
    with ThreadPoolExecutor(max_workers=1) as pool:
        vocab_done = pool.submit(inheritable_thread_target(spark)(vocab_branch))
        ordered, snap1 = stage("ordered", input_fingerprint, lambda: order_turns(transcripts))
        # the surface rows are collected lazily: a fully-committed resume
        # must not pay a vocabulary-sized driver collect it never uses
        extracted, snap2 = stage(
            "extracted", f"{input_fingerprint}/{snap1}",
            lambda: extract(ordered, collect_surface_rows(vocab)
                            if surface_rows is None else surface_rows),
        )
    emap, snap3 = vocab_done.result()

    raw_triples = raw_triples_view(extracted)
    fp_mat = f"{input_fingerprint}/{snap2}/{snap3}"
    mat_out: list[tuple[DataFrame, DataFrame, DataFrame] | None] = [None]

    def _mat(idx: int):
        # materialize() is derived ONCE and shared by whichever of
        # triples/nodes/edges turn out to be uncommitted — a partial resume
        # (e.g. killed after 'triples') must not rebuild the corpus-scale
        # resolve joins independently per output table
        def compute() -> DataFrame:
            if mat_out[0] is None:
                mat_out[0] = materialize(raw_triples, ordered, emap, vocab)
            return mat_out[0][idx]
        return compute

    triples, _ = stage("triples", fp_mat, _mat(0))
    nodes, _ = stage("nodes", fp_mat, _mat(1))
    edges, _ = stage("edges", fp_mat, _mat(2))

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
        errors=errors, metrics=io.metrics_df(spark),
    )
