"""The five Spark stages of the KG-construction pipeline (SURVEY.md §7.0).

S1 order        stable per-conversation turn ordering + dedup
S2 extract      vectorized mention detection + raw triple extraction
S3 link         blocked candidate generation + fuzzy verification
S4 canonicalize large-star/small-star connected components
S5 materialize  canonical triples + partitioned nodes/edges tables

run_pipeline (run.py) wires them into the one S1→S5 DAG: S3/S4 run on a
vocabulary-branch thread overlapped with S1/S2, durable (committed
TableIO snapshots, resumable) given an ``out_root`` and in memory without.
"""

from .order import order_turns
from .extract import extract
from .link import link_candidate_edges, entity_map_from_edges
from .cc import connected_components
from .materialize import materialize
from .run import run_pipeline

__all__ = [
    "order_turns", "extract", "link_candidate_edges", "entity_map_from_edges",
    "connected_components", "materialize", "run_pipeline",
]
