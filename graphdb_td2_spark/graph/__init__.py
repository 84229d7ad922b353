"""Property-graph layer: DataFrame-encoded vertices/edges (SURVEY.md §1.3),
graph construction parity with the reference ETL (§2.E), and iterative
algorithms (§2.L)."""

from .build import (
    GraphFrames,
    build_graph,
    build_graph_from_reference_tables,
    contains_edges,
    contains_pairs,
    event_edges,
    event_typed_dedup,
    placed_edges,
    EVENT_TYPE_TO_REL,
)
from .hits import hits_fp, hits_top20
from .queries import (
    event_edge_dedup_counts,
    graph_edge_counts,
    graph_vertex_counts,
    pagerank_top20,
    ppr_top20,
)

__all__ = [
    "GraphFrames",
    "build_graph",
    "build_graph_from_reference_tables",
    "contains_edges",
    "contains_pairs",
    "event_edges",
    "event_typed_dedup",
    "placed_edges",
    "EVENT_TYPE_TO_REL",
    "hits_fp",
    "hits_top20",
    "event_edge_dedup_counts",
    "graph_edge_counts",
    "graph_vertex_counts",
    "pagerank_top20",
    "ppr_top20",
]
