"""Connected components of the property graph [extension] — iterative
min-label propagation, the companion to ``pagerank.py`` on the L3
"graph algorithms Catalyst can't express" tier (SURVEY.md §4 item 1).

Algorithm: every vertex starts labeled with its own id; each round a
vertex takes the minimum label among itself and its neighbors (edges
treated as undirected) — a min-combine superstep loop
(``graph/superstep.py``) that halts at the first round that changes no
label, O(component diameter) rounds. The fixpoint is the
component-minimum id; a run that hits ``max_iter`` first raises rather
than return labels short of it.

Only vertices whose label changed last round send: an unchanged
vertex's label already reached every neighbor in the round it last
changed, and the min-merge is monotone, so dropping repeat sends is
exactly equivalent to full propagation (the oracle, which unrolls FULL
rounds, hash-matches — the executable proof). MIN over ids is
order-free, so the labels do not depend on the physical plan.

Not SQL-expressible in one query → the driver records the weaker
rows-only check (like pagerank/ppr); semantics are unit-tested on
fixtures with known components.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .queries import cached_graph
from .superstep import CHANGED, edge_send, run_supersteps, symmetric_edges

# Safety valve only — propagation stops at the first unchanged round (the
# corpus graph converges in <10).
DEFAULT_MAX_ITER = 50


def connected_components(
    vertices: DataFrame,
    edges: DataFrame,
    max_iter: int = DEFAULT_MAX_ITER,
    und: DataFrame | None = None,
    n_vertices: int | None = None,
    n_parts: int | None = None,
) -> DataFrame:
    """``(id, component)`` — component = min vertex id reachable (any total
    order over ids works; string ids use their lexicographic order).

    ``und``: a caller-owned undirected relation in loop shape (the
    ``graph.queries.cached_und_edges`` session artifact), passed with its
    budget ``n_parts`` (``queries.property_graph_parts``); derived
    call-scoped from ``edges`` when absent. Raises ``RuntimeError`` when
    ``max_iter`` rounds end before a round that changes no label."""
    if und is None:
        und, n_parts = symmetric_edges(edges), None
    labels, rows = run_supersteps(
        vertices.select("id", F.col("id").alias("component")),
        und,
        edge_send(F.col("component")),
        # least() skips NULLs: isolated vertices (msg NULL) keep their label
        merge=lambda agg, step: [F.least("msg", "component").alias("component")],
        changed=F.col("msg") < F.col("component"),
        max_rounds=max_iter,
        n_parts=n_parts,
        n_vertices=n_vertices,
    )
    if not rows or rows[-1][CHANGED]:
        raise RuntimeError(
            f"connected_components did not converge within max_iter={max_iter}"
            " rounds"
        )
    return labels


def component_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Component-size histogram of the full property graph:
    ``(size, n_components)`` ordered by size descending."""
    from .queries import (
        cached_und_edges,
        cached_vertex_count,
        property_graph_parts,
    )

    g = cached_graph(spark, sf_dir)
    cc = connected_components(
        g.vertices,
        g.edges,
        und=cached_und_edges(spark, sf_dir),
        n_vertices=cached_vertex_count(spark, sf_dir),
        n_parts=property_graph_parts(spark, sf_dir),
    )
    return (
        cc.groupBy("component")
        .agg(F.count(F.lit(1)).alias("size"))
        .groupBy("size")
        .agg(F.count(F.lit(1)).alias("n_components"))
        .orderBy(F.desc("size"))
    )
