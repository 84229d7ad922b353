"""Weighted single-source shortest paths [extension to §2.L] — the
Cypher ``shortestPath`` surface generalized to weighted edges (CONTAINS
carries its order quantity, every other relationship weighs 1; cf.
``weighted_pagerank_top20``). Bellman-Ford relaxation as a
min-combine superstep loop (``graph/superstep.py``); BFS is this loop
over unit weights.

Fixed round count (``MAX_ROUNDS``) instead of convergence detection:
both engines run the identical recurrence the identical number of
times, so the unrolled chained-CTE DuckDB twin matches bit-exactly even
where paths longer than the cap exist. Distances are exact BIGINTs
(integer weights), so the full value hash is checked, not just rows.
MIN over BIGINTs is order-free, so distances do not depend on the
physical plan.

Messages leave only the vertices whose distance changed last round
(for weighted relaxation a reached vertex can improve again, so the
frontier is "distance changed", not "newly reached").
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..caching import memo
from .queries import cached_graph, cached_vertex_count, property_graph_parts
from .superstep import edge_send, run_supersteps

MAX_ROUNDS = 6
SSSP_TOPK = 20


def _undirected_min_edges(edges_w: DataFrame) -> DataFrame:
    """Symmetrized edge list with parallel edges collapsed to their
    minimum weight (two C→P event types, say, relax identically)."""
    return (
        edges_w.select("src", "dst", "w")
        .union(
            edges_w.select(
                F.col("dst").alias("src"), F.col("src").alias("dst"), F.col("w")
            )
        )
        .groupBy("src", "dst")
        .agg(F.min("w").alias("w"))
    )


def cached_weighted_und_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-cached loop-shaped symmetrized min-weight adjacency of the
    property graph — hash-partitioned by ``src`` into
    ``property_graph_parts`` and persisted (the ``cached_und_edges``
    policy for the weighted twin)."""

    def build():
        g = cached_graph(spark, sf_dir)
        edges_w = g.edges.select(
            "src",
            "dst",
            F.floor(F.coalesce(F.col("quantity"), F.lit(1.0)))
            .cast("long")
            .alias("w"),
        )
        return (
            _undirected_min_edges(edges_w)
            .repartition(property_graph_parts(spark, sf_dir), "src")
            .persist()
        )

    return memo(spark, ("weighted_und_edges", sf_dir.rstrip("/")), build)


def sssp_distances(
    vertices: DataFrame,
    edges_w: DataFrame,
    seed: str,
    rounds: int = MAX_ROUNDS,
    n_vertices: int | None = None,
    und: DataFrame | None = None,
    n_parts: int | None = None,
) -> DataFrame:
    """``(id, distance)`` — minimum edge-weight sum over paths of at most
    ``rounds`` undirected hops from ``seed``; NULL when unreached.

    ``und``: caller-owned loop-shaped symmetrized adjacency
    (``cached_weighted_und_edges``), passed with its budget ``n_parts``;
    derived call-scoped from ``edges_w`` when absent."""
    if und is None:
        und, n_parts = _undirected_min_edges(edges_w), None

    dist, _ = run_supersteps(
        vertices.select(
            "id",
            F.when(F.col("id") == seed, F.lit(0)).cast("long").alias("distance"),
        ),
        und,
        edge_send(F.col("distance") + F.col("w")),
        # least() skips NULLs: min with unreached as infinity
        merge=lambda agg, step: [F.least("msg", "distance").alias("distance")],
        changed=F.col("msg").isNotNull()
        & (F.col("distance").isNull() | (F.col("msg") < F.col("distance"))),
        max_rounds=rounds,
        active=F.col("distance").isNotNull(),
        n_parts=n_parts,
        n_vertices=n_vertices,
    )
    return dist


def sssp_top20(
    spark: SparkSession, sf_dir: str, seed: str = "C:1", rounds: int = MAX_ROUNDS
) -> DataFrame:
    """The 20 vertices nearest ``seed`` by weighted distance (distance
    asc, id asc — deterministic), seed included at distance 0."""
    g = cached_graph(spark, sf_dir)
    edges_w = g.edges.select(
        "src",
        "dst",
        F.floor(F.coalesce(F.col("quantity"), F.lit(1.0))).cast("long").alias("w"),
    )
    dist = sssp_distances(
        g.vertices,
        edges_w,
        seed,
        rounds,
        n_vertices=cached_vertex_count(spark, sf_dir),
        und=cached_weighted_und_edges(spark, sf_dir),
        n_parts=property_graph_parts(spark, sf_dir),
    )
    return (
        dist.filter(F.col("distance").isNotNull())
        .orderBy(F.asc("distance"), F.asc("id"))
        .limit(SSSP_TOPK)
    )
