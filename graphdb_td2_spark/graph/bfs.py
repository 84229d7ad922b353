"""Breadth-first distance levels from a seed vertex [extension to §2.L] —
the ``shortestPath`` surface a Cypher user expects: weighted SSSP
(``graph/sssp.py``) over unit edge weights, undirected.

Fixed round count (``MAX_HOPS``) instead of convergence detection: both
engines then evaluate the identical recurrence the identical number of
times, so the DuckDB twin (chained CTEs in ``__spark_entry__.py``)
matches exactly even on a graph whose diameter exceeds the cap — rows
past the cap simply stay unreached, in both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .queries import cached_graph, cached_und_edges, property_graph_parts
from .sssp import sssp_distances

MAX_HOPS = 6


def _unit(edges: DataFrame) -> DataFrame:
    # a projection: a loop-shaped adjacency keeps its partitioning
    return edges.select("src", "dst", F.lit(1).alias("w"))


def bfs_distances(
    vertices: DataFrame,
    edges: DataFrame,
    seed: str,
    max_hops: int = MAX_HOPS,
    n_vertices: int | None = None,
) -> DataFrame:
    """``(id, distance)`` with distance NULL when the vertex is not
    reachable within ``max_hops`` undirected hops of ``seed``."""
    return sssp_distances(
        vertices, _unit(edges), seed, max_hops, n_vertices=n_vertices
    )


def bfs_level_sizes(
    spark: SparkSession, sf_dir: str, seed: str = "C:1", max_hops: int = MAX_HOPS
) -> DataFrame:
    """Level-size histogram of the BFS from one customer seed:
    ``(distance, n_vertices)`` for every reached level, ordered."""
    g = cached_graph(spark, sf_dir)
    dist = sssp_distances(
        g.vertices,
        _unit(g.edges),
        seed,
        max_hops,
        und=_unit(cached_und_edges(spark, sf_dir)),
        n_parts=property_graph_parts(spark, sf_dir),
    )
    return (
        dist.filter(F.col("distance").isNotNull())
        .groupBy("distance")
        .agg(F.count(F.lit(1)).alias("n_vertices"))
        .orderBy("distance")
    )
