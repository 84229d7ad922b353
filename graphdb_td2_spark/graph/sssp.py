"""Weighted single-source shortest paths [extension to §2.L] — the
Cypher ``shortestPath`` surface generalized to weighted edges (CONTAINS
carries its order quantity, every other relationship weighs 1; cf.
``weighted_pagerank_top20``). Bellman-Ford relaxation as iterative
DataFrame min-aggregation.

Fixed round count (``MAX_ROUNDS``) instead of convergence detection, for
the same reason as :mod:`graphdb_td2_spark.graph.bfs`: both engines run
the identical recurrence the identical number of times, so the unrolled
chained-CTE DuckDB twin matches bit-exactly. Distances are exact BIGINTs
(integer weights), so the full value hash is checked, not just rows.

Scale notes: messages are emitted only from the *improved* frontier of
the previous round (for weighted relaxation a settled vertex can improve
again, so the frontier is "distance changed", not "newly reached" —
still a fraction of the vertex set after the first rounds). Physical
shape (r13): CO-PARTITIONED rounds at every scale — the symmetrized
min-weight adjacency is hash-partitioned by ``src`` into
``state_partitions(|V|)`` and checkpointed once per session (the
``cached_und_edges`` policy), the distance vector is partitioned by
``id`` and every per-round checkpoint preserves that partitioning under
``static_planning`` (AQE off inside the loop), so each round plans to
exactly ONE exchange (the message combine) with zero broadcasts — the
old sub-5M-vertex broadcast dispatch collected the frontier and the
message aggregate to the driver every round and measured slower at
sf0.1. MIN over BIGINTs is order-free, so distances are identical under
any physical plan. ``localCheckpoint`` per round keeps Catalyst
re-analysis linear (see graph/pagerank.py); one driver action per round
(the eager checkpoint of the merged frame — relaxed distances and the
frontier re-derive lazily from it).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..caching import memo
from .checkpointing import static_planning, truncate_lineage
from .queries import cached_graph, cached_vertex_count, property_graph_parts

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
    property graph — partitioned by ``src`` into ``state_partitions(|V|)``
    with truncated lineage (the ``cached_und_edges`` policy applied to
    the weighted twin every ``sssp_top20`` call used to re-derive)."""

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

    ``und``: caller-owned pre-shaped symmetrized adjacency
    (``cached_weighted_und_edges``; pass its budget as ``n_parts`` so the
    state co-partitions with it); derived call-scoped when absent."""
    from .checkpointing import graph_partitions

    spark = vertices.sparkSession
    owns_und = und is None
    und0 = None
    if owns_und:
        # persist BEFORE any count so the caller's lazy edge pipeline
        # executes exactly once; the budget derives from the persisted
        # relation's row count (also an upper bound on |V|)
        und0 = _undirected_min_edges(edges_w).persist()
        n_und = und0.count()
        if n_vertices is None:
            n_vertices = n_und
        if n_parts is None:
            n_parts = graph_partitions(n_vertices, n_und, vertices)
    elif n_parts is None:
        if n_vertices is None:
            n_vertices = vertices.count()
        n_parts = graph_partitions(n_vertices, 2 * edges_w.count(), vertices)
    parts = n_parts
    with static_planning(spark, shuffle_partitions=parts):
        if owns_und:
            und = und0.repartition(parts, "src").persist()
        dist = truncate_lineage(
            vertices.select(
                "id",
                F.when(F.col("id") == seed, F.lit(0)).cast("long").alias("distance"),
            ).repartition(parts, "id")
        )
        frontier = dist.filter(F.col("distance").isNotNull())
        for _ in range(rounds):
            # min-combined messages out of the frontier (the ONE per-round
            # exchange), then a co-partitioned merge: least() skips NULLs,
            # so least(msg, old) IS min-with-unreached-as-infinity —
            # exactly the relaxation the union+groupBy formulation computed
            msgs = (
                und.join(frontier.hint("shuffle_hash"), und.src == F.col("id"))
                .select(
                    F.col("dst").alias("id"),
                    (F.col("distance") + F.col("w")).alias("msg"),
                )
                .groupBy("id")
                .agg(F.min("msg").alias("msg"))
            )
            merged = truncate_lineage(
                dist.join(msgs.hint("shuffle_hash"), "id", "left")
            )
            dist = merged.select("id", F.least("msg", "distance").alias("distance"))
            frontier = merged.filter(
                F.col("msg").isNotNull()
                & (F.col("distance").isNull() | (F.col("msg") < F.col("distance")))
            ).select("id", F.col("msg").alias("distance"))
    if owns_und:
        # final distances derive from the last round's CHECKPOINT —
        # independent of the call-scoped adjacency caches
        und.unpersist()
        und0.unpersist()
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
