"""Deterministic random-walk corpus over the co-purchase graph — the
graph→sequence bridge (DeepWalk / node2vec style): walks become the
"sentences" a skip-gram embedding trainer consumes, turning the engine's
graph tier into training data for its embedding tier.

Reference parity: walks traverse the same co-purchase relation the
reference's recommendation Cypher queries pattern-match
(`app/main.py:51-60`); a walk is the sampled generalization of those
fixed 2-hop patterns.

Determinism (retry/speculation-safe, cross-engine reproducible): the
next hop from ``cur`` is the neighbor minimizing
``md5(walk_id | step | neighbor)`` (ties → lowest neighbor id) — a
hash-seeded uniform choice with no ``rand()``, so the DuckDB oracle
replays the identical walks and the driver's value-hash is stable.

Scale notes: the adjacency is the standard preprocessed artifact (one
distinct co-purchase self-join — the same AQE-skew-handled shape as
``top_cooccurrence_pairs``; at 100 TB it is materialized once as a lake
table bucketed by ``src``). Each step is then a broadcast of the tiny
walk frontier against that adjacency with a map-side-combined ``min_by``
— walk count, not corpus size, bounds the frontier, and steps never
re-shuffle the adjacency. Walk loops are driver-side ``for`` over a
fixed ``WALK_LEN`` (lineage stays L joins deep, no checkpoint needed at
this depth).
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..caching import memo
from ..io import read_table

N_STARTS = 20
WALKS_PER_START = 2
WALK_LEN = 4  # hops beyond the start node


def cached_copurchase_adjacency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-persisted co-purchase adjacency — the derived lake table
    every copurchase-graph consumer (walks, MIS, HyperBall, Brandes,
    centrality) starts from, under the ``cached_graph`` /
    ``cached_und_edges`` policy: built once per (session, corpus) instead
    of re-running the basket self-join + distinct per call."""

    def build():
        # Loop-shaped: hash-partitioned by src into the shared
        # graph_partitions budget BEFORE the persist, so the cached
        # columnar relation's outputPartitioning satisfies the iterative
        # consumers' src-keyed joins exchange-free (cached plans are
        # exempt from AQE output-partitioning re-planning, so the
        # partitioning survives) while scans stay on the fast
        # InMemoryRelation path — a lineage-truncating checkpoint here
        # measured 3.5× SLOWER on betweenness (serialized RDD blocks
        # deserialize on every one of its ~15 adjacency scans).
        from ..lake import copurchase_stats
        from .checkpointing import graph_partitions

        raw = copurchase_adjacency(spark, sf_dir)
        stats = copurchase_stats(spark, sf_dir)
        parts = graph_partitions(stats["n_vertices"], stats["n_edges"], raw)
        return raw.repartition(parts, "src").persist()

    return memo(spark, ("copurchase_adjacency", sf_dir.rstrip("/")), build)


def copurchase_adjacency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct directed co-purchase edges ``(src, dst)`` — symmetric by
    construction, so every reachable node has an out-neighbor (walks
    cannot dead-end)."""
    items = read_table(spark, sf_dir, "lineitem", ["l_orderkey", "l_partkey"]).select(
        F.col("l_orderkey").alias("order_id"), F.col("l_partkey").alias("product_id")
    )
    b = items.select(
        F.col("order_id"), F.col("product_id").alias("dst")
    )
    return (
        items.join(b, "order_id")
        .filter(F.col("product_id") != F.col("dst"))
        .select(F.col("product_id").alias("src"), "dst")
        .distinct()
    )


def _hash_choice(step: int):
    """Ordering key for the deterministic next-hop choice at ``step``."""
    return F.struct(
        F.md5(
            F.concat_ws(
                "|",
                F.col("walk_id").cast("string"),
                F.lit(str(step)),
                F.col("dst").cast("string"),
            )
        ),
        F.col("dst"),
    )


def product_random_walks(
    spark: SparkSession,
    sf_dir: str,
    n_starts: int = N_STARTS,
    walks_per_start: int = WALKS_PER_START,
    walk_len: int = WALK_LEN,
) -> DataFrame:
    """Registry entry: ``(walk_id, step, node)`` — ``walks_per_start``
    hash-seeded walks of ``walk_len`` hops from each of the ``n_starts``
    lowest-id products with co-purchase neighbors, one row per visited
    position (step 0 is the start node)."""
    adj = cached_copurchase_adjacency(spark, sf_dir)
    starts = (
        adj.select("src").distinct().orderBy("src").limit(n_starts)
    )
    seeds = F.array(*[F.lit(j) for j in range(walks_per_start)])
    frontier = (
        starts.select(F.col("src"), F.explode(seeds).alias("j"))
        .select(
            (F.col("src") * walks_per_start + F.col("j")).cast("long").alias("walk_id"),
            F.col("src").alias("node"),
        )
    )
    out = [frontier.select("walk_id", F.lit(0).cast("long").alias("step"), "node")]
    for s in range(1, walk_len + 1):
        frontier = (
            F.broadcast(frontier)
            .join(adj, frontier["node"] == adj["src"])
            .groupBy("walk_id")
            .agg(F.min_by("dst", _hash_choice(s)).alias("node"))
        )
        out.append(
            frontier.select("walk_id", F.lit(s).cast("long").alias("step"), "node")
        )
    return functools.reduce(DataFrame.unionByName, out).orderBy("walk_id", "step")


SKIPGRAM_WINDOW = 2


def walk_skipgram_pairs(
    spark: SparkSession, sf_dir: str, window: int = SKIPGRAM_WINDOW
) -> DataFrame:
    """Registry entry: ``(center, context, n_pairs)`` — skip-gram
    (center, context) co-occurrence counts within ``window`` steps along
    each walk, the exact training-pair extraction a word2vec/node2vec
    trainer consumes.

    Scale notes: the walk table (walks × length rows — sublinear in the
    corpus) self-joins on walk_id with the step-distance predicate; pair
    counts partial-agg map-side. At production walk counts this is a
    shuffle on walk_id, each group of bounded size (walk_len + 1)."""
    walks = product_random_walks(spark, sf_dir).persist()
    b = walks.select(
        F.col("walk_id"),
        F.col("step").alias("step_b"),
        F.col("node").alias("context"),
    )
    return (
        walks.join(b, "walk_id")
        .filter(
            (F.col("step") != F.col("step_b"))
            & (F.abs(F.col("step") - F.col("step_b")) <= window)
        )
        .groupBy(F.col("node").alias("center"), "context")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
        .orderBy("center", "context")
    )
