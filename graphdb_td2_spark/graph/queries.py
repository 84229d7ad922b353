"""Graph-level inventory queries: load-effect counts (the Spark analogue of
the checks container's ``MATCH (n) RETURN count(n)`` assertion,
``docker-compose.yml:94-102``; SURVEY.md §2 D3) and graph-build invariants
(FIXTURES.md oracle query 5/6)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..caching import memo
from ..io import load_tables, read_table
from .build import GraphFrames, build_graph, event_typed_dedup
from .pagerank import (
    FP_SCALE,
    pagerank_fp,
    pagerank_fp_rounds,
    personalized_pagerank_fp,
)
from .superstep import symmetric_edges

# Four inventory queries share one E2-E9 build instead of re-deriving it
# (the build is ~4 joins + unions — the dominant cost of every graph
# query). Frames are persisted MEMORY_AND_DISK so a 100 TB graph spills
# instead of OOMing — the same posture a production session would take
# (or a materialized vertices/edges table on the lake).
def cached_graph(spark: SparkSession, sf_dir: str) -> GraphFrames:
    def build():
        g = build_graph(load_tables(spark, sf_dir))
        return GraphFrames(vertices=g.vertices.persist(), edges=g.edges.persist())

    return memo(spark, ("graph", sf_dir.rstrip("/")), build)


def cached_und_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted distinct UNDIRECTED ``(src, dst)`` relation of the
    property graph — the derived lake artifact every undirected iterative
    algorithm (components, BFS, LPA) starts from. Built once per
    (session, corpus) like ``cached_graph``.

    The artifact is LOOP-SHAPED: hash-partitioned by ``src`` into the
    shared ``graph_partitions`` budget BEFORE the persist, so the cached
    columnar relation's outputPartitioning satisfies the iterative
    consumers' src-keyed joins exchange-free (cached plans are exempt
    from AQE output-partitioning re-planning) while scans stay on the
    fast InMemoryRelation path."""

    def build():
        und = symmetric_edges(cached_graph(spark, sf_dir).edges)
        return und.repartition(property_graph_parts(spark, sf_dir), "src").persist()

    return memo(spark, ("und_edges", sf_dir.rstrip("/")), build)


def cached_vertex_count(spark: SparkSession, sf_dir: str) -> int:
    """|V| of the property graph per (session, corpus) — with |E| it
    sizes the loop budget (``property_graph_parts``): one count job over
    the persisted vertices on first use, free after."""
    return memo(
        spark,
        ("vertex_count", sf_dir.rstrip("/")),
        lambda: cached_graph(spark, sf_dir).vertices.count(),
    )


def cached_edge_count(spark: SparkSession, sf_dir: str) -> int:
    """|E| of the property graph per (session, corpus) — with |V| it
    sizes the shared co-partitioned loop budget (one count job over the
    persisted edges on first use, free after)."""
    return memo(
        spark,
        ("edge_count", sf_dir.rstrip("/")),
        lambda: cached_graph(spark, sf_dir).edges.count(),
    )


def property_graph_parts(spark: SparkSession, sf_dir: str) -> int:
    """THE partition budget for co-partitioned iterative loops over the
    property graph — shared by the loop-shaped lake artifacts
    (``cached_und_edges``, ``sssp.cached_weighted_und_edges``) and the
    loops' state frames, so their joins stay exchange-free (equal
    numPartitions is part of the co-partitioning contract)."""
    from .checkpointing import graph_partitions

    g = cached_graph(spark, sf_dir)
    return graph_partitions(
        cached_vertex_count(spark, sf_dir),
        2 * cached_edge_count(spark, sf_dir),
        g.edges,
    )


def graph_vertex_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vertex count per label after the full E2-E9 build."""
    g = cached_graph(spark, sf_dir)
    return (
        g.vertices.groupBy("label").agg(F.count(F.lit(1)).alias("n")).orderBy("label")
    )


def graph_edge_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edge count per relationship type after the full E2-E9 build —
    exercises MERGE dedup (D4) and inner-join orphan drops (C7)."""
    g = cached_graph(spark, sf_dir)
    return (
        g.edges.groupBy("rel_type").agg(F.count(F.lit(1)).alias("n")).orderBy("rel_type")
    )


def event_edge_dedup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type edge counts after B4 domain filtering and (customer,
    product, type) dedup, before endpoint resolution — isolates E8/E9."""
    events = read_table(spark, sf_dir, "events")
    return (
        event_typed_dedup(events)
        .groupBy("rel_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("rel_type")
    )


def graph_constraint_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4: the reference's uniqueness constraints and lookup indexes
    (``app/queries.cypher:2-29``) re-expressed as a validation job — key
    uniqueness per entity, FK resolvability (the rows C7's inner joins
    silently drop), and the event-type domain (B4). Returns one row per
    check with its violation count."""
    customer = read_table(spark, sf_dir, "customer", ["c_custkey"])
    part = read_table(spark, sf_dir, "part", ["p_partkey"])
    orders = read_table(spark, sf_dir, "orders", ["o_orderkey", "o_custkey"])
    lineitem = read_table(spark, sf_dir, "lineitem", ["l_orderkey", "l_partkey"])
    events = read_table(spark, sf_dir, "events", ["event_id", "user_id", "event_type"])

    def dup(df: DataFrame, col: str):
        return df.agg(
            (F.count(F.lit(1)) - F.countDistinct(col)).cast("long").alias("n")
        )

    def unresolved(child: DataFrame, key, parent: DataFrame, pkey):
        return (
            child.select(F.col(key).alias("k"))
            .join(parent.select(F.col(pkey).alias("k")).distinct(), "k", "left_anti")
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
        )

    checks = [
        ("customer_key_unique", dup(customer, "c_custkey")),
        ("event_key_unique", dup(events, "event_id")),
        (
            # The reference's CHECK domain (01_schema.sql:37); corpus rows
            # outside it are exactly what the ETL's B4 filter drops.
            "event_type_domain",
            events.filter(
                ~F.lower("event_type").isin("view", "click", "add_to_cart")
            ).agg(F.count(F.lit(1)).cast("long").alias("n")),
        ),
        (
            "event_user_fk",
            unresolved(events, "user_id", customer, "c_custkey"),
        ),
        ("lineitem_order_fk", unresolved(lineitem, "l_orderkey", orders, "o_orderkey")),
        ("lineitem_part_fk", unresolved(lineitem, "l_partkey", part, "p_partkey")),
        ("order_key_unique", dup(orders, "o_orderkey")),
        ("orders_customer_fk", unresolved(orders, "o_custkey", customer, "c_custkey")),
        ("part_key_unique", dup(part, "p_partkey")),
    ]
    out = None
    for name, agg in checks:
        row = agg.select(F.lit(name).alias("check"), F.col("n").alias("n_violations"))
        out = row if out is None else out.unionByName(row)
    return out.orderBy("check")


# Loop-shaped PageRank graph artifacts per (session, corpus, weighted) —
# the cached_und_edges policy applied to the power-iteration consumers:
# vertex set + out-degree-folded edges are pure functions of the corpus,
# re-derived per call they cost more than the 5 iterations they feed.
def cached_fp_graph(spark: SparkSession, sf_dir: str, weighted: bool = False):
    from .pagerank import prepare_fp_graph

    def build():
        g = cached_graph(spark, sf_dir)
        if weighted:
            edges = g.edges.select(
                "src",
                "dst",
                F.floor(F.coalesce(F.col("quantity"), F.lit(1.0)))
                .cast("long")
                .alias("w"),
            )
            return prepare_fp_graph(edges, weight="w")
        return prepare_fp_graph(g.edges.select("src", "dst"))

    return memo(spark, ("fp_graph", sf_dir.rstrip("/"), weighted), build)


def pagerank_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the full property graph; top 20 vertices.

    Uses the integer fixed-point formulation (``pagerank.py``): ranks are
    scaled BIGINTs, so the unrolled-CTE DuckDB oracle in
    ``__spark_entry__.py`` reproduces them bit-exactly — the iterative L3
    tier gets a full value-hash check, not a rows-only one (SURVEY.md §4
    custom-work item 1; round-1 VERDICT item 3)."""
    g = cached_graph(spark, sf_dir)
    pr = pagerank_fp(
        g.edges.select("src", "dst"),
        num_iter=5,
        prepared=cached_fp_graph(spark, sf_dir),
    )
    return (
        pr.select(
            "id",
            "rank_fp",
            (F.col("rank_fp").cast("double") / F.lit(float(FP_SCALE))).alias("rank"),
        )
        .orderBy(F.desc("rank_fp"), F.asc("id"))
        .limit(20)
    )


def weighted_pagerank_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank with CONTAINS quantities as edge weights (other edge
    types weigh 1): an order that contains 40 units of a product pushes
    40x the rank toward it. Same integer fixed-point machinery —
    ``rank·w div W(u)`` stays exact (corpus weights ≤ ~50), so the
    weighted variant is oracle-checked too."""
    g = cached_graph(spark, sf_dir)
    # explicit floor on BOTH engines: Spark's decimal→long cast truncates
    # while DuckDB's rounds half away from zero, so a fractional quantity
    # (2.5) would silently diverge; floor() first makes the composite
    # exact for any decimal corpus (the oracle uses CAST(floor(q) AS
    # BIGINT) in lock-step — see _graph_edges_weighted_sql)
    edges = g.edges.select(
        "src",
        "dst",
        F.floor(F.coalesce(F.col("quantity"), F.lit(1.0))).cast("long").alias("w"),
    )
    pr = pagerank_fp(
        edges,
        num_iter=5,
        weight="w",
        prepared=cached_fp_graph(spark, sf_dir, weighted=True),
    )
    return (
        pr.select(
            "id",
            "rank_fp",
            (F.col("rank_fp").cast("double") / F.lit(float(FP_SCALE))).alias("rank"),
        )
        .orderBy(F.desc("rank_fp"), F.asc("id"))
        .limit(20)
    )


def ppr_top20(spark: SparkSession, sf_dir: str, seed: str = "C:1") -> DataFrame:
    """Personalized PageRank from one customer seed — the reference's
    declared GDS TODO (``app/main.py:31-33``); top 20 vertices. Integer
    fixed-point (exact DuckDB oracle), like ``pagerank_top20``."""
    g = cached_graph(spark, sf_dir)
    pr = personalized_pagerank_fp(
        g.edges.select("src", "dst"),
        seeds=[seed],
        num_iter=5,
        prepared=cached_fp_graph(spark, sf_dir),
    )
    return (
        pr.select(
            "id",
            "rank_fp",
            (F.col("rank_fp").cast("double") / F.lit(float(FP_SCALE))).alias("rank"),
        )
        .orderBy(F.desc("rank_fp"), F.asc("id"))
        .limit(20)
    )


def pagerank_convergence_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry: ``(iter, l1_delta_fp)`` — per-iteration L1 rank
    movement Σ|Δrank_fp| of the 5-iteration PageRank run [extension].

    The stopping-criterion evidence for the iterative tier: a geometric
    decay here is what justifies the fixed iteration count the production
    queries run with (and, at 100 TB, what an adaptive early-exit loop
    would threshold on). Exact integers throughout — each delta is a
    per-round aggregate of the power iteration itself, so the
    unrolled-CTE oracle reproduces the curve bit-for-bit.
    """
    # the final vector is discarded — the curve is the product here; the
    # run itself is the same pagerank_top20 loop (5 iterations)
    _, rows = pagerank_fp_rounds(cached_fp_graph(spark, sf_dir), 5)
    return spark.createDataFrame(
        [(i + 1, r["l1_delta"]) for i, r in enumerate(rows)],
        "iter bigint, l1_delta_fp bigint",
    ).orderBy("iter")
