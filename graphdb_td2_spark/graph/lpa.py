"""Label-propagation community detection [extension] — the L3 companion
to PageRank/components/k-core (SURVEY.md §4 item 1 tier: iterative graph
algorithms Catalyst cannot express in one query).

Synchronous LPA with a DETERMINISTIC tie-break and a SELF-VOTE: every
vertex starts labeled with its own id; each round a vertex adopts the
most frequent label among its neighbors plus its own current label, ties
broken by MINIMUM label, isolated vertices keep their label. Vanilla LPA
breaks ties randomly and is order-dependent, and the pure-neighbor
synchronous variant OSCILLATES on bipartite structures (a two-vertex
edge flips labels forever); the self-vote damps the oscillation and the
(count DESC, label ASC) tie-break makes the fixed-round result a pure
function of the graph — which is what lets a DuckDB oracle reproduce it
exactly (unrolled one-CTE-per-round, same round count).

Each round is one superstep (``graph/superstep.py``): every vertex
sends its label (a co-partitioned edge join), the (vertex, label) vote
count is partially aggregated, and a per-vertex top-1 window picks the
winner. A round that changes no label ends the run early with the same
labels the remaining rounds would produce.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..caching import memo
from .queries import (
    cached_graph,
    cached_und_edges,
    cached_vertex_count,
    property_graph_parts,
)
from .superstep import run_supersteps, symmetric_edges

DEFAULT_ROUNDS = 4  # fixed — both engines run exactly this many

# Final-label frames are expensive (4 shuffle rounds) and consumed by TWO
# registry entries (community_sizes, community_modularity) — cache per
# (session, corpus, rounds).
def _cached_labels(spark: SparkSession, sf_dir: str, rounds: int) -> DataFrame:
    def build():
        g = cached_graph(spark, sf_dir)
        return label_propagation(
            g.vertices,
            g.edges,
            rounds=rounds,
            und=cached_und_edges(spark, sf_dir),
            n_vertices=cached_vertex_count(spark, sf_dir),
            n_parts=property_graph_parts(spark, sf_dir),
        ).persist()

    return memo(spark, ("labels", sf_dir.rstrip("/"), rounds), build)


def _send(
    und: DataFrame, state: DataFrame, frontier: DataFrame, agg, step
) -> DataFrame:
    top1 = Window.partitionBy("id").orderBy(F.desc("c"), F.asc("lbl"))
    votes = (
        und.join(state.hint("shuffle_hash"), und.src == state.id)
        .select(F.col("dst").alias("id"), "lbl")
        .unionByName(state)  # self-vote
    )
    return (
        votes.groupBy("id", "lbl")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn("rn", F.row_number().over(top1))
        .filter(F.col("rn") == 1)
        .select("id", F.col("lbl").alias("new_lbl"))
    )


def label_propagation(
    vertices: DataFrame,
    edges: DataFrame,
    rounds: int = DEFAULT_ROUNDS,
    und: DataFrame | None = None,
    n_vertices: int | None = None,
    n_parts: int | None = None,
) -> DataFrame:
    """``(id, lbl)`` after ``rounds`` synchronous LPA rounds (undirected
    edges; most frequent label among neighbors + self, ties to the
    minimum label).

    ``und``: a caller-owned loop-shaped undirected relation
    (``graph.queries.cached_und_edges``) passed with its budget
    ``n_parts``; derived call-scoped from ``edges`` when absent."""
    if und is None:
        und, n_parts = symmetric_edges(edges), None
    labels, _ = run_supersteps(
        vertices.select("id", F.col("id").alias("lbl")),
        und,
        _send,
        merge=lambda agg, step: [F.coalesce("new_lbl", "lbl").alias("lbl")],
        changed=F.col("new_lbl") != F.col("lbl"),
        max_rounds=rounds,
        n_parts=n_parts,
        n_vertices=n_vertices,
    )
    return labels


def community_sizes(
    spark: SparkSession, sf_dir: str, rounds: int = DEFAULT_ROUNDS
) -> DataFrame:
    """Community-size histogram of the property graph after fixed-round
    LPA: ``(size, n_communities)`` ordered by size descending."""
    lp = _cached_labels(spark, sf_dir, rounds)
    return (
        lp.groupBy("lbl")
        .agg(F.count(F.lit(1)).alias("size"))
        .groupBy("size")
        .agg(F.count(F.lit(1)).alias("n_communities"))
        .orderBy(F.desc("size"))
    )


def community_modularity(
    spark: SparkSession, sf_dir: str, rounds: int = DEFAULT_ROUNDS
) -> DataFrame:
    """Registry entry: ``(n_communities, n_edges, modularity)`` — Newman
    modularity of the fixed-round LPA partition over the undirected
    property graph: Q = Σ_c [m_c/m − (d_c/2m)²], the quality score that
    turns "LPA emitted labels" into "the labels mean something".

    Determinism: Q is computed as ONE division of exact integers —
    numerator Σ_c (4·m·m_c − d_c²), denominator 4m² — so no per-community
    float summation order exists. m counts distinct undirected edges,
    m_c intra-community edges, d_c the community degree sum
    (self-loop-free by construction of the edge multiset).

    Scale notes: one extra join of the doubled edge list against the
    final labels (both sides keyed by vertex — the same shuffle the LPA
    rounds already use) plus two bounded aggregates; the quadratic-
    looking d_c² folds over the per-community degree aggregate, never
    over pairs.
    """
    lp = _cached_labels(spark, sf_dir, rounds)
    und = cached_und_edges(spark, sf_dir)
    lbl_src = lp.select(F.col("id").alias("src"), F.col("lbl").alias("l_src"))
    lbl_dst = lp.select(F.col("id").alias("dst"), F.col("lbl").alias("l_dst"))
    labeled = und.join(lbl_src, "src").join(lbl_dst, "dst")
    per_comm = (
        labeled.groupBy("l_src")
        .agg(
            F.count(F.lit(1)).alias("deg_sum"),  # doubled-graph out-degree sum
            F.sum((F.col("l_src") == F.col("l_dst")).cast("long")).alias(
                "intra2"
            ),  # intra-community edge endpoints (2 per edge)
        )
    )
    m = und.agg((F.count(F.lit(1)) / 2).cast("long").alias("m"))
    return (
        per_comm.crossJoin(m)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_communities"),
            F.first("m").cast("long").alias("n_edges"),
            F.sum(
                F.lit(4) * F.col("m") * (F.col("intra2") / 2).cast("long")
                - F.col("deg_sum") * F.col("deg_sum")
            )
            .cast("long")
            .alias("q_num"),
        )
        .select(
            "n_communities",
            "n_edges",
            (
                F.col("q_num").cast("double")
                / (F.lit(4).cast("double") * F.col("n_edges").cast("double") * F.col("n_edges").cast("double"))
            ).alias("modularity"),
        )
    )
