"""k-core decomposition [extension] — iterative peeling on the L3
"graph algorithms Catalyst can't express" tier, alongside PageRank,
components, and BFS: repeatedly drop vertices whose degree in the
surviving subgraph is below ``k``. The fixed point is the k-core — the
standard dense-substructure primitive (community seeds, spam/bot rings,
graph sparsification before expensive analytics).

Determinism for the oracle: BOTH engines run a FIXED number of peeling
rounds (like ``bfs.py``), so intermediate states match even before
convergence; the per-round surviving-vertex counts are the query output
(monotone non-increasing, and constant once converged).

Peeling is incremental, one superstep (``graph/superstep.py``) per round:
the state is ``(id, deg, alive)``, the frontier is the vertices removed
last round, and each sends one message per edge it takes with it, summed
per neighbor and subtracted from that neighbor's degree. Removal sets are
disjoint across rounds, so the cumulative subtraction equals the degree
in the surviving subgraph, and no round rewrites the edge set. The
surviving count is a per-round aggregate; once a round removes nothing
the loop halts and the remaining rounds repeat its count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .queries import cached_graph
from .superstep import edge_send, run_supersteps, symmetric_edges

KCORE_K = 2
KCORE_ROUNDS = 6


def kcore_round_sizes(
    edges: DataFrame,
    k: int = KCORE_K,
    rounds: int = KCORE_ROUNDS,
    und: DataFrame | None = None,
    n_parts: int | None = None,
) -> DataFrame:
    """``(round, n_vertices)`` after each of ``rounds`` peeling steps over
    the undirected multigraph-collapsed edge set. ``und``: caller-owned
    loop-shaped undirected relation (the session lake artifact,
    ``graph.queries.cached_und_edges``), passed with its budget
    ``n_parts``; derived call-scoped from ``edges`` otherwise."""
    spark = edges.sparkSession
    if und is None:
        und, n_parts = symmetric_edges(edges), None
    deg = F.col("deg") - F.coalesce(F.col("msg"), F.lit(0))
    _, rows = run_supersteps(
        und.groupBy(F.col("src").alias("id"))
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
        .withColumn("alive", F.lit(True)),
        und,
        edge_send(F.lit(1), F.sum),
        merge=lambda agg, step: [
            deg.alias("deg"),
            (F.col("alive") & (deg >= k)).alias("alive"),
        ],
        changed=F.col("alive") & (deg < k),
        max_rounds=rounds,
        active=F.lit(False),
        aggregates=[F.count(F.when(F.col("alive"), True)).alias("n_alive")],
        n_parts=n_parts,
    )
    sizes = [r["n_alive"] for r in rows]
    sizes += sizes[-1:] * (rounds - len(sizes))
    return spark.createDataFrame(
        list(enumerate(sizes, 1)), "round long, n_vertices long"
    )


def kcore_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry: per-round surviving-vertex counts of 2-core peeling
    over the full property graph (fixed 6 rounds, oracle-exact — the
    DuckDB twin unrolls the same rounds as chained CTEs)."""
    from .queries import cached_und_edges, property_graph_parts

    g = cached_graph(spark, sf_dir)
    return kcore_round_sizes(
        g.edges.select("src", "dst"),
        und=cached_und_edges(spark, sf_dir),
        n_parts=property_graph_parts(spark, sf_dir),
    ).orderBy("round")
