"""PageRank / Personalized PageRank — the reference's declared TODO
(``app/main.py:31-33``: "Switch to Personalized PageRank (PPR) when GDS is
present"; the GDS plugin is installed but unused, ``docker-compose.yml:23``).

Catalyst cannot express iteration (SURVEY.md §4), so the power iteration
runs on the superstep operator (``graph/superstep.py``), in the
GraphX/Pregel spirit: each superstep ships ``rank·w div out_degree`` along
the edges, sums it by destination and merges it with damping; the mass on
dangling vertices (no out-edges) is a per-round aggregate that the next
round redistributes through the teleport vector.

IEEE-754 summation is order-dependent, so a float power iteration can never
be value-hash-compared across engines. This formulation keeps every
intermediate an INTEGER: ranks are scaled BIGINTs, per-edge contribution is
``rank·w div out_degree``, damping is (dnum/dden) applied via integer
division. Integer sums are associative and integer division is
deterministic, so DuckDB (which evaluates the same recurrence as unrolled
CTEs in ``__spark_entry__.py``) reproduces bit-identical ranks.

Overflow bound (int64): rank mass never exceeds FP_SCALE (floors only shed
mass), so dangling*reset <= FP_SCALE^2 = 1e18 < 2^63, and
FP_DNUM*(msg + dangling_term) <= 85 * 2*FP_SCALE ~ 1.7e11.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Row, functions as F

from .checkpointing import graph_partitions, static_planning
from .superstep import edge_send, run_supersteps

FP_SCALE = 10**9
FP_DNUM = 85  # damping numerator
FP_DDEN = 100  # damping denominator


def _vertices_of(edges: DataFrame, src: str, dst: str) -> DataFrame:
    return (
        edges.select(F.col(src).alias("id"))
        .unionByName(edges.select(F.col(dst).alias("id")))
        .distinct()
    )


class PreparedFPGraph:
    """Loop-shaped static frames for the integer power iteration — a
    derived lake artifact (cacheable per session/corpus, see
    ``queries.cached_fp_graph``): the distinct vertex set partitioned by
    ``id``, the edges carrying their static out-degree partitioned by
    ``src`` — the operator's caller-shaped adjacency."""

    __slots__ = ("vertices", "n_vertices", "parts", "edges_w")

    def __init__(self, vertices, n_vertices, parts, edges_w):
        self.vertices = vertices  # (id), hash(id, parts)
        self.n_vertices = n_vertices
        self.parts = parts
        self.edges_w = edges_w  # (src, dst, w, out_degree), hash(src, parts)


def prepare_fp_graph(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
) -> PreparedFPGraph:
    """Shape ``edges`` for the power iteration (one-time per graph):
    derive the vertex set, fold the static out-degree onto the edges and
    partition both on their loop join keys. The fold removes a
    per-iteration join; the partitioning removes every per-iteration
    exchange except the message combine."""
    spark = edges.sparkSession
    if weight is None:
        edges = edges.select(
            F.col(src).alias("src"), F.col(dst).alias("dst"),
            F.lit(1).cast("long").alias("w"),
        )
    else:
        edges = edges.select(
            F.col(src).alias("src"),
            F.col(dst).alias("dst"),
            F.col(weight).cast("long").alias("w"),
        )
    vertices_raw = _vertices_of(edges, "src", "dst")
    with static_planning(spark):
        n_vertices = vertices_raw.count()
        n_edges = edges.count()
        parts = graph_partitions(n_vertices, n_edges, edges)
        # repartition-then-PERSIST (not checkpoint): the cached columnar
        # relation keeps its outputPartitioning (cached plans are exempt
        # from AQE re-planning) and scans far faster than serialized
        # checkpoint blocks — the loop reads edges_w once per iteration
        vertices = vertices_raw.repartition(parts, "id").persist()
        e0 = edges.repartition(parts, "src")
        out_deg = e0.groupBy("src").agg(F.sum("w").alias("out_degree"))
        edges_w = e0.join(out_deg.hint("shuffle_hash"), "src").persist()
    return PreparedFPGraph(vertices, n_vertices, parts, edges_w)


def _iterate_fp(
    prepared: PreparedFPGraph,
    reset: DataFrame,  # id, reset (scaled BIGINT teleport weights)
    num_iter: int,
) -> tuple[DataFrame, list[Row]]:
    """Integer power iteration → the final ``(id, rank_fp)`` and one
    aggregate row per iteration: ``dangling`` (the rank mass on vertices
    with no out-edge) and ``l1_delta`` (Σ|Δrank|, the convergence curve).
    ``reset`` must derive from ``prepared.vertices``."""
    srcs = prepared.edges_w.select("src").distinct()
    init = (
        prepared.vertices.join(
            srcs.select(F.col("src").alias("id"))
            .withColumn("has_out", F.lit(True))
            .hint("shuffle_hash"),
            "id",
            "left",
        )
        .join(reset.hint("shuffle_hash"), "id", "left")
        .select(
            "id",
            F.coalesce(F.col("reset"), F.lit(0)).cast("long").alias("reset"),
            F.col("has_out").isNull().alias("is_dangling"),
        )
        .withColumn("rank", F.col("reset"))
        .withColumn("delta", F.lit(0).cast("long"))
    )

    def merge(agg: Row, step: int) -> list:
        rank = F.expr(
            f"(({FP_DDEN - FP_DNUM} * reset) div {FP_DDEN})"
            f" + (({FP_DNUM} * (coalesce(msg, cast(0 as bigint))"
            f" + (({agg['dangling']} * reset) div {FP_SCALE}))) div {FP_DDEN})"
        )
        return [
            F.col("reset"),
            F.col("is_dangling"),
            rank.alias("rank"),
            F.abs(rank - F.col("rank")).alias("delta"),
        ]

    ranks, rows = run_supersteps(
        init,
        prepared.edges_w,
        edge_send(F.expr("(rank * w) div out_degree"), F.sum),
        merge,
        changed=F.lit(True),
        max_rounds=num_iter,
        aggregates=[
            F.coalesce(F.sum(F.when(F.col("is_dangling"), F.col("rank"))), F.lit(0))
            .cast("long")
            .alias("dangling"),
            F.coalesce(F.sum("delta"), F.lit(0)).cast("long").alias("l1_delta"),
        ],
        n_parts=prepared.parts,
    )
    return ranks.select("id", F.col("rank").alias("rank_fp")), rows


def pagerank_fp_rounds(
    prepared: PreparedFPGraph, num_iter: int
) -> tuple[DataFrame, list[Row]]:
    """Uniform-teleport integer PageRank over a prepared graph: the final
    ``(id, rank_fp)`` and the per-iteration rows of ``_iterate_fp``."""
    reset = prepared.vertices.withColumn(
        "reset", F.lit(FP_SCALE // prepared.n_vertices).cast("long")
    )
    return _iterate_fp(prepared, reset, num_iter)


def pagerank_fp(
    edges: DataFrame,
    num_iter: int = 10,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
    prepared: PreparedFPGraph | None = None,
) -> DataFrame:
    """Uniform-teleport integer PageRank → ``(id, rank_fp)`` with
    ``rank_fp ~ rank * FP_SCALE`` (exactly reproducible cross-engine).
    With ``weight``, mass flows proportionally to edge weights.
    ``prepared``: a pre-shaped ``PreparedFPGraph`` of the SAME edge
    relation (the session-cached lake artifact) — skips the per-call
    shaping."""
    if prepared is None:
        prepared = prepare_fp_graph(edges, src, dst, weight)
    return pagerank_fp_rounds(prepared, num_iter)[0]


def personalized_pagerank_fp(
    edges: DataFrame,
    seeds: list,
    num_iter: int = 10,
    src: str = "src",
    dst: str = "dst",
    prepared: PreparedFPGraph | None = None,
) -> DataFrame:
    """Integer PPR: teleport mass split uniformly across ``seeds``."""
    if prepared is None:
        prepared = prepare_fp_graph(edges, src, dst)
    w = FP_SCALE // len(seeds)
    reset = prepared.vertices.withColumn(
        "reset",
        F.when(F.col("id").isin(*seeds), F.lit(w)).otherwise(F.lit(0)).cast("long"),
    )
    return _iterate_fp(prepared, reset, num_iter)[0]
