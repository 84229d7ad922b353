"""HITS (hubs & authorities) — Kleinberg '99 — over the property graph
[extension].

The reference's graph tier stops at pattern traversal plus its declared
PageRank TODO (``/root/reference/app/main.py:31-33``); HITS is the natural
companion ranking for a bipartite-ish commerce graph: orders/customers that
*point at* many well-endorsed products are hubs, products *pointed at* by
many strong hubs are authorities. Like PageRank (``graph/pagerank.py``),
the loop is the genuinely iterative piece Catalyst cannot express
(SURVEY.md §4 custom-work item 1), so it follows the same DataFrame
power-iteration discipline — and, since r13, the same CO-PARTITIONED
physical shape: the score vector is hash-partitioned by ``id`` into
``state_partitions(|V|)`` and the edge relation is checkpointed TWICE,
once partitioned by ``src`` and once by ``dst`` (the half-steps alternate
join keys), under ``static_planning`` (AQE off inside the loop) so every
checkpoint keeps its partitioning. Each half-step then plans to exactly
ONE exchange (the message combine) with zero broadcasts — the same shape
at every scale, replacing the old dimension-sized broadcast dispatch
(which collected the |V|-sized vector to the driver per half-step and
measured slower at sf0.1). Exactly ONE driver action per half-step — the
1-row normalization total, whose collect doubles as the materialization
of the previous half-step's lazily-checkpointed score vector (the
pagerank dangling-mass fold).

Exactness (the whole point of the fixed-point formulation): scores are
scaled BIGINTs. A plain L1/L2 normalization divides by a data-dependent
total — in floats that is engine-divergent; here each half-step computes

    raw_auth(v) = SUM over in-edges of hub(u)          (exact BIGINT)
    norm        = GREATEST(total_raw div FP_SCALE, 1)   (one 1-row agg)
    auth(v)     = raw_auth(v) div norm                  (exact BIGINT)

which keeps every intermediate an integer — summation order cannot perturb
anything, so the unrolled-CTE DuckDB oracle in ``__spark_entry__.py``
(``_hits_fp_sql``) reproduces the scores bit-for-bit and the iterative
tier gets a full value-hash check, not a rows-only one. The div-based
rescale keeps the vector's L1 mass at ~FP_SCALE so products never leave
int64: raw ≤ in_degree·FP_SCALE ≤ |E|·FP_SCALE, and nothing is ever
multiplied back up.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..caching import memo
from .checkpointing import graph_partitions, static_planning, truncate_lineage
from .pagerank import FP_SCALE

HITS_ITER = 4


class PreparedHITSGraph:
    """Loop-shaped static frames for ``hits_fp`` (cacheable per
    session/corpus): the distinct vertex set partitioned by ``id`` and
    the edge relation checkpointed under both half-step partitionings."""

    __slots__ = ("verts", "n_vertices", "parts", "e_src", "e_dst")

    def __init__(self, verts, n_vertices, parts, e_src, e_dst):
        self.verts = verts          # (id), hash(id, parts)
        self.n_vertices = n_vertices
        self.parts = parts
        self.e_src = e_src          # (src, dst), hash(src, parts)
        self.e_dst = e_dst          # (src, dst), hash(dst, parts)


def prepare_hits_graph(edges: DataFrame) -> PreparedHITSGraph:
    edges = edges.select("src", "dst")
    spark = edges.sparkSession
    verts_raw = (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    with static_planning(spark):
        n_vertices = verts_raw.count()
        n_edges = edges.count()
        parts = graph_partitions(n_vertices, n_edges, edges)
        # repartition-then-PERSIST (not checkpoint): cached columnar
        # relations keep their outputPartitioning and scan far faster
        # than serialized checkpoint blocks (8 scans per hits_fp call)
        verts = verts_raw.repartition(parts, "id").persist()
        e_src = edges.repartition(parts, "src").persist()
        e_dst = e_src.repartition(parts, "dst").persist()
    return PreparedHITSGraph(verts, n_vertices, parts, e_src, e_dst)


def cached_hits_graph(spark: SparkSession, sf_dir: str) -> PreparedHITSGraph:
    """Session-cached loop shape of the full property graph (the
    ``cached_und_edges`` policy)."""
    from .queries import cached_graph

    return memo(
        spark,
        ("hits_graph", sf_dir.rstrip("/")),
        lambda: prepare_hits_graph(
            cached_graph(spark, sf_dir).edges.select("src", "dst")
        ),
    )


def hits_fp(
    edges: DataFrame,
    num_iter: int = HITS_ITER,
    prepared: PreparedHITSGraph | None = None,
) -> DataFrame:
    """Integer fixed-point HITS over ``edges(src, dst)``.

    Returns ``(id, auth_fp, hub_fp)`` for every vertex appearing as an
    endpoint. ``num_iter`` full (auth then hub) rounds from an all-ones
    hub vector scaled to FP_SCALE. ``prepared``: pre-shaped frames of the
    SAME edge relation (skips the per-call shaping)."""
    assert num_iter >= 1, "HITS needs at least one full round"
    if prepared is None:
        prepared = prepare_hits_graph(edges)
    spark = prepared.verts.sparkSession
    verts, parts = prepared.verts, prepared.parts
    by_key = {"src": prepared.e_src, "dst": prepared.e_dst}

    # ONE driver action per half-step (the pagerank dangling-mass fold):
    # the normalization total's collect doubles as the materialization of
    # the PREVIOUS half-step's lazily-checkpointed score vector. The
    # message aggregate is persisted across its two uses (1-row total,
    # then the state join); since the new vector is checkpointed LAZILY,
    # the persist is released one half-step LATE — live state stays
    # bounded at 2×edges + vertices + one score vector + two |V|-row
    # aggregates.
    prev_raw: list[DataFrame] = []

    def _half_step(scores: DataFrame, score_col: str, join_on: str,
                   group_on: str, out_col: str) -> DataFrame:
        """One endorsement pass: ship ``score_col`` along edges joined on
        ``join_on``, aggregate by ``group_on``, renormalize to ~FP_SCALE
        mass with an exact integer div. Both joins are co-partitioned
        (scores arrive partitioned by id → aliased to the join key), so
        the only exchange is the message combine."""
        side = scores.select(F.col("id").alias(join_on), score_col)
        raw = (
            by_key[join_on].join(side.hint("shuffle_hash"), join_on)
            .groupBy(F.col(group_on).alias("id"))
            .agg(F.sum(score_col).alias("raw"))
            .persist()
        )
        total = int(raw.agg(F.coalesce(F.sum("raw"), F.lit(0))).first()[0])
        if prev_raw:
            prev_raw.pop().unpersist()
        norm = max(total // FP_SCALE, 1)
        out = verts.join(raw.hint("shuffle_hash"), "id", "left").select(
            "id",
            F.expr(f"coalesce(raw, cast(0 as bigint)) div {norm}").alias(out_col),
        )
        prev_raw.append(raw)
        return out.transform(truncate_lineage, eager=False)

    with static_planning(spark, shuffle_partitions=parts):
        hubs = verts.select("id", F.lit(FP_SCALE).cast("long").alias("hub"))
        auths = None
        for _ in range(num_iter):
            auths = _half_step(hubs, "hub", "src", "dst", "auth")
            hubs = _half_step(auths, "auth", "dst", "src", "hub")
        out = auths.join(hubs.hint("shuffle_hash"), "id").select(
            "id", F.col("auth").alias("auth_fp"), F.col("hub").alias("hub_fp")
        )
        # Materialize the final vector (truncate_lineage is eager), then
        # release the iteration-scoped aggregate cache — the prepared
        # frames are caller-owned (session artifacts) and stay.
        out = out.transform(truncate_lineage, eager=True)
    prev_raw.pop().unpersist()
    return out


def hits_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry: top 20 authorities of the full property graph with
    their hub scores — ``(id, auth_fp, hub_fp, auth)``, ordered by
    authority (deterministic id tiebreak, compiles to
    TakeOrderedAndProject)."""
    from .queries import cached_graph

    g = cached_graph(spark, sf_dir)
    r = hits_fp(
        g.edges.select("src", "dst"),
        num_iter=HITS_ITER,
        prepared=cached_hits_graph(spark, sf_dir),
    )
    return (
        r.select(
            "id",
            "auth_fp",
            "hub_fp",
            (F.col("auth_fp").cast("double") / F.lit(float(FP_SCALE))).alias("auth"),
        )
        .orderBy(F.desc("auth_fp"), F.asc("id"))
        .limit(20)
    )
