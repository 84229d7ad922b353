"""HITS (hubs & authorities) — Kleinberg '99 — over the property graph
[extension].

The reference's graph tier stops at pattern traversal plus its declared
PageRank TODO (``/root/reference/app/main.py:31-33``); HITS is the natural
companion ranking for a bipartite-ish commerce graph: orders/customers that
*point at* many well-endorsed products are hubs, products *pointed at* by
many strong hubs are authorities. Like PageRank (``graph/pagerank.py``),
the loop runs on the superstep operator (``graph/superstep.py``), one
half-step per superstep: even supersteps ship hub scores along the edges
(authorities), odd ones ship authority scores along the reversed edges
(hubs).

Exactness (the whole point of the fixed-point formulation): scores are
scaled BIGINTs. A plain L1/L2 normalization divides by a data-dependent
total — in floats that is engine-divergent; here each half-step computes

    raw_auth(v) = SUM over in-edges of hub(u)          (exact BIGINT)
    norm        = GREATEST(total_raw div FP_SCALE, 1)   (a per-round aggregate)
    auth(v)     = raw_auth(v) div norm                  (exact BIGINT)

which keeps every intermediate an integer — summation order cannot perturb
anything, so the unrolled-CTE DuckDB oracle in ``__spark_entry__.py``
(``_hits_fp_sql``) reproduces the scores bit-for-bit and the iterative
tier gets a full value-hash check, not a rows-only one. A half-step
stores its raw sums, and the superstep after it divides them by the norm
of their aggregated total. The div-based rescale keeps the vector's L1
mass at ~FP_SCALE so products never leave int64: raw ≤
in_degree·FP_SCALE ≤ |E|·FP_SCALE, and nothing is ever multiplied back
up.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..caching import memo
from .checkpointing import graph_partitions, static_planning
from .pagerank import FP_SCALE
from .superstep import edge_send, run_supersteps

HITS_ITER = 4


class PreparedHITSGraph:
    """Loop-shaped static frames for ``hits_fp`` (cacheable per
    session/corpus): the distinct vertex set partitioned by ``id`` and
    the edge relation in both directions, each partitioned by ``src``."""

    __slots__ = ("verts", "n_vertices", "parts", "e_src", "e_rev")

    def __init__(self, verts, n_vertices, parts, e_src, e_rev):
        self.verts = verts          # (id), hash(id, parts)
        self.n_vertices = n_vertices
        self.parts = parts
        self.e_src = e_src          # (src, dst), hash(src, parts)
        self.e_rev = e_rev          # (src, dst) reversed, hash(src, parts)


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
        e_rev = (
            e_src.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
            .repartition(parts, "src")
            .persist()
        )
    return PreparedHITSGraph(verts, n_vertices, parts, e_src, e_rev)


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

    def norm(agg, step: int, col: str) -> int:
        # ``col`` holds the raw sums of the previous half-step; the initial
        # hub vector is already at FP_SCALE per vertex
        return 1 if step == 0 else max(agg[f"{col}_total"] // FP_SCALE, 1)

    def roles(step: int) -> tuple[str, str]:
        # (the column the half-step sums, the column it ships): even
        # supersteps sum hubs into authorities along the edges, odd ones
        # authorities into hubs along the reversed edges
        return ("auth", "hub") if step % 2 == 0 else ("hub", "auth")

    def send(und, state, frontier, agg, step):
        adj = prepared.e_src if step % 2 == 0 else prepared.e_rev
        old = roles(step)[1]
        shipped = F.expr(f"{old} div {norm(agg, step, old)}")
        return edge_send(shipped, F.sum)(adj, state, frontier, agg, step)

    def merge(agg, step):
        new, old = roles(step)
        cols = {
            new: F.coalesce(F.col("msg"), F.lit(0)).cast("long"),
            old: F.expr(f"{old} div {norm(agg, step, old)}"),
        }
        return [cols["auth"].alias("auth"), cols["hub"].alias("hub")]

    scores, rows = run_supersteps(
        prepared.verts.select(
            "id",
            F.lit(0).cast("long").alias("auth"),
            F.lit(FP_SCALE).cast("long").alias("hub"),
        ),
        prepared.e_src,
        send,
        merge,
        changed=F.lit(True),
        max_rounds=2 * num_iter,
        aggregates=[
            F.coalesce(F.sum(c), F.lit(0)).cast("long").alias(f"{c}_total")
            for c in ("auth", "hub")
        ],
        n_parts=prepared.parts,
    )
    # the last half-step (hub) left raw sums
    return scores.select(
        "id",
        F.col("auth").alias("auth_fp"),
        F.expr(f"hub div {norm(rows[-1], 1, 'hub')}").alias("hub_fp"),
    )


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
