"""Sampled Brandes betweenness centrality [extension] over the
co-purchase graph — the "broker" centrality (how often does a product
sit ON the shortest chains between other products?), completing the
centrality family next to degree / harmonic (closeness) / PageRank /
HITS.

Reference parity: no reference counterpart; the graph itself is the
reference's co-purchase relation (``app/main.py:51-60``). Sampling
follows Brandes–Pich: run the exact per-source dependency accumulation
from a fixed seed sample instead of every vertex.

Determinism (the repo's integer fixed-point discipline): true Brandes
accumulates delta(v) = Σ_w σ(v)/σ(w) · (1 + delta(w)) over successors w
on shortest paths — float ratios whose summation order Spark does not
fix. We instead define the estimator IN fixed point: delta_fp carries
``DELTA_SCALE`` units per unit of dependency and every edge
contribution is the floor division

    (σ(v) · (DELTA_SCALE + delta_fp(w))) div σ(w)

of exact BIGINTs. Integer addition is order-independent, floor division
is engine-exact, so the result is bit-reproducible across Spark and the
DuckDB oracle — at the cost of ≤1/DELTA_SCALE dependency per edge hop
of downward bias, irrelevant for a top-k ranking. Shortest paths are
CAPPED at ``ROUNDS`` hops (same bound as the harmonic-centrality BFS;
the co-purchase graph's effective diameter at every tested SF is ≤ 3,
see ``graph_neighborhood_function``), which also bounds the recursion
unrolled in the oracle.

Overflow safety: σ and delta_fp SATURATE at ``SIGMA_CAP`` (2^20) and
``DELTA_CAP`` (2^36) via LEAST in both engines — identical saturation
is part of the estimator's definition, so cross-engine exactness holds
even where a cap bites. Measured maxima at sf0.01/sf0.1 are σ ≤ 971
and delta_fp ≤ ~1e7 — the caps are FAR from active at any tested
scale; they exist so a 100 TB hub graph wraps nowhere: each product is
≤ SIGMA_CAP·(DELTA_SCALE + DELTA_CAP) < 2^57, each per-edge term is
re-capped at DELTA_CAP before the per-node sum, so the sum stays under
deg·2^36 (< 2^63 for any degree < 2^26).

Scale notes: the forward pass is the harmonic-BFS plan with per-seed σ
LANE columns (the HyperBall wide-column pattern — node-keyed state, one
map-side-combinable SUM per lane instead of (seed, node) rows); the
backward pass is one equi-join per level between the cached level
frames and the adjacency — |V|-bounded state, never corpus-sized, all
keyed shuffles on node. Levels are persisted and reused by the backward
pass, then unpersisted.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession, functions as F

from .centrality import N_SEEDS, ROUNDS, TOP_K
from .checkpointing import (
    resolve_broadcast_state,
    static_planning,
    truncate_lineage,
)
from .walks import cached_copurchase_adjacency

DELTA_SCALE = 1000  # fixed-point dependency units (milli-dependencies)
SIGMA_CAP = 1 << 20  # saturating path-count bound (inactive at tested SFs)
DELTA_CAP = 1 << 36  # saturating dependency bound (inactive at tested SFs)


def _per_seed_dependencies(
    adj: DataFrame,
    n_seeds: int,
    rounds: int,
    broadcast_state: bool | None = None,
    n_vertices: int | None = None,
) -> tuple[DataFrame, list[DataFrame]]:
    """Shared Brandes core: the lazy ``(seed, node, delta_fp)`` relation
    over the ``n_seeds`` lowest-id seeds, plus the list of persisted
    level/delta frames the caller must unpersist after materializing
    (bounded live caches). Per-seed dependencies are ADDITIVE, so one
    pass serves every seed-subset estimator built on a prefix of the
    lowest-id seed order (see ``betweenness_approx_error_report``).

    ``broadcast_state`` (tri-state, ``resolve_broadcast_state``): every
    per-round frame (frontier, visited set, per-level delta) is ≤ |V|
    rows, while the adjacency is |E| ≥ degree·|V| rows — so below the
    vertex bar the rounds broadcast the SMALL state side and leave the
    cached adjacency in place. Without the hint each of the 2·rounds-1
    joins re-exchanged the adjacency (Spark cannot know an intermediate
    aggregate is small at plan time, and the r12 A/B measured the hint
    at ~2.3x on the sf0.1 entry). The default (None) derives the choice
    from ``n_vertices`` — above ``BROADCAST_STATE_MAX_VERTICES``, or
    when no count is supplied, every join stays on the co-partitioned
    shuffle path (a |V|-scale broadcast hits Spark's 8 GB hard limit on
    a 100 TB graph; VERDICT r12 finding #1) — the estimator is identical
    either way (integer math, order-independent).

    Seed-lane packing (r12, the HyperBall wide-column pattern): state is
    keyed by ``node`` with one sigma/delta LONG column per seed lane
    (NULL = lane inactive at this level), not by ``(seed, node)`` rows.
    Seeds' frontiers overlap heavily on a diameter-≤3 graph, so packing
    cuts per-round join traffic by up to ``n_seeds``× while every lane
    expression stays whole-stage-codegen integer arithmetic (no HOFs).
    Every capped expression is NULL-GUARDED explicitly because Spark's
    ``least`` SKIPS nulls (least(NULL, cap) = cap, which would credit
    inactive lanes). The packed relation is unpivoted back to the
    ``(seed, node, delta_fp)`` interface with one ``stack`` per level —
    row-for-row identical to the unpacked formulation (lanes are
    independent; integer sums are order-free)."""
    bc = (
        F.broadcast
        if resolve_broadcast_state(broadcast_state, n_vertices)
        else (lambda df: df)
    )
    spark = adj.sparkSession
    seed_ids = [
        r["src"]
        for r in adj.select("src").distinct().orderBy("src")
        .limit(n_seeds).collect()
    ]  # bounded: n_seeds ≤ 16 everywhere in the registry
    lanes = range(len(seed_ids))
    s = [f"s{i}" for i in lanes]

    # forward: BFS levels with per-lane shortest-path counts sigma
    l0 = spark.createDataFrame(
        [
            tuple([sid] + [1 if j == i else None for j in lanes])
            for i, sid in enumerate(seed_ids)
        ],
        "node long, " + ", ".join(f"{c} long" for c in s),
    )
    levels = [l0.persist()]
    visited = l0.select(
        "node", *[F.col(c).isNotNull().alias(f"v{i}") for i, c in enumerate(s)]
    ).transform(truncate_lineage, eager=False)
    pinned = [levels[0]]
    for _ in range(1, rounds + 1):
        frontier = levels[-1]
        summed = (
            bc(frontier)
            .join(adj, frontier["node"] == adj["src"])
            .select(F.col("dst").alias("node"), *s)
            .groupBy("node")
            .agg(*[F.sum(c).alias(c) for c in s])
        )
        nxt = (
            summed.join(bc(visited), "node", "left")
            .select(
                "node",
                *[
                    F.when(
                        F.col(c).isNotNull()
                        & ~F.coalesce(F.col(f"v{i}"), F.lit(False)),
                        F.least(F.col(c), F.lit(SIGMA_CAP)),
                    )
                    .cast("long")
                    .alias(c)
                    for i, c in enumerate(s)
                ],
            )
            .where(F.coalesce(*s).isNotNull())
            .persist()
        )
        levels.append(nxt)
        pinned.append(nxt)
        # visited enters the next round's plan twice (lane gate + its own
        # rebuild), so truncate its lineage per round — the PageRank loop
        # discipline; without it the plan tree doubles every round and
        # 16-lane analysis alone OOMs the driver (measured at sf0.001)
        visited = (
            visited.join(nxt.select("node", *s), "node", "full")
            .select(
                "node",
                *[
                    (
                        F.coalesce(F.col(f"v{i}"), F.lit(False))
                        | F.col(c).isNotNull()
                    ).alias(f"v{i}")
                    for i, c in enumerate(s)
                ],
            )
            .transform(truncate_lineage, eager=False)
        )

    # backward: dependency accumulation from the deepest level inward
    deltas: dict[int, DataFrame] = {
        rounds: levels[rounds].select(
            "node",
            *s,
            *[
                F.when(F.col(c).isNotNull(), F.lit(0))
                .cast("long")
                .alias(f"d{i}")
                for i, c in enumerate(s)
            ],
        )
    }
    for r in range(rounds - 1, 0, -1):
        child = deltas[r + 1]
        edge = (
            bc(child)
            .join(adj, child["node"] == adj["dst"])
            .select(
                F.col("src").alias("node"),
                *[F.col(c).alias(f"w{i}") for i, c in enumerate(s)],
                *[f"d{i}" for i in lanes],
            )
        )
        parents = levels[r].select(
            "node", *[F.col(c).alias(f"p{i}") for i, c in enumerate(s)]
        )
        contrib = (
            edge.join(bc(parents), "node")
            .select(
                "node",
                *[
                    F.when(
                        F.col(f"p{i}").isNotNull()
                        & F.col(f"w{i}").isNotNull(),
                        F.least(
                            F.expr(
                                f"(p{i} * ({DELTA_SCALE} + d{i})) div w{i}"
                            ),
                            F.lit(DELTA_CAP),
                        ),
                    )
                    .cast("long")
                    .alias(f"c{i}")
                    for i in lanes
                ],
            )
            .groupBy("node")
            .agg(*[F.sum(f"c{i}").alias(f"c{i}") for i in lanes])
        )
        deltas[r] = (
            levels[r]
            .join(bc(contrib), "node", "left")
            .select(
                "node",
                *s,
                *[
                    F.when(
                        F.col(c).isNotNull(),
                        F.when(F.col(f"c{i}").isNull(), F.lit(0)).otherwise(
                            F.least(F.col(f"c{i}"), F.lit(DELTA_CAP))
                        ),
                    )
                    .cast("long")
                    .alias(f"d{i}")
                    for i, c in enumerate(s)
                ],
            )
            .persist()
        )
        pinned.append(deltas[r])

    # unpivot lanes back to the (seed, node, delta_fp) interface;
    # NULL delta = lane not at this level (a real 0 survives the filter)
    stack_args = ", ".join(
        f"CAST({sid} AS BIGINT), d{i}" for i, sid in enumerate(seed_ids)
    )
    acc = functools.reduce(
        DataFrame.unionByName,
        [
            deltas[r]
            .select(
                "node",
                F.expr(
                    f"stack({len(seed_ids)}, {stack_args})"
                    " AS (seed, delta_fp)"
                ),
            )
            .where(F.col("delta_fp").isNotNull())
            .select("seed", "node", "delta_fp")
            for r in range(1, rounds + 1)
        ],
    )
    return acc, pinned


def betweenness_fixed_point(
    adj: DataFrame,
    n_seeds: int = N_SEEDS,
    rounds: int = ROUNDS,
    k: int = TOP_K,
    owns_adj: bool = True,
    n_vertices: int | None = None,
    n_parts: int | None = None,
) -> DataFrame:
    """Core estimator over a symmetric ``(src, dst)`` adjacency: the
    ``k`` highest fixed-point Brandes dependency totals over the
    ``n_seeds`` lowest-id seeds (ties → lowest node id). Materializes
    the k-row result eagerly so every per-level cache can be released
    before returning. Pass
    ``owns_adj=False`` when ``adj`` is a caller-owned session artifact
    (``walks.cached_copurchase_adjacency``) that must stay persisted.
    ``n_vertices`` drives the broadcast-state dispatch (None = the safe
    co-partitioned path; the registry entries supply the lake sidecar's
    free |V|). The whole pass runs under ``static_planning`` (r13):
    the per-round lazy checkpoints stay genuinely lazy (under AQE they
    materialized eagerly, one extra job chain per round) and, with
    ``n_parts`` pinned, every level/delta aggregate exchanges at the
    adjacency's width with map-side partial sums intact."""
    if owns_adj:
        adj = adj.persist()
    with static_planning(adj.sparkSession, shuffle_partitions=n_parts):
        acc, pinned = _per_seed_dependencies(
            adj, n_seeds, rounds, n_vertices=n_vertices
        )
        out = (
            acc.groupBy("node")
            .agg(
                F.sum("delta_fp").cast("long").alias("betweenness_fp"),
                F.count(F.lit(1)).cast("long").alias("n_seeds_reaching"),
            )
            .orderBy(F.desc("betweenness_fp"), F.asc("node"))
            .limit(k)
            .select("node", "betweenness_fp", "n_seeds_reaching")
        )
        rows = out.collect()
    for df in pinned:
        df.unpersist()
    if owns_adj:
        adj.unpersist()
    return adj.sparkSession.createDataFrame(rows, out.schema)


def betweenness_sample_top20(
    spark: SparkSession,
    sf_dir: str,
    n_seeds: int = N_SEEDS,
    rounds: int = ROUNDS,
    k: int = TOP_K,
) -> DataFrame:
    """Registry entry: ``(node, betweenness_fp, n_seeds_reaching)`` —
    sampled fixed-point Brandes betweenness of the co-purchase graph.
    ``betweenness_fp`` is in ``DELTA_SCALE`` units of dependency;
    ``n_seeds_reaching`` counts seeds whose ≤``rounds``-hop shortest
    paths reach the node (the estimator's per-node support)."""
    from .mis import _copurchase_parts, _lake_n_vertices

    adj = cached_copurchase_adjacency(spark, sf_dir)
    return betweenness_fixed_point(
        adj,
        n_seeds,
        rounds,
        k,
        owns_adj=False,
        n_vertices=_lake_n_vertices(spark, sf_dir),
        n_parts=_copurchase_parts(spark, sf_dir, adj),
    )


REF_SEEDS = 16  # reference estimator seed count (2× the shipped sample)


def betweenness_approx_error_report(
    spark: SparkSession,
    sf_dir: str,
    ref_seeds: int = REF_SEEDS,
    rounds: int = ROUNDS,
    k: int = TOP_K,
) -> DataFrame:
    """Registry entry: ``(rank, node, ref_per_seed_milli,
    est8_per_seed_milli, err8_per_seed_milli, est4_per_seed_milli,
    err4_per_seed_milli, in_est8_topk)`` — quality certificate for the
    sampled estimator (the ``harmonic_approx_error_report`` /
    ``ann_recall_report`` pattern): for the ``REF_SEEDS``-seed reference
    estimator's top-``k`` nodes, the per-seed-normalized dependency under
    the reference and under the 8- and 4-seed prefixes of the same
    lowest-id seed order, with absolute errors, plus whether the node
    would make the 8-seed estimator's own top-``k``.

    Seed-count/error trade-off (the documented knob): per-seed
    dependencies are additive, so one ``REF_SEEDS``-seed Brandes pass
    yields every prefix estimator for free — the 4→8→16 error columns
    ARE the convergence curve, and the wall cost is ~``ref_seeds/8``×
    the shipped query, not three separate runs. ``*_milli`` values are
    exact integers: ``(Σ delta_fp · 1000) div n_seeds``.

    The ``est8``/``est4`` columns are the HALF and QUARTER prefixes of
    the seed order — sized ``ref_seeds//2`` / ``ref_seeds//4``, so a
    non-default ``ref_seeds`` keeps prefix size and divisor consistent
    (ADVICE r10: the hardcoded 8/4 divided a partial prefix sum by 8
    when ``ref_seeds < 8``); the column NAMES stay fixed for schema
    stability and read as the 16-seed default's 8/4.
    """
    if ref_seeds < 4:
        raise ValueError(
            f"ref_seeds must be >= 4 (got {ref_seeds}): the report's"
            " half/quarter prefix estimators need at least one seed each"
        )
    n_half, n_quarter = ref_seeds // 2, ref_seeds // 4
    from .mis import _copurchase_parts, _lake_n_vertices

    adj = cached_copurchase_adjacency(spark, sf_dir)
    with static_planning(
        spark, shuffle_partitions=_copurchase_parts(spark, sf_dir, adj)
    ):
        acc, pinned = _per_seed_dependencies(
            adj, ref_seeds, rounds, n_vertices=_lake_n_vertices(spark, sf_dir)
        )
        seed_ids = [
            r["src"]
            for r in adj.select("src").distinct().orderBy("src")
            .limit(ref_seeds).collect()
        ]
        s8, s4 = set(seed_ids[:n_half]), set(seed_ids[:n_quarter])
        totals = acc.groupBy("node").agg(
            F.sum("delta_fp").cast("long").alias("ref_fp"),
            F.sum(F.when(F.col("seed").isin(*s8), F.col("delta_fp")).otherwise(0))
            .cast("long")
            .alias("fp8"),
            F.sum(F.when(F.col("seed").isin(*s4), F.col("delta_fp")).otherwise(0))
            .cast("long")
            .alias("fp4"),
        ).transform(truncate_lineage)
    # the eager checkpoint cut totals loose from the 4-level×16-delta
    # plan tree, so every per-level cache releases BEFORE the two top-k
    # scans (the r10 sweep OOM'd building the un-truncated plan string
    # for the second aggregation in a long session)
    for df in pinned:
        df.unpersist()
    top_ref = (
        totals.orderBy(F.desc("ref_fp"), F.asc("node")).limit(k).collect()
    )
    top8 = {
        r["node"]
        for r in totals.orderBy(F.desc("fp8"), F.asc("node")).limit(k).collect()
    }

    def milli(fp: int, n: int) -> int:
        return (fp * 1000) // n

    rows = []
    for rank, r in enumerate(top_ref, start=1):
        ref_m = milli(r["ref_fp"], ref_seeds)
        e8, e4 = milli(r["fp8"], n_half), milli(r["fp4"], n_quarter)
        rows.append(
            (rank, r["node"], ref_m, e8, abs(ref_m - e8), e4,
             abs(ref_m - e4), r["node"] in top8)
        )
    return spark.createDataFrame(
        rows,
        "rank long, node long, ref_per_seed_milli long,"
        " est8_per_seed_milli long, err8_per_seed_milli long,"
        " est4_per_seed_milli long, err4_per_seed_milli long,"
        " in_est8_topk boolean",
    )
