"""HyperBall-style approximate harmonic centrality [extension] — the
scale path for the centrality family. Exact harmonic centrality is
all-pairs-distance shaped (the seed-sampled exact entry in
``centrality.py`` is 571 s at sf10 for 8 seeds); HyperBall (Boldi &
Vigna, "In-Core Computation of Geometric Centralities with HyperBall",
2013 — public paper) replaces each vertex's reachability ball with a
fixed-width cardinality sketch and gets EVERY vertex's centrality in R
edge-linear rounds.

Determinism (the oracle-exactness discipline of the integer PageRank /
HITS family): the sketch is a plain HyperLogLog with

- md5-derived register index (first hex char → 16 registers) and a
  32-bit hash suffix (hex chars 2–9) — both engines share the md5 of
  the decimal vertex id, the idiom every minhash/bucket oracle here
  already relies on;
- rho = leading-zero-count + 1 of the 32-bit suffix via an unrolled
  integer CASE over powers of two (NOT float log2 — engine-portable and
  branch-exact; x = 0 → RHO_MAX);
- register union = MAX (associative/commutative/idempotent → map-side
  partial agg, retry/speculation-safe, shuffle-order-independent);
- the raw HLL estimate alpha·m²/Σ2^(−M_j) evaluated in pure int64
  fixed-point (milli-vertices): all terms scaled by 2^RHO_W so the
  register sum S is an exact integer, then ONE truncating integer
  division — no floats anywhere, so DuckDB replays the identical
  numbers (no small-range/large-range corrections: raw estimator only,
  which both engines share verbatim).

Registers only grow, so Σ2^(−M) only shrinks and the ball estimate is
MONOTONE non-decreasing in t — the per-round harmonic increments
(est_t − est_{t−1})·(LCM/t) are non-negative exact integers.

Scale notes: state is ONE wide row per vertex (16 register columns;
LONG on the big-graph shuffle path — a SMALLINT variant measured 49%
SLOWER at sf10, the 16-way MAX re-widens every comparison — but
SMALLINT on the sub-bar broadcast path where the narrow rows shrank
the per-round broadcast 26% wall at sf0.1; round-9 scale report in
git history) —
each round is one equi-join of the cached
symmetric adjacency against the state (|E| wide rows, not 16·|E|
exploded ones) plus a per-node 16-way columnar MAX aggregate whose
map-side combine caps shuffle volume at |V| rows per reducer regardless
of |E|; estimates are pure projections. Below
``_BROADCAST_STATE_MAX`` vertices the state side of the round join is
BROADCAST, so the edge relation is never exchanged or sorted; above the
bar the join falls back to the shuffle plan that scales unboundedly.
Unlike pagerank's static rank vector, the state is re-collected every
round, so the bar is the MEASURED crossover (won at 20k vertices, lost
at 2M — see ``_BROADCAST_STATE_MAX``), far below the one-shot
broadcast-join threshold.
HyperBall's systolic delta makes only CHANGED sketches travel after
round 1. R rounds, vertex-sized lineage truncation per round. At
100 TB this is the textbook ANF plan: edge relation scanned R times,
no per-seed frontier state, no visited anti-joins, output |V| rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .centrality import HARMONIC_LCM, N_SEEDS, ROUNDS, TOP_K
from .checkpointing import truncate_lineage
from .walks import cached_copurchase_adjacency

M_REG = 16          # HLL registers (first md5 hex char)
RHO_W = 33          # suffix width 32 bits → rho ∈ [1, 33]
ALPHA_NUM = 673     # alpha_16 = 0.673 as the exact rational 673/1000
ALPHA_DEN = 1000
EST_SCALE = 1000    # estimates in milli-vertices
# alpha·m²·scale·2^RHO_W — the fixed numerator of every estimate;
# 673·256·1000·2^33 ≈ 1.48e18 keeps the whole computation inside int64.
EST_NUM = ALPHA_NUM * M_REG * M_REG * EST_SCALE * (2 ** RHO_W)
# Vertex count below which the round join broadcasts the register state
# instead of shuffling the edge relation. MEASURED crossover, not the
# pagerank bar: at 20k vertices the broadcast round join wins 25.4 s vs
# 36.0 s, but at 2M vertices it LOSES 676 s vs 425 s (the round-9 graph
# scale report's A/B variants, in git history) — unlike the static rank vectors, the register state is
# re-collected and re-broadcast EVERY round, so the per-round rebuild
# (~40 B/vertex collect + per-task hashmap) swamps the saved exchange
# once the state stops being trivially small. 100k × ~40 B ≈ 4 MB keeps
# the broadcast strictly in won territory.
_BROADCAST_STATE_MAX = 100_000


def rho_case_sql(x: str) -> str:
    """Portable SQL for rho(x) = leading-zero-count + 1 of the 32-bit
    value ``x`` — an unrolled CASE both engines evaluate identically."""
    whens = " ".join(
        f"WHEN {x} >= {1 << (32 - r)} THEN {r}" for r in range(1, 33)
    )
    return f"(CASE {whens} ELSE {RHO_W} END)"


def _self_sketch(nodes: DataFrame) -> DataFrame:
    """Round-0 state: every vertex's sketch holds exactly its own hash.

    WIDE layout — one row per node with 16 register COLUMNS ``m0..m15``
    (values rho or 0). The edge join then moves |E| wide rows instead of
    16·|E| exploded (node, j, M) rows, and the union is 16 column-wise
    MAX aggregates in one map-side-combinable groupBy — measured 16× less
    join/agg traffic than the exploded layout at sf10. Registers start
    LONG; ``_hyperball_rounds`` narrows them to SMALLINT only on the
    sub-bar broadcast path (a big-graph SMALLINT A/B LOST 633.6 s vs
    424.8 s at sf10 — the MAX agg re-widens every comparison)."""
    hx = F.md5(F.col("node").cast("string"))
    j = F.conv(F.substring(hx, 1, 1), 16, 10).cast("long")
    suffix = F.conv(F.substring(hx, 2, 8), 16, 10).cast("long")
    rho = _rho_col(suffix)
    return nodes.select(
        "node",
        *[
            F.when(j == F.lit(i), rho)
            .otherwise(F.lit(0))
            .cast("long")
            .alias(f"m{i}")
            for i in range(M_REG)
        ],
    )


def _rho_col(x):
    """rho as a Column: the same unrolled comparison chain as
    ``rho_case_sql`` (kept in lock-step — tests pin a few values)."""
    expr = F.lit(RHO_W).cast("long")
    for r in range(32, 0, -1):
        expr = F.when(x >= F.lit(1 << (32 - r)), F.lit(r).cast("long")).otherwise(
            expr
        )
    return expr


_REG_COLS = [f"m{i}" for i in range(M_REG)]


def _estimates(state: DataFrame) -> DataFrame:
    """Per-node raw-HLL ball estimate in milli-vertices from the wide
    register state: ``(node, est)`` with S = Σ_j 2^(RHO_W − m_j)
    (m_j = 0 for a never-touched register) and
    est = EST_NUM div (ALPHA_DEN·S) — all int64, no shuffle at all
    (a per-row projection over the vertex-sized state)."""
    s_expr = " + ".join(
        f"shiftleft(cast(1 as bigint), cast({RHO_W} - {c} as int))"
        for c in _REG_COLS
    )
    return state.select(
        "node",
        F.expr(
            f"cast({EST_NUM} as bigint) div (cast({ALPHA_DEN} as bigint)"
            f" * ({s_expr}))"
        )
        .cast("long")
        .alias("est"),
    )


def _lake_n_vertices(spark: SparkSession, sf_dir: str) -> int:
    """|V| of the co-purchase graph from the lake stats sidecar — free
    after the first build (VERDICT-r9 task 6: the broadcast-crossover
    dispatch must not cost a ~20 s count job at sf10)."""
    from ..lake import copurchase_stats

    return copurchase_stats(spark, sf_dir)["n_vertices"]


def _round_ready_adjacency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The co-purchase adjacency cached for the R round scans (the
    session lake artifact, ``walks.cached_copurchase_adjacency``).

    Measured A/B at sf10 (round-9 perf notes §3, in git history): pre-partitioning+sorting the
    cache on ``dst`` to elide the per-round join exchange won 1.4× at
    sf0.1 but LOST 1.3× at sf10 — the 370M-row sorted cache build costs
    more than the four exchanges it saves once the relation no longer
    fits in memory. A plain persisted relation is the measured winner at
    the scale that matters."""
    return cached_copurchase_adjacency(spark, sf_dir)


def _hyperball_rounds(
    adj: DataFrame, rounds: int = ROUNDS, n_vertices: int | None = None
):
    """Shared HyperBall round driver: yields ``(t, state, converged)``
    for t = 0 (self-sketch) through ``rounds`` — or fewer if the sketch
    set reaches its fixed point early (``converged`` marks the first
    such round; registers can never grow after it).

    Join strategy switch: below ``_BROADCAST_STATE_MAX`` vertices the
    round join BROADCASTS the register state into the cached edge
    relation — no |E|-row exchange, no SMJ sort of the adjacency, four
    edge-cache scans total. Above the bar it falls back to the shuffle
    join, which never collects state anywhere and scales unboundedly.
    The bar is the measured per-round-rebroadcast crossover, not the
    one-shot broadcast-join threshold (see ``_BROADCAST_STATE_MAX``).

    HyperBall's systolic delta: only sketches that CHANGED last round
    need to travel — an unchanged neighbor's contribution is already
    absorbed (s_t(v) ⊇ image of s_{t-1}(w) = s_t(w)). The round-1
    senders are every vertex; in dense graphs the sender set collapses
    within 2-3 rounds and the tail rounds cost vertex-scale, not
    edge-scale. Exactly equivalent to full propagation — the oracle
    (which unrolls FULL rounds) hash-matches, the executable proof of
    the equivalence argument."""
    nodes = adj.select(F.col("src").alias("node")).distinct()
    state = _self_sketch(nodes).transform(truncate_lineage)
    if n_vertices is None:
        # no caller-supplied |V| (ad-hoc adjacency): probe with a count
        # — the checkpoint just materialized, so it's a block scan
        n_vertices = state.count()
    small = n_vertices <= _BROADCAST_STATE_MAX
    if small:
        # sub-bar graphs also flip the registers to SMALLINT: it shrank
        # the per-round broadcast ~26% wall at sf0.1 (25.4 s vs 35.2 s
        # long), while on the big-graph shuffle path the same cast LOST
        # 49% at sf10 (the MAX agg re-widens every comparison) — so the
        # width rides the same measured switch as the join strategy.
        state = state.select(
            "node",
            *[F.col(c).cast("smallint").alias(c) for c in _REG_COLS],
        )
    yield 0, state, False
    changed: DataFrame | None = None  # None = round 1, everything "changed"
    for t in range(1, rounds + 1):
        senders = (
            state
            if changed is None
            else state.join(changed, "node", "left_semi")
        )
        side = senders.withColumnRenamed("node", "dst")
        if small:
            side = F.broadcast(side)
        msgs = adj.join(side, "dst").select(
            F.col("src").alias("node"), *_REG_COLS
        )
        # union+MAX, NOT a fused join: a "message-only agg + one left
        # join against the state producing GREATEST registers and the
        # changed flag together" variant was A/B'd and LOST at both
        # scales (sf0.1 34.8 s vs 25.4 s, sf10 528.5 s vs 444.8 s,
        # round-9 scale report in git history) — the extra state⋈maxes exchange costs
        # more than the checkpoint it saves; one wide map-side-combined
        # aggregate stays the cheapest way to merge sketches.
        # Lazy checkpoints (one driver action per round):
        # the round's single driver action is changed.isEmpty() below —
        # its job computes the changed frame, whose inputs chain through
        # this frame. Both marked frames materialize off that ONE action
        # because truncate_lineage sets
        # spark.checkpoint.checkpointAllMarkedAncestors (ADVICE r12:
        # without it doCheckpoint stops at the first marked RDD, so this
        # frame — changed's ancestor — would never fill-checkpoint and
        # its untouched partitions could recompute later).
        new_state = (
            msgs.unionByName(state)
            .groupBy("node")
            .agg(*[F.max(c).alias(c) for c in _REG_COLS])
            .transform(truncate_lineage, eager=False)
        )
        grew = None
        for c in _REG_COLS:
            cond = F.col(f"n.{c}") > F.col(f"o.{c}")
            grew = cond if grew is None else (grew | cond)
        changed = (
            new_state.alias("n")
            .join(state.alias("o"), "node")
            .filter(grew)
            .select("node")
            .transform(truncate_lineage, eager=False)
        )
        state = new_state
        yield t, state, changed.isEmpty()


def hyperball_harmonic(
    adj: DataFrame,
    rounds: int = ROUNDS,
    n_vertices: int | None = None,
    n_parts: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Run ``rounds`` HyperBall iterations over the (symmetric) adjacency.

    Returns ``(harmonic, final_est)``: ``harmonic`` is
    ``(node, harmonic_est_fp)`` with
    harmonic_est_fp = Σ_t (est_t − est_{t−1})·(HARMONIC_LCM div t),
    ``final_est`` is ``(node, est)`` — the round-R ball estimate in
    milli-vertices."""
    assert rounds <= 4, "HARMONIC_LCM is lcm(1..4); adjust both together"
    acc: DataFrame | None = None
    est: DataFrame | None = None
    # static_planning (r13): the per-round lazy checkpoints stay genuinely
    # lazy (under AQE, toRdd materialized each one eagerly — one extra job
    # chain per round) and the union+MAX sketch merge exchanges at the
    # adjacency's width instead of the session default.
    from .checkpointing import static_planning

    with static_planning(adj.sparkSession, shuffle_partitions=n_parts):
        for t, state, converged in _hyperball_rounds(adj, rounds, n_vertices):
            est = _estimates(state)
            if t == 0:
                acc = est.select(
                    "node",
                    F.col("est").alias("prev"),
                    F.lit(0).cast("long").alias("h"),
                )
                continue
            w = HARMONIC_LCM // t
            # Lazy: every input (est over checkpointed state, previous acc)
            # is already lineage-truncated, so the accumulator chain stays
            # O(1) plan-depth and materializes once, in the caller's final
            # action — four vertex-sized joins, no per-round accumulator job.
            acc = (
                acc.join(est, "node")
                .select(
                    "node",
                    F.col("est").alias("prev"),
                    (
                        F.col("h") + (F.col("est") - F.col("prev")) * F.lit(w)
                    ).alias("h"),
                )
                .transform(truncate_lineage, eager=False)
            )
            if converged:
                # fixed point: every later round's increment is exactly zero
                break
    harmonic = acc.select("node", F.col("h").alias("harmonic_est_fp"))
    return harmonic, est


def harmonic_centrality_approx_top20(
    spark: SparkSession, sf_dir: str, k: int = TOP_K
) -> DataFrame:
    """Registry entry: ``(node, harmonic_est_fp, ball_est_milli)`` — the
    ``k`` highest HyperBall-estimated harmonic centralities over the
    co-purchase graph (ALL sources, not the exact entry's 8-seed
    sample), ties → lowest node id. ``harmonic_est_fp`` is in
    milli-vertices × lcm(1..4) units; ``ball_est_milli`` is the round-4
    ball-size estimate in milli-vertices."""
    adj = _round_ready_adjacency(spark, sf_dir)
    from .mis import _copurchase_parts

    harmonic, est = hyperball_harmonic(
        adj,
        n_vertices=_lake_n_vertices(spark, sf_dir),
        n_parts=_copurchase_parts(spark, sf_dir, adj),
    )
    # Every per-round state checkpoint materialized inside the round's
    # convergence probe, so the returned frames reference only checkpointed
    # vertex-sized frames (the lazy accumulator chain included) — never the
    # adjacency — and the cache can be released before the final join.
    return (
        harmonic.join(est, "node")
        .select("node", "harmonic_est_fp", F.col("est").alias("ball_est_milli"))
        .orderBy(F.desc("harmonic_est_fp"), F.asc("node"))
        .limit(k)
    )


def harmonic_approx_error_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry: ``(seed, true_ball, est_ball_milli, abs_err_milli,
    rel_err_pm)`` — estimator-quality audit of the HyperBall sketch
    against EXACT 4-hop ball sizes for the exact entry's own 8 seeds
    (the ``ann_recall_report`` pattern: the approximate path and its
    ground truth in one certified row set). rel_err_pm is the exact
    integer per-mille error ``abs_err_milli div true_ball``.

    Scale: the exact side is an 8-seed BFS (frontier×adjacency joins);
    the sketch side reuses the full HyperBall run. Output is 8 rows.
    """
    adj = _round_ready_adjacency(spark, sf_dir)
    _, est = hyperball_harmonic(adj, n_vertices=_lake_n_vertices(spark, sf_dir))
    seeds = (
        adj.select("src").distinct().orderBy("src").limit(N_SEEDS)
        .select(F.col("src").alias("seed"))
    )
    # exact |B_4(seed)| including the seed itself; every persisted round
    # frame is tracked and released after the final collect (ADVICE-r9:
    # the 9 pinned storage blocks otherwise outlive the query)
    pinned: list[DataFrame] = []
    visited = seeds.select("seed", F.col("seed").alias("node")).persist()
    pinned.append(visited)
    frontier = visited
    for _ in range(ROUNDS):
        nxt = (
            frontier.join(adj, frontier["node"] == adj["src"])
            .select("seed", F.col("dst").alias("node"))
            .distinct()
            .join(visited, ["seed", "node"], "left_anti")
            .persist()
        )
        visited = visited.unionByName(nxt).persist()
        pinned.extend((nxt, visited))
        frontier = nxt
    true_ball = visited.groupBy("seed").agg(
        F.count(F.lit(1)).cast("long").alias("true_ball")
    )
    err = F.abs(F.col("est") - F.col("true_ball") * F.lit(EST_SCALE))
    out = (
        true_ball.join(est.withColumnRenamed("node", "seed"), "seed")
        .select(
            "seed",
            "true_ball",
            F.col("est").alias("est_ball_milli"),
            err.alias("abs_err_milli"),
            F.expr(
                f"abs(est - true_ball * {EST_SCALE}) div true_ball"
            ).alias("rel_err_pm"),
        )
        .orderBy("seed")
    )
    rows = out.collect()
    for frame in pinned:
        frame.unpersist()
    return spark.createDataFrame(
        rows,
        "seed long, true_ball long, est_ball_milli long,"
        " abs_err_milli long, rel_err_pm long",
    )


def graph_neighborhood_function(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry: ``(t, sum_ball_est_milli, reaches_p90)`` — the
    neighborhood function N(t) = Σ_v |B_t(v)| of the co-purchase graph,
    estimated with the same HyperBall sketches as the centrality entry,
    one row per hop t = 0..4. ``reaches_p90`` marks the hops where
    N(t) ≥ 0.9·N(4) — the smallest such t is the standard ANF
    effective-diameter estimate (Palmer/Gibbons/Faloutsos's ANF
    deliverable; exact integer comparison ``N(t)·10 ≥ N(4)·9``, no
    floats).

    Scale: the sketch rounds ARE the centrality rounds (edge-linear,
    wide state); each N(t) is one 1-row SUM over the vertex-sized
    estimate projection. Output is 5 rows.
    """
    adj = _round_ready_adjacency(spark, sf_dir)
    sums = []
    last_t = 0
    for t, state, converged in _hyperball_rounds(
        adj, ROUNDS, n_vertices=_lake_n_vertices(spark, sf_dir)
    ):
        sums.append(
            _estimates(state).agg(
                F.sum("est").cast("long").alias("s")
            ).select(F.lit(t).cast("long").alias("t"), "s")
        )
        last_t = t
        if converged:
            break
    # converged early: registers can never grow again, so N(t) is the
    # fixed-point value for every remaining hop — replicate it instead
    # of running zero-message rounds
    for t in range(last_t + 1, ROUNDS + 1):
        sums.append(
            sums[-1].select(F.lit(t).cast("long").alias("t"), "s")
        )
    rounds_df = sums[0]
    for s in sums[1:]:
        rounds_df = rounds_df.unionByName(s)
    total = sums[-1].select(F.col("s").alias("s4"))
    return (
        rounds_df.crossJoin(F.broadcast(total))
        .select(
            "t",
            F.col("s").alias("sum_ball_est_milli"),
            (F.col("s") * F.lit(10) >= F.col("s4") * F.lit(9)).alias(
                "reaches_p90"
            ),
        )
        .orderBy("t")
    )
