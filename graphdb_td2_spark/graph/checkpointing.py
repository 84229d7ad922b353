"""Per-iteration lineage truncation, static planning and the partition
budget for the iterative algorithms: the superstep operator
(``superstep.py``, which runs SSSP/BFS, components, LPA, PageRank/PPR,
HITS, k-core and MIS) and the loops still on their own (HyperBall,
betweenness).

WHY truncate at all: the state vector enters each iteration's plan twice
(message join + state join), so without truncation the logical plan
doubles every round — caching prevents re-execution but not re-analysis,
and analysis over a 2^i-node tree dominates wall-clock (measured in
round 1: the 4th un-truncated iteration cost 50× the 1st).

Two modes, selected per-session:

- ``local`` (default): ``DataFrame.localCheckpoint`` — blocks live in
  executor storage. Fast (no FS round-trip) and correct on ``local[*]``
  or any run where executor loss aborts the job anyway. NOT durable: on a
  real cluster an executor death loses its blocks and the job must
  restart from scratch.
- ``reliable``: ``DataFrame.checkpoint`` to
  ``spark.sparkContext.setCheckpointDir`` — HDFS/object-store durable;
  the 1000-executor posture where the loop survives executor churn. Costs
  one write+read of the (vertex-sized, small relative to edges) state
  vector per iteration.

``use_reliable_checkpoints(spark, dir)`` flips the session to reliable
mode; the iterative loops call ``truncate_lineage`` and never name a
mode themselves.
"""

from __future__ import annotations

import threading
from contextlib import contextmanager

from pyspark.sql import DataFrame

_RELIABLE: set[str] = set()  # applicationIds flipped to reliable mode

_AQE = "spark.sql.adaptive.enabled"
_WIDTH = "spark.sql.shuffle.partitions"
# applicationId -> open static_planning blocks and the confs they replaced
_PLANNING: dict[str, dict] = {}
_PLANNING_LOCK = threading.Lock()


@contextmanager
def static_planning(spark, shuffle_partitions: int | None = None):
    """Disable AQE for the duration of an iterative loop, optionally
    pinning the session shuffle width to the loop's partition budget.

    Blocks may overlap (nested calls, or loops on several threads of one
    application): a per-application depth count under a lock makes the
    outermost entry save the confs and the last exit restore them, so
    blocks that exit out of order cannot leave AQE off for the rest of
    the session.

    ``shuffle_partitions``: when set, ``spark.sql.shuffle.partitions`` is
    pinned to it for the block — the loops' per-round aggregates then
    exchange STRAIGHT into the co-partitioned width with map-side partial
    aggregation intact. (The first r13 draft repartition()ed before each
    groupBy to force the width; that shipped every RAW message through
    the exchange — a REPARTITION_BY_NUM node below an aggregate defeats
    the partial-aggregation split, measured ~1.8× on MIS round 1.)

    WHY (r13, measured on connected_components at sf0.1): a checkpoint
    taken under AQE loses its ``outputPartitioning`` (the materialized
    plan is an ``AdaptiveSparkPlan`` whose final partitioning is not
    exposed to the new ``LogicalRDD``), so every per-round join over the
    checkpointed state re-exchanges both sides — and ``toRdd`` under AQE
    materializes query stages EAGERLY, so the loops' "lazy" checkpoints
    were each running their own jobs. With AQE off, a checkpoint of a
    frame repartitioned on the join key keeps ``hashpartitioning(key,
    n)``; rounds that keep state and edges co-partitioned then plan to
    exactly ONE exchange (the message combine) with zero broadcasts
    (2.3× on component_sizes: 9.7 → 4.1 s warm). AQE's skew/coalesce
    value targets scan-shaped stages, not these |V|-bounded state frames
    whose width the loop already budgets via ``graph_partitions``."""
    conf = spark.conf
    app = spark.sparkContext.applicationId
    with _PLANNING_LOCK:
        saved = _PLANNING.get(app)
        if saved is None:
            saved = _PLANNING[app] = {
                "depth": 0,
                _AQE: conf.get(_AQE),
                _WIDTH: conf.get(_WIDTH),
            }
        saved["depth"] += 1
        conf.set(_AQE, "false")
        if shuffle_partitions is not None:
            conf.set(_WIDTH, str(int(shuffle_partitions)))
    try:
        yield
    finally:
        with _PLANNING_LOCK:
            saved["depth"] -= 1
            if saved["depth"] == 0:
                del _PLANNING[app]
                conf.set(_AQE, saved[_AQE])
                conf.set(_WIDTH, saved[_WIDTH])


def use_reliable_checkpoints(spark, checkpoint_dir: str) -> None:
    """Flip this session's iterative algorithms to reliable (FS-backed)
    checkpointing. ``checkpoint_dir`` should be HDFS/object-store on a
    real cluster (a local path only makes sense in tests)."""
    spark.sparkContext.setCheckpointDir(checkpoint_dir)
    _RELIABLE.add(spark.sparkContext.applicationId)


def use_local_checkpoints(spark) -> None:
    """Revert to executor-local checkpointing (the local-mode default)."""
    _RELIABLE.discard(spark.sparkContext.applicationId)


def truncate_lineage(df: DataFrame, eager: bool = True) -> DataFrame:
    """Cut ``df``'s lineage via the session's configured checkpoint mode.
    Non-eager callers materialize via their own follow-up action (the
    iterative loops' one-action-per-round discipline holds in both
    modes).

    Local checkpoints store SERIALIZED (MEMORY_AND_DISK): superseded
    rounds' blocks are freed asynchronously by the ContextCleaner, so
    with deserialized default storage a long loop can hold several
    vertex-sized frames in row format at once — the r8 sf10 rehearsal
    OOMed an 8 GiB heap exactly that way. Serialized blocks are 3-5×
    smaller and the per-round deserialize cost is noise against the
    join+shuffle each round already pays."""
    sc = df.sparkSession.sparkContext
    # Load-bearing for the one-action-per-round loops (ADVICE r12): when a
    # round marks TWO frames lazily (e.g. hyperball's new_state + changed,
    # where one is the other's ancestor), Spark's doCheckpoint stops at the
    # FIRST marked RDD it meets unless this per-thread property is set —
    # the shadowed ancestor would never checkpoint and its untouched
    # partitions could recompute after upstream caches are released.
    # Results are correct either way; this bounds the recompute. Read at
    # action time on this thread, so setting it here (the thread that
    # builds and then acts on the frame) is sufficient and idempotent.
    sc.setLocalProperty("spark.checkpoint.checkpointAllMarkedAncestors", "true")
    if sc.applicationId in _RELIABLE:
        return df.checkpoint(eager=eager)
    from pyspark import StorageLevel

    return df.localCheckpoint(
        eager=eager, storageLevel=StorageLevel.MEMORY_AND_DISK
    )


# Vertex count below which an iterative loop may hint F.broadcast on its
# per-round state frames (label/distance/active/visited vectors — all
# |V|-bounded). A broadcast HINT is obeyed regardless of size, so above the
# bar a vertex-scale broadcast re-ships an ever-growing frame every round
# and dies at Spark's 8 GB broadcast hard limit long before 100 TB — the
# fallback is the co-partitioned shuffle path with identical results (every
# per-round combine in the tier is MIN/MAX/SUM over exact integers —
# order-free). Used by betweenness; the superstep loops (``superstep.py``)
# never broadcast.
BROADCAST_STATE_MAX_VERTICES = 5_000_000


def resolve_broadcast_state(
    broadcast_state: bool | None, n_vertices: int | None
) -> bool:
    """The tier-wide dispatch rule for hinting ``F.broadcast`` on
    vertex-scale iteration state: an explicit caller choice wins;
    otherwise broadcast only when a supplied vertex count clears the bar.
    No count supplied → the safe co-partitioned path (never guess a
    frame is broadcastable)."""
    if broadcast_state is not None:
        return broadcast_state
    return n_vertices is not None and n_vertices <= BROADCAST_STATE_MAX_VERTICES


# Vertex-rows per iteration-state partition: |V|-sized frames at full
# width burn task-scheduling overhead, while 1 partition serializes the
# per-round edge join once the graph clears a few hundred thousand edges.
# ~25k vertices per partition keeps sf0.01-sized graphs at 1 partition
# and gives the sf0.1 tier ~7-way parallelism.
VERTEX_ROWS_PER_PARTITION = 25_000

# Edge-message rows per partition for the co-partitioned loops' shared
# partition count: on a DENSE graph (|E| >> |V|, e.g. the co-purchase
# graph: 20k vertices / 2.4M edges at sf0.1) the per-round exchange
# carries |E|-scale messages, so sizing by |V| alone collapses the loop
# to 1-2 partitions and serializes the message combine (measured r13:
# MIS 6.1 → 11.5 s when the adjacency landed on 1 partition). The loop
# width is the MAX of the state- and edge-driven budgets, still capped
# at the session width. 300k chosen by a quiet-box sweep at sf0.1
# (50k→32 parts / 150k→15 / 300k→7 / 600k→3: the scan-heavy loops pay
# per-task overhead ∝ parts × rounds, and 7 parts won on betweenness
# 7.4 s, MIS 3.6-4.0 s, harmonic ~5.6 s vs 32-part 10.4/5.8/6.8); on a
# real cluster any 100 TB graph clears width·300k edges, so the cap IS
# the cluster width there.
EDGE_ROWS_PER_PARTITION = 300_000


def graph_partitions(n_vertices: int, n_edges: int, df: DataFrame) -> int:
    """Shared partition budget for a co-partitioned iterative loop over a
    graph with ``n_vertices`` state rows and ``n_edges`` adjacency rows —
    the state frames, the shaped adjacency, and every per-round exchange
    all use this ONE count (equal numPartitions is what makes the
    per-round joins exchange-free)."""
    width = df.sparkSession.sparkContext.defaultParallelism
    return max(
        1,
        min(
            int(width),
            max(
                int(n_vertices // VERTEX_ROWS_PER_PARTITION),
                int(n_edges // EDGE_ROWS_PER_PARTITION),
            ),
        ),
    )
