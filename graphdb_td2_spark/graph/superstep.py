"""One superstep operator for the vertex-centric graph loops — the
Pregel contract (GraphX ``Pregel``; Pregelix, VLDB 2014, compiles a
vertex program into one dataflow per superstep: message join, combine,
state merge and the global aggregates).

A loop is an id-keyed state frame plus caller code, every piece of
which sees the superstep number ``step`` (0-based) and ``agg``, the
previous superstep's aggregate row (see below):

- ``send(und, state, frontier, agg, step)`` → ``(id, *msg)``: the edge
  join out of the frontier (the vertices that changed last round) or out
  of the whole state, combined per target id (``edge_send`` for the
  single-value combines);
- ``merge(agg, step)`` → the new state columns over ``state ⟕ msgs``;
- ``changed``: a predicate over the same row saying whether the vertex
  changed — it is the next round's frontier;
- ``aggregates``: named aggregate columns over the merged frame, for
  example ``F.sum(F.when(F.col("is_dangling"), F.col("rank")))``. A power
  iteration's dangling mass, a normalising total and per-round counts
  are all such aggregates.

The operator owns the rest, once for every loop:

- The adjacency: a caller's loop-shaped ``und`` (hash-partitioned by
  ``src`` into ``n_parts``), or a call-scoped copy it persists, sizes
  with ``graph_partitions``, shapes and releases afterwards.
- ``static_planning`` at the loop width. With AQE off a checkpoint keeps
  the ``hashpartitioning(id, n_parts)`` it was taken with, so the state,
  the frontier and the adjacency stay co-partitioned: the edge join and
  the merge are exchange-free ``ShuffledHashJoin``s, and a single-value
  ``send`` plans to exactly one exchange per round, with its partial
  aggregate below it.
- Exactly one driver action per superstep: the merged frame is
  checkpointed lazily, and one job both materializes it and evaluates,
  in one aggregate row, the count of changed rows (``CHANGED``) and the
  caller's aggregates. That row is the next round's ``agg``. With
  aggregates, round 0's ``agg`` comes from one more action over the
  lazily checkpointed initial state (which it materializes); without
  them round 0 gets ``None`` and no job runs before it.
- Halting: the loop stops after a round that changes no row. A
  deterministic recurrence computes nothing new after such a round, so
  a fixed-round caller gets the same state from an early halt, and pads
  its per-round output from the last row.
"""

from __future__ import annotations

from typing import Callable, Sequence

from pyspark.sql import Column, DataFrame, Row, functions as F

from .checkpointing import graph_partitions, static_planning, truncate_lineage

# The per-row flag the operator carries between rounds: "changed last
# round" — the next round's frontier.
_ACTIVE = "_active"
# The field of every aggregate row that counts the round's changed rows.
CHANGED = "n_changed"

# send(und, state, frontier, agg, step) -> (id, *msg)
Send = Callable[[DataFrame, DataFrame, DataFrame, Row | None, int], DataFrame]
# merge(agg, step) -> the new state columns over state ⟕ msgs
Merge = Callable[[Row | None, int], list[Column]]


def symmetric_edges(edges: DataFrame) -> DataFrame:
    """Distinct undirected ``(src, dst)`` relation of an edge list."""
    e = edges.select("src", "dst")
    return e.union(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()


def edge_send(value: Column, combine: Callable[[str], Column] = F.min) -> Send:
    """The ``send`` of a single-value loop: ``value`` over each edge out of
    the frontier, combined per target id (``combine``: ``F.min``,
    ``F.sum``) as ``msg``."""

    def send(und, state, frontier, agg, step):
        return (
            und.join(frontier.hint("shuffle_hash"), und.src == frontier.id)
            .select(F.col("dst").alias("id"), value.alias("msg"))
            .groupBy("id")
            .agg(combine("msg").alias("msg"))
        )

    return send


def run_supersteps(
    init: DataFrame,
    und: DataFrame,
    send: Send,
    merge: Merge,
    changed: Column,
    max_rounds: int,
    active: Column | None = None,
    aggregates: Sequence[Column] = (),
    n_parts: int | None = None,
    n_vertices: int | None = None,
) -> tuple[DataFrame, list[Row]]:
    """Run up to ``max_rounds`` supersteps from ``init`` (``id`` plus the
    state columns); returns the final state and one aggregate row per
    round that ran (``CHANGED`` plus ``aggregates``); the loop halted iff
    the last row's ``CHANGED`` is 0.

    ``active``: the first round's frontier, a predicate over ``init``
    (default: every vertex). ``n_parts``: the budget ``und`` is already
    shaped with; without it ``und`` is call-scoped, and ``n_vertices``
    (default: the adjacency's row count, an upper bound on the
    non-isolated vertices) sizes the budget."""
    spark = init.sparkSession
    owned = n_parts is None
    if owned:
        # persist before the count so the caller's lazy edge pipeline
        # runs once
        und0 = und.persist()
        n_und = und0.count()
        n_parts = graph_partitions(n_vertices or n_und, n_und, und0)
    n_changed = F.count(F.when(F.col(_ACTIVE), True)).alias(CHANGED)
    rows: list[Row] = []
    try:
        with static_planning(spark, shuffle_partitions=n_parts):
            if owned:
                und = und0.repartition(n_parts, "src").persist()
            flag = F.lit(True) if active is None else active
            frame = init.select("*", flag.alias(_ACTIVE))
            # With one partition every layout is co-partitioned, and
            # repartition(1, ...) plans as SinglePartition: a join of two
            # SinglePartition inputs shuffles both again, every round.
            if n_parts > 1 or frame.rdd.getNumPartitions() > 1:
                frame = frame.repartition(n_parts, "id")
            # lazy: the first action materializes the initial state too
            frame = truncate_lineage(frame, eager=False)
            agg = frame.agg(*aggregates).first() if aggregates else None
            for step in range(max_rounds):
                state = frame.drop(_ACTIVE)
                frontier = frame.filter(F.col(_ACTIVE)).drop(_ACTIVE)
                msgs = send(und, state, frontier, agg, step)
                frame = truncate_lineage(
                    state.join(msgs.hint("shuffle_hash"), "id", "left").select(
                        "id", *merge(agg, step), changed.alias(_ACTIVE)
                    ),
                    eager=False,
                )
                agg = frame.agg(n_changed, *aggregates).first()
                rows.append(agg)
                if agg[CHANGED] == 0:
                    break
    finally:
        if owned:
            # the state derives from checkpoints, not from the adjacency
            und.unpersist()
            und0.unpersist()
    return frame.drop(_ACTIVE), rows
