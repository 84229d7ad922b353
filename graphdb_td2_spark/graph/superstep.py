"""One superstep operator for the vertex-centric graph loops — the
Pregel contract (GraphX ``Pregel``; Pregelix, VLDB 2014, compiles a
vertex program into one dataflow per superstep: message join, combine,
state merge and one halting aggregate).

A loop is an id-keyed state frame plus two pieces of caller code:

- ``send(und, state, frontier)`` → ``(id, *msg)``: the edge join out of
  the frontier (the vertices whose state changed last round) or out of
  the whole state, combined per target id (``min_send`` for the
  min-combine loops);
- ``merge``: the new state columns over ``state ⟕ msgs``, and
  ``changed``, a predicate over the same row saying whether the vertex's
  state moved.

The operator owns the rest, once for every loop:

- The adjacency: a caller's loop-shaped ``und`` (hash-partitioned by
  ``src`` into ``n_parts``), or a call-scoped copy it persists, sizes
  with ``graph_partitions``, shapes and releases afterwards.
- ``static_planning`` at the loop width. With AQE off a checkpoint keeps
  the ``hashpartitioning(id, n_parts)`` it was taken with, so the state,
  the frontier and the adjacency stay co-partitioned: the edge join and
  the merge are exchange-free ``ShuffledHashJoin``s, and a min-combine
  ``send`` plans to exactly one exchange per round, with its partial
  aggregate below it.
- Exactly one driver action per superstep: the merged frame is
  checkpointed lazily, and one job both materializes it and counts the
  changed rows. The loop halts when that count is 0. A deterministic
  recurrence computes nothing new after such a round, so a fixed-round
  caller gets the same rows from an early halt.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame, functions as F

from .checkpointing import graph_partitions, static_planning, truncate_lineage

# The per-row flag the operator carries between rounds: "changed last
# round" — the next round's frontier.
_ACTIVE = "_active"

# send(und, state, frontier) -> (id, *msg)
Send = Callable[[DataFrame, DataFrame, DataFrame], DataFrame]


def symmetric_edges(edges: DataFrame) -> DataFrame:
    """Distinct undirected ``(src, dst)`` relation of an edge list."""
    e = edges.select("src", "dst")
    return e.union(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()


def min_send(value: Column) -> Send:
    """The ``send`` of a min-combine loop: ``value`` over each edge out of
    the frontier, MIN-combined per target id as ``msg``."""

    def send(und: DataFrame, state: DataFrame, frontier: DataFrame) -> DataFrame:
        return (
            und.join(frontier.hint("shuffle_hash"), und.src == frontier.id)
            .select(F.col("dst").alias("id"), value.alias("msg"))
            .groupBy("id")
            .agg(F.min("msg").alias("msg"))
        )

    return send


def run_supersteps(
    init: DataFrame,
    und: DataFrame,
    send: Send,
    merge: list[Column],
    changed: Column,
    max_rounds: int,
    active: Column | None = None,
    n_parts: int | None = None,
    n_vertices: int | None = None,
) -> tuple[DataFrame, bool]:
    """Run up to ``max_rounds`` supersteps from ``init`` (``id`` plus the
    state columns); returns the final state and whether the loop halted
    (a round changed no row).

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
    halted = False
    try:
        with static_planning(spark, shuffle_partitions=n_parts):
            if owned:
                und = und0.repartition(n_parts, "src").persist()
            flag = F.lit(True) if active is None else active
            # lazy: round 1's job materializes the initial state too
            frame = truncate_lineage(
                init.select("*", flag.alias(_ACTIVE)).repartition(n_parts, "id"),
                eager=False,
            )
            for _ in range(max_rounds):
                state = frame.drop(_ACTIVE)
                frontier = frame.filter(F.col(_ACTIVE)).drop(_ACTIVE)
                msgs = send(und, state, frontier)
                frame = truncate_lineage(
                    state.join(msgs.hint("shuffle_hash"), "id", "left").select(
                        "id", *merge, changed.alias(_ACTIVE)
                    ),
                    eager=False,
                )
                if frame.filter(F.col(_ACTIVE)).count() == 0:
                    halted = True
                    break
    finally:
        if owned:
            # the state derives from checkpoints, not from the adjacency
            und.unpersist()
            und0.unpersist()
    return frame.drop(_ACTIVE), halted
