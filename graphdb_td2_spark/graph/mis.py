"""Deterministic Luby-style maximal-independent-set rounds [extension]
over the co-purchase graph — the classic symmetry-breaking primitive of
parallel graph processing (coloring, scheduling, contention-free batch
selection all reduce to it).

Luby's algorithm draws random priorities each round; a DETERMINISTIC
variant fixes one priority per vertex — ``p(v) = md5(v) || zero-padded
v`` (a total order: the md5 breaks neighborhood symmetry, the id suffix
makes even a hash collision unambiguous; plain ASCII string comparison,
bit-identical across engines). Per round, an ACTIVE vertex selects
itself iff its priority precedes every active neighbor's; selected
vertices and their neighbors deactivate. Every round is a local
min-aggregate — no sequential dependency inside a round, which is the
whole point of the algorithm at cluster scale.

Round count is FIXED at ``MIS_ROUNDS`` (the estimator's documented cap,
like the BFS/Brandes hop caps): the output reports ``n_remaining`` per
round, so an unconverged residue is visible rather than silently
absorbed, and the oracle unrolls the identical fixed number of rounds.
Luby's analysis removes a constant fraction of EDGES per round in
expectation; on every tested corpus the active set hits zero within 4.

Each round is one superstep (``graph/superstep.py``) whose frontier is
the active set. The co-purchase adjacency is SYMMETRIC, so every
per-round relation is derivable with src-keyed joins only —

    min_nb(v) = min p(u) over active neighbors u
              = groupBy dst of p(src) over (adj ⋈ active priorities ON src)

(by symmetry the dst-grouped min over active srcs IS the neighbor-min),
and neighbors-of-selected is the dst set of (adj ⋈ selected ON src): two
message-scale exchanges per round. A vertex stays in the frontier while
it is undecided, so the operator's changed count is ``n_remaining``;
``n_selected`` and ``n_removed`` are per-round aggregates. Results are
identical to the explicit semi/anti formulation: every combine is a MIN
or a set membership over exact keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .checkpointing import graph_partitions
from .superstep import CHANGED, run_supersteps
from .walks import cached_copurchase_adjacency

MIS_ROUNDS = 6


def _lake_n_vertices(spark: SparkSession, sf_dir: str) -> int:
    """|V| of the co-purchase graph from the lake stats sidecar — free
    after the first build (the hyperball dispatch source): partition
    sizing must not cost a count job per call."""
    from ..lake import copurchase_stats

    return copurchase_stats(spark, sf_dir)["n_vertices"]


def _copurchase_parts(spark: SparkSession, sf_dir: str, df: DataFrame) -> int:
    """The SAME partition budget ``cached_copurchase_adjacency`` was
    shaped with (both read the free stats sidecar), so the loop's state
    frames co-partition with the adjacency exchange-free."""
    from ..lake import copurchase_stats

    stats = copurchase_stats(spark, sf_dir)
    return graph_partitions(stats["n_vertices"], stats["n_edges"], df)


def _priority(node: F.Column) -> F.Column:
    s = node.cast("string")
    return F.concat(F.md5(s), F.lpad(s, 20, "0"))


def _send(adj, state, frontier, agg, step):
    """``(id, sel, nb)`` for each active vertex: whether it selects itself
    (its priority precedes every active neighbor's) and whether a
    neighbor selected itself."""
    a_src = frontier.select(F.col("id").alias("src"), F.col("p").alias("ps"))
    min_nb = (
        adj.join(a_src.hint("shuffle_hash"), "src")
        .groupBy(F.col("dst").alias("id"))
        .agg(F.min("ps").alias("min_nb"))
    )
    cand = frontier.join(min_nb.hint("shuffle_hash"), "id", "left").select(
        "id",
        (F.col("min_nb").isNull() | (F.col("p") < F.col("min_nb"))).alias("sel"),
    )
    sel_src = cand.filter("sel").select(F.col("id").alias("src"))
    nbr = (
        adj.join(sel_src.hint("shuffle_hash"), "src", "left_semi")
        .select(F.col("dst").alias("id"))
        .distinct()
        .withColumn("nb", F.lit(True))
    )
    return cand.join(nbr.hint("shuffle_hash"), "id", "left").select(
        "id", "sel", F.col("nb").isNotNull().alias("nb")
    )


def mis_round_sizes(
    spark: SparkSession,
    sf_dir: str,
    rounds: int = MIS_ROUNDS,
) -> DataFrame:
    """Registry entry: ``(round, n_selected, n_removed, n_remaining)`` —
    per Luby round: how many vertices joined the independent set, how
    many vertices deactivated in total (selected + their neighbors),
    and how many stay active. Ordered by round."""
    adj = cached_copurchase_adjacency(spark, sf_dir)
    decided = F.coalesce(F.col("sel") | F.col("nb"), F.lit(False))
    _, rows = run_supersteps(
        adj.select(F.col("src").alias("id"))
        .distinct()
        .select(
            "id",
            _priority(F.col("id")).alias("p"),
            F.lit(False).alias("selected"),
            F.lit(False).alias("removed"),
        ),
        adj,
        _send,
        merge=lambda agg, step: [
            F.col("p"),
            F.coalesce(F.col("sel"), F.lit(False)).alias("selected"),
            decided.alias("removed"),
        ],
        # inactive vertices get no message: sel and nb are NULL
        changed=F.col("sel").isNotNull() & ~decided,
        max_rounds=rounds,
        aggregates=[
            F.count(F.when(F.col(c), True)).alias(f"n_{c}")
            for c in ("selected", "removed")
        ],
        n_parts=_copurchase_parts(spark, sf_dir, adj),
    )
    out = [(r["n_selected"], r["n_removed"], r[CHANGED]) for r in rows]
    out += [(0, 0, 0)] * (rounds - len(out))
    return spark.createDataFrame(
        [(i, *r) for i, r in enumerate(out, 1)],
        "round long, n_selected long, n_removed long, n_remaining long",
    ).orderBy("round")
