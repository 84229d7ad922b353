"""The broadcast-state gate: an iterative graph module that hints
``F.broadcast`` on vertex-scale state derives the hint from a vertex
count, so a >5M-vertex graph NEVER force-broadcasts (Spark's 8 GB
broadcast hard limit would kill the job on a real 100 TB graph), and the
superstep loops (components, LPA) never broadcast at all. Witnessed by
spying on ``pyspark.sql.functions.broadcast`` (the only way any of these
modules requests a broadcast)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from graphdb_td2_spark.graph.checkpointing import (
    BROADCAST_STATE_MAX_VERTICES,
    resolve_broadcast_state,
)

ABOVE_BAR = BROADCAST_STATE_MAX_VERTICES + 1


def test_resolver_explicit_choice_wins():
    assert resolve_broadcast_state(True, ABOVE_BAR) is True
    assert resolve_broadcast_state(False, 10) is False


def test_resolver_derives_from_vertex_count():
    assert resolve_broadcast_state(None, 10) is True
    assert resolve_broadcast_state(None, BROADCAST_STATE_MAX_VERTICES) is True
    assert resolve_broadcast_state(None, ABOVE_BAR) is False


def test_resolver_no_count_means_no_broadcast():
    # never guess a frame is broadcastable
    assert resolve_broadcast_state(None, None) is False


@pytest.fixture()
def broadcast_spy(monkeypatch):
    """Spy on the one entry point every module's ``bc`` closure uses.
    Patched on the shared ``pyspark.sql.functions`` module object, which
    is what each graph module imported as ``F``."""
    calls: list[int] = []
    real = F.broadcast

    def spy(df):
        calls.append(1)
        return real(df)

    monkeypatch.setattr(F, "broadcast", spy)
    return calls


def _two_islands(spark):
    vertices = spark.createDataFrame(
        [(i,) for i in range(1, 7)], "id long"
    )
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5), (5, 6)], "src long, dst long"
    )
    return vertices, edges


def test_components_big_graph_path_never_hints_broadcast(spark, broadcast_spy):
    from graphdb_td2_spark.graph.components import connected_components

    vertices, edges = _two_islands(spark)
    cc = {
        r.id: r.component
        for r in connected_components(
            vertices, edges, n_vertices=ABOVE_BAR
        ).collect()
    }
    assert cc == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 4}
    assert broadcast_spy == []


def test_components_never_hints_broadcast_even_below_bar(spark, broadcast_spy):
    """r13: components runs CO-PARTITIONED at every scale — the broadcast
    fast path was removed outright after the co-partitioned shape
    measured 2.3× faster at sf0.1 (no per-round driver collect), so no
    vertex count, large or small, may produce a broadcast hint."""
    from graphdb_td2_spark.graph.components import connected_components

    vertices, edges = _two_islands(spark)
    cc = {
        r.id: r.component
        for r in connected_components(vertices, edges, n_vertices=6).collect()
    }
    assert cc == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 4}
    assert broadcast_spy == []


def test_components_single_round_plan_is_one_exchange(spark, monkeypatch):
    """Pin the superstep round shape on the operator's own round: with a
    loop-shaped adjacency and the id-partitioned state, a components
    round plans to ShuffledHashJoins with NO BroadcastExchange and
    exactly ONE exchange (the message combine), its partial MIN below
    it. The plan is taken inside the run, where the operator checkpoints
    the round's merged frame."""
    from graphdb_td2_spark.graph import superstep
    from graphdb_td2_spark.graph.checkpointing import (
        static_planning,
        truncate_lineage,
    )
    from graphdb_td2_spark.graph.components import connected_components
    from graphdb_td2_spark.graph.superstep import symmetric_edges

    vertices, edges = _two_islands(spark)
    with static_planning(spark, shuffle_partitions=2):
        und = truncate_lineage(symmetric_edges(edges).repartition(2, "src"))
    plans: list[str] = []
    real = superstep.truncate_lineage

    def spy(df, eager=True):
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        return real(df, eager=eager)

    monkeypatch.setattr(superstep, "truncate_lineage", spy)
    connected_components(vertices, edges, und=und, n_parts=2).collect()
    plan = plans[1]  # plans[0] is the initial state
    assert "BroadcastExchange" not in plan
    assert "ShuffledHashJoin" in plan
    assert plan.count("Exchange") == 1, plan
    # map-side combine intact: the partial aggregate sits BELOW the exchange
    assert plan.index("partial_min") > plan.index("Exchange"), plan


def test_lpa_big_graph_path_never_hints_broadcast(spark, broadcast_spy):
    from graphdb_td2_spark.graph.lpa import label_propagation

    vertices, edges = _two_islands(spark)
    out = label_propagation(
        vertices, edges, rounds=2, n_vertices=ABOVE_BAR
    ).collect()
    assert len(out) == 6
    assert broadcast_spy == []


def test_betweenness_big_graph_path_never_hints_broadcast(spark, broadcast_spy):
    from graphdb_td2_spark.graph.betweenness import betweenness_fixed_point

    # path 1-2-3-4: node 2 and 3 are the brokers
    adj = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 2), (3, 4), (4, 3)],
        "src long, dst long",
    )
    top = betweenness_fixed_point(
        adj, n_seeds=2, rounds=3, k=4, n_vertices=ABOVE_BAR
    ).collect()
    assert [r["node"] for r in top][:1] == [2]
    assert broadcast_spy == []


def test_mis_never_hints_broadcast(spark, sf_dir, broadcast_spy):
    """r13: MIS runs co-partitioned at every scale (symmetry-rewritten
    src-keyed joins) — no broadcast hint exists in the module anymore."""
    from graphdb_td2_spark.graph.mis import mis_round_sizes

    rows = mis_round_sizes(spark, sf_dir, rounds=2).collect()
    assert rows  # runs end-to-end on the co-partitioned path
    assert broadcast_spy == []


def test_components_dispatch_invariant_results(spark):
    """MIN over ids is order-free: the labels don't depend on the
    partition-count dispatch (supplied vertex count vs derived)."""
    from graphdb_td2_spark.graph.components import connected_components

    vertices, edges = _two_islands(spark)
    a = sorted(
        map(tuple, connected_components(vertices, edges, n_vertices=6).collect())
    )
    b = sorted(map(tuple, connected_components(vertices, edges).collect()))
    assert a == b


def _path_graph(spark, n):
    vertices = spark.createDataFrame([(i,) for i in range(1, n + 1)], "id long")
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, n)], "src long, dst long"
    )
    return vertices, edges


def test_components_raises_when_max_iter_ends_unconverged(spark):
    """A 24-vertex path graph needs 23 propagation rounds: at max_iter=8
    the labels are not at the fixpoint, so the run raises instead of
    returning them; with the default cap it converges to one component."""
    from graphdb_td2_spark.graph.components import connected_components

    vertices, edges = _path_graph(spark, 24)
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(vertices, edges, max_iter=8)
    cc = {r.id: r.component for r in connected_components(vertices, edges).collect()}
    assert set(cc.values()) == {1}
