"""k-core peeling semantics on a fixture with a known core structure."""

from __future__ import annotations

from graphdb_td2_spark.graph.kcore import kcore_round_sizes


def test_triangle_survives_path_dissolves(spark):
    # triangle a-b-c (every vertex degree 2) + pendant path c-d-e
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "e")],
        "src string, dst string",
    )
    sizes = {r["round"]: r["n_vertices"] for r in kcore_round_sizes(edges, k=2, rounds=4).collect()}
    # round 1: e (deg 1) peels; round 2: d (deg 1 after e left) peels;
    # rounds 3+: the triangle is the stable 2-core
    assert sizes == {1: 4, 2: 3, 3: 3, 4: 3}


def test_k3_dissolves_everything_without_a_3core(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a")], "src string, dst string"
    )
    sizes = {r["round"]: r["n_vertices"] for r in kcore_round_sizes(edges, k=3, rounds=3).collect()}
    assert sizes == {1: 0, 2: 0, 3: 0}


def test_converged_peeling_halts_and_repeats_its_count(spark):
    from graphdb_td2_spark.graph.checkpointing import (
        static_planning,
        truncate_lineage,
    )
    from graphdb_td2_spark.graph.superstep import symmetric_edges

    # the triangle + path fixture converges in round 3 (d's removal leaves
    # c at degree 2): the loop halts there and rounds 4-6 repeat its count
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "e")],
        "src string, dst string",
    )
    with static_planning(spark, shuffle_partitions=2):
        und = truncate_lineage(symmetric_edges(edges).repartition(2, "src"))
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    sc.setJobGroup("kcore-halt", "kcore_round_sizes")
    try:
        out = kcore_round_sizes(edges, k=2, rounds=6, und=und, n_parts=2)
        jobs = tracker.getJobIdsForGroup("kcore-halt")
    finally:
        sc.setJobGroup(None, None)
    sizes = {r["round"]: r["n_vertices"] for r in out.collect()}
    assert sizes == {1: 4, 2: 3, 3: 3, 4: 3, 5: 3, 6: 3}
    # round 0's aggregate row over the initial degrees, then rounds 1-3
    assert len(jobs) == 4, f"ran {len(jobs)} jobs"
