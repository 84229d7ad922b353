"""The superstep operator (``graph/superstep.py``) runs exactly one Spark
job per round: the job that materializes the round's lazily
checkpointed state also counts the vertices that changed and evaluates
the caller's aggregates."""

from __future__ import annotations


def test_superstep_runs_one_job_per_round(spark):
    from graphdb_td2_spark.graph.checkpointing import (
        static_planning,
        truncate_lineage,
    )
    from graphdb_td2_spark.graph.components import connected_components
    from graphdb_td2_spark.graph.superstep import symmetric_edges

    # two paths, 1-2-3 and 4-5-6: labels move in rounds 1 and 2, and
    # round 3 changes nothing and halts the loop
    vertices = spark.createDataFrame([(i,) for i in range(1, 7)], "id long")
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5), (5, 6)], "src long, dst long"
    )
    with static_planning(spark, shuffle_partitions=2):
        und = truncate_lineage(symmetric_edges(edges).repartition(2, "src"))
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    sc.setJobGroup("superstep-jobs-per-round", "components")
    try:
        labels = connected_components(vertices, edges, und=und, n_parts=2)
        jobs = tracker.getJobIdsForGroup("superstep-jobs-per-round")
    finally:
        sc.setJobGroup(None, None)
    assert len(jobs) == 3, f"3 rounds ran {len(jobs)} jobs"
    assert sorted(map(tuple, labels.collect())) == [
        (1, 1), (2, 1), (3, 1), (4, 4), (5, 4), (6, 4)
    ]


def test_aggregates_add_one_job_before_round_one(spark):
    """With aggregates (PageRank's dangling mass) the operator runs one
    more job, over the initial state, for round 0's aggregate row:
    ``pagerank_fp`` runs ``num_iter + 1`` jobs over a prepared graph."""
    from graphdb_td2_spark.graph.pagerank import pagerank_fp, prepare_fp_graph

    # d is dangling, so every round redistributes a non-zero mass
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d")], "src string, dst string"
    )
    prepared = prepare_fp_graph(edges)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    sc.setJobGroup("superstep-aggregate-jobs", "pagerank_fp")
    try:
        ranks = pagerank_fp(edges, num_iter=5, prepared=prepared)
        jobs = tracker.getJobIdsForGroup("superstep-aggregate-jobs")
    finally:
        sc.setJobGroup(None, None)
    assert len(jobs) == 5 + 1, f"5 iterations ran {len(jobs)} jobs"
    assert sorted(map(tuple, ranks.collect())) == sorted(
        map(tuple, pagerank_fp(edges, num_iter=5).collect())
    )
