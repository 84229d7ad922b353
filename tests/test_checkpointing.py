"""Reliable-checkpoint mode: the iterative algorithms must produce
identical results with FS-backed ``checkpoint()`` (the cluster posture,
survives executor death) as with the default ``localCheckpoint``, and the
reliable run must actually write RDD checkpoint data to the configured
directory."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from graphdb_td2_spark.graph.checkpointing import (
    truncate_lineage,
    use_local_checkpoints,
    use_reliable_checkpoints,
)
from graphdb_td2_spark.graph.pagerank import pagerank_fp


def _edges(spark):
    return spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "a")],
        "src string, dst string",
    )


def test_reliable_mode_matches_local_and_writes_checkpoints(spark, tmp_path):
    local_ranks = sorted(
        map(tuple, pagerank_fp(_edges(spark), num_iter=5).collect())
    )
    ckpt_dir = str(tmp_path / "ckpt")
    use_reliable_checkpoints(spark, ckpt_dir)
    try:
        reliable_ranks = sorted(
            map(tuple, pagerank_fp(_edges(spark), num_iter=5).collect())
        )
        # checkpoint data physically landed in the reliable dir
        rdd_dirs = [
            os.path.join(dp, f)
            for dp, dns, fns in os.walk(ckpt_dir)
            for f in fns
        ]
        assert rdd_dirs, "reliable mode must write checkpoint files"
    finally:
        use_local_checkpoints(spark)
    assert reliable_ranks == local_ranks


def test_truncate_lineage_cuts_plan_in_both_modes(spark, tmp_path):
    df = spark.range(10).withColumn("x", F.col("id") * 2)
    cut = truncate_lineage(df)
    # a checkpointed frame's logical plan is a leaf scan, not the original tree
    assert "LogicalRDD" in cut._jdf.queryExecution().analyzed().toString() or \
        "Scan ExistingRDD" in cut._jdf.queryExecution().executedPlan().toString()

    use_reliable_checkpoints(spark, str(tmp_path / "ck2"))
    try:
        cut2 = truncate_lineage(spark.range(10).withColumn("x", F.col("id") * 3))
        assert cut2.count() == 10
        assert "LogicalRDD" in cut2._jdf.queryExecution().analyzed().toString() or \
            "Scan ExistingRDD" in cut2._jdf.queryExecution().executedPlan().toString()
    finally:
        use_local_checkpoints(spark)


def test_static_planning_blocks_exiting_out_of_order_restore_confs(spark):
    """Two overlapping blocks that exit out of order (enter A, enter B,
    exit A, exit B) leave AQE and the shuffle width as they were before
    A: the outermost entry saves them and the last exit restores them."""
    from graphdb_td2_spark.graph.checkpointing import static_planning

    aqe, width = "spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions"
    before = (spark.conf.get(aqe), spark.conf.get(width))
    assert before[0] == "true"
    a = static_planning(spark, shuffle_partitions=3)
    b = static_planning(spark, shuffle_partitions=2)
    a.__enter__()
    b.__enter__()
    a.__exit__(None, None, None)
    assert spark.conf.get(aqe) == "false"  # B is still open
    b.__exit__(None, None, None)
    assert (spark.conf.get(aqe), spark.conf.get(width)) == before
