"""IVM correctness: streaming the lineitem corpus through in single-file
micro-batches must maintain EXACTLY the counts a batch recompute of the
co-occurrence self-join produces — including orders whose items straddle
micro-batch boundaries (the cross-batch delta term)."""

from __future__ import annotations

from pyspark.sql import functions as F

from graphdb_td2_spark.io import read_table
from graphdb_td2_spark.streaming.ivm import (
    maintained_counts,
    run_incremental_cooccurrence,
)


def test_incremental_matches_batch_recompute(spark, sf_dir, tmp_path):
    li = read_table(spark, sf_dir, "lineitem", ["l_orderkey", "l_partkey"])
    # fragment into 4 files; hash partitioning scatters each order's items
    # across batches, forcing the cross-batch pair path
    stream_dir = str(tmp_path / "stream")
    li.repartition(4).write.parquet(stream_dir)
    state_dir = str(tmp_path / "state")

    run_incremental_cooccurrence(
        spark, stream_dir, state_dir, schema=li.schema
    )

    got = {
        (r["product_a"], r["product_b"]): r["n_orders"]
        for r in maintained_counts(spark, state_dir).collect()
    }
    items = li.select(
        F.col("l_orderkey").alias("order_id"), F.col("l_partkey").alias("product_id")
    ).distinct()
    a, b = items.alias("a"), items.alias("b")
    expected = {
        (r["product_a"], r["product_b"]): r["n_orders"]
        for r in a.join(
            b,
            (F.col("a.order_id") == F.col("b.order_id"))
            & (F.col("a.product_id") < F.col("b.product_id")),
        )
        .groupBy(
            F.col("a.product_id").alias("product_a"),
            F.col("b.product_id").alias("product_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .collect()
    }
    got = {k: v for k, v in got.items() if v > 0}
    assert got == expected


def test_replayed_batch_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: re-applying an already-committed
    batch id must be a no-op (the versioned pointer-flip guard)."""
    from graphdb_td2_spark.streaming.ivm import apply_cooccurrence_delta

    state = str(tmp_path / "st")
    b0 = spark.createDataFrame([(1, 10), (1, 11)], "order_id long, product_id long")
    b1 = spark.createDataFrame([(1, 12), (2, 20)], "order_id long, product_id long")
    apply_cooccurrence_delta(spark, b0, 0, state)
    apply_cooccurrence_delta(spark, b1, 1, state)
    before = sorted(map(tuple, maintained_counts(spark, state).collect()))
    # replay both batches out of order — both must be skipped
    apply_cooccurrence_delta(spark, b0, 0, state)
    apply_cooccurrence_delta(spark, b1, 1, state)
    after = sorted(map(tuple, maintained_counts(spark, state).collect()))
    assert before == after
    # (10,11) within b0; (10,12),(11,12) cross-batch; (20,·) none
    assert dict(((a, b), n) for a, b, n in after) == {
        (10, 11): 1, (10, 12): 1, (11, 12): 1,
    }


def test_merge_upsert_rejects_duplicate_key_updates(spark, tmp_path):
    import pytest as _pytest

    from graphdb_td2_spark.sources.sinks import merge_upsert_parquet

    path = str(tmp_path / "t")
    spark.createDataFrame([(1, "a")], "k long, v string").write.parquet(path)
    dup = spark.createDataFrame([(2, "B"), (2, "BB")], "k long, v string")
    with _pytest.raises(ValueError, match="duplicate key"):
        merge_upsert_parquet(spark, path, dup, keys=["k"])


def test_merge_upsert_rejects_null_key_updates(spark, tmp_path):
    """A single NULL-key update row used to trip the duplicate-key check
    (count_distinct skips NULLs); it must get its own dedicated error."""
    import pytest as _pytest

    from graphdb_td2_spark.sources.sinks import merge_upsert_parquet

    path = str(tmp_path / "t")
    spark.createDataFrame([(1, "a")], "k long, v string").write.parquet(path)
    nullrow = spark.createDataFrame([(None, "B")], "k long, v string")
    with _pytest.raises(ValueError, match="NULL"):
        merge_upsert_parquet(spark, path, nullrow, keys=["k"])


def test_untouched_buckets_not_rewritten(spark, tmp_path):
    """The 100 TB property: a micro-batch rewrites ONLY the state buckets
    its delta touches. Batch 1 inserts a single order; its version dir must
    contain a strict subset of buckets and the final manifest must inherit
    every untouched bucket from version 0's files (which still exist,
    unmodified)."""
    import json

    from graphdb_td2_spark.streaming.ivm import (
        _fs,
        _read_manifest,
        apply_cooccurrence_delta,
    )

    state = str(tmp_path / "st")
    # batch 0: many orders → populates many item/count buckets
    b0 = spark.createDataFrame(
        [(o, p) for o in range(1, 41) for p in (o * 10, o * 10 + 1)],
        "order_id long, product_id long",
    )
    apply_cooccurrence_delta(spark, b0, 0, state)
    m0 = _read_manifest(spark, state, 0)
    assert len(m0["items"]) > 4  # the fixture really does spread out

    # batch 1: ONE order → touches at most one item bucket + one count bucket
    b1 = spark.createDataFrame([(1000, 5), (1000, 6)], "order_id long, product_id long")
    apply_cooccurrence_delta(spark, b1, 1, state)
    m1 = _read_manifest(spark, state, 1)

    v1_item_buckets = {
        k
        for k, segs in m1["items"].items()
        if any(rel.startswith("v1/") for rel in segs)
    }
    inherited = set(m1["items"]) - v1_item_buckets
    assert len(v1_item_buckets) == 1  # only the touched bucket gained a segment
    # untouched buckets inherit their segment lists verbatim
    for k in inherited:
        assert m1["items"][k] == m0["items"][k]
    v1_count_buckets = {
        k
        for k, segs in m1["counts"].items()
        if any(rel.startswith("v1/") for rel in segs)
    }
    assert len(v1_count_buckets) == 1

    # inherited segment files physically survive (GC kept everything the
    # current manifest references)
    fs, _, jvm = _fs(spark, state)
    for k in inherited:
        for rel in m1["items"][k]:
            p = jvm.org.apache.hadoop.fs.Path(f"{state}/{rel}")
            assert fs.exists(p)

    # and the maintained view is still the full batch answer
    got = dict(
        ((r["product_a"], r["product_b"]), r["n_orders"])
        for r in maintained_counts(spark, state).collect()
    )
    assert got[(5, 6)] == 1
    assert got[(10, 11)] == 1
    assert len(got) == 41


def test_resume_with_different_n_buckets_raises(spark, tmp_path):
    """State built with one bucket count must refuse maintenance under
    another — bucket pruning would anti-join against the WRONG buckets and
    double-count pairs."""
    import pytest as _pytest

    from graphdb_td2_spark.streaming.ivm import apply_cooccurrence_delta

    state = str(tmp_path / "st")
    b0 = spark.createDataFrame([(1, 10), (1, 11)], "order_id long, product_id long")
    apply_cooccurrence_delta(spark, b0, 0, state, n_buckets=4)
    b1 = spark.createDataFrame([(2, 20), (2, 21)], "order_id long, product_id long")
    with _pytest.raises(ValueError, match="n_buckets"):
        apply_cooccurrence_delta(spark, b1, 1, state, n_buckets=8)


def test_empty_batch_recovery_point_survives_gc(spark, tmp_path):
    """An empty micro-batch commits a manifest-only version; when it is the
    PREVIOUS version it IS the crash-recovery point and GC must not delete
    it — and the state it references must stay readable."""
    from graphdb_td2_spark.streaming.ivm import (
        _fs,
        _read_manifest,
        apply_cooccurrence_delta,
    )

    state = str(tmp_path / "st")
    b0 = spark.createDataFrame([(1, 10), (1, 11)], "order_id long, product_id long")
    apply_cooccurrence_delta(spark, b0, 0, state)
    empty = spark.createDataFrame([], "order_id long, product_id long")
    apply_cooccurrence_delta(spark, empty, 1, state)  # manifest-only v1
    b2 = spark.createDataFrame([(2, 20), (2, 21)], "order_id long, product_id long")
    apply_cooccurrence_delta(spark, b2, 2, state)  # GC runs; previous = v1

    fs, _, jvm = _fs(spark, state)
    assert fs.exists(jvm.org.apache.hadoop.fs.Path(f"{state}/v1/manifest.json"))
    # the recovery point's manifest still resolves to readable data
    m1 = _read_manifest(spark, state, 1)
    for part in ("items", "counts"):
        for segs in m1[part].values():
            for rel in segs:
                assert fs.exists(jvm.org.apache.hadoop.fs.Path(f"{state}/{rel}"))
    got = dict(
        ((r["product_a"], r["product_b"]), r["n_orders"])
        for r in maintained_counts(spark, state).collect()
    )
    assert got == {(10, 11): 1, (20, 21): 1}


def test_divergent_concurrent_manifest_raises(spark, tmp_path):
    """Two maintainers deriving DIFFERENT state for the same batch id must
    be detected, not silently last-writer-wins — both at publish time
    (manifest create-if-absent) and at commit time (marker compare)."""
    import json

    import pytest as _pytest

    from graphdb_td2_spark.streaming.ivm import (
        _commit_version,
        _fs,
        _write_small_file,
        apply_cooccurrence_delta,
    )

    state = str(tmp_path / "st")
    b0 = spark.createDataFrame([(1, 10), (1, 11)], "order_id long, product_id long")
    apply_cooccurrence_delta(spark, b0, 0, state)

    # publish-time: a concurrent writer's divergent manifest already sits at
    # v1 (no marker yet) → this run's publish must raise, not overwrite
    divergent = json.dumps({"items": {}, "counts": {}, "n_buckets": 999}).encode()
    _write_small_file(spark, f"{state}/v1/manifest.json", divergent)
    b1 = spark.createDataFrame([(2, 20), (2, 21)], "order_id long, product_id long")
    with _pytest.raises(RuntimeError, match="DIVERGES"):
        apply_cooccurrence_delta(spark, b1, 1, state)

    # commit-time: marker present with a divergent manifest → the pointer
    # must not flip over it
    fs, marker, jvm = _fs(spark, f"{state}/v1/_COMMITTED")
    out = fs.create(marker, True)
    try:
        out.write(b"1")
    finally:
        out.close()
    ours = json.dumps({"items": {}, "counts": {}, "n_buckets": 16}).encode()
    with _pytest.raises(RuntimeError, match="DIFFERENT manifest"):
        _commit_version(spark, state, 1, ours)


def test_double_writer_completes_committed_version_without_clobber(spark, tmp_path):
    """Writer B commits v1 but crashes before its pointer flip; writer A
    (late, with DIFFERENT batch content from a divergent source) must
    complete B's commit from the on-disk manifest — never overwrite a
    committed version's buckets with its own derivation."""
    from graphdb_td2_spark.streaming.ivm import (
        _read_manifest,
        _write_small_file,
        apply_cooccurrence_delta,
    )

    state = str(tmp_path / "st")
    b0 = spark.createDataFrame([(1, 10), (1, 11)], "order_id long, product_id long")
    apply_cooccurrence_delta(spark, b0, 0, state)
    # writer B fully commits v1…
    b1_b = spark.createDataFrame([(2, 20), (2, 21)], "order_id long, product_id long")
    apply_cooccurrence_delta(spark, b1_b, 1, state)
    m1_before = _read_manifest(spark, state, 1)
    # …but "crashes before the flip": rewind the pointer to v0
    _write_small_file(spark, f"{state}/_LATEST", b"0")

    # writer A arrives with different content for the same batch id
    b1_a = spark.createDataFrame([(3, 30), (3, 31)], "order_id long, product_id long")
    apply_cooccurrence_delta(spark, b1_a, 1, state)

    # B's commit was completed, not clobbered: manifest unchanged, counts
    # reflect B's derivation, A's rows are nowhere
    assert _read_manifest(spark, state, 1) == m1_before
    got = dict(
        ((r["product_a"], r["product_b"]), r["n_orders"])
        for r in maintained_counts(spark, state).collect()
    )
    assert got == {(10, 11): 1, (20, 21): 1}


def test_gc_floor_skips_deleted_ranges(spark, tmp_path):
    """_GC_FLOOR records the lowest version that may still exist; the sweep
    resumes there instead of rescanning from v0, and losing the floor file
    is only a rescan, never corruption."""
    from graphdb_td2_spark.streaming.ivm import (
        _fs,
        apply_cooccurrence_delta,
    )

    state = str(tmp_path / "st")
    for bid in range(5):
        b = spark.createDataFrame(
            [(100 + bid, 10 * bid), (100 + bid, 10 * bid + 1)],
            "order_id long, product_id long",
        )
        apply_cooccurrence_delta(spark, b, bid, state)

    fs, floor_p, jvm = _fs(spark, f"{state}/_GC_FLOOR")
    assert fs.exists(floor_p)
    stream = fs.open(floor_p)
    try:
        floor = int(bytes(stream.readAllBytes()).decode().strip())
    finally:
        stream.close()
    # the floor matches reality: no version dir below it survives, and the
    # dirs at/above it that manifests reference do
    for v in range(floor):
        assert not fs.exists(jvm.org.apache.hadoop.fs.Path(f"{state}/v{v}"))
    assert floor <= 4 and floor >= 0
    # deleting the floor file forces a full rescan but changes nothing else
    fs.delete(floor_p, False)
    b5 = spark.createDataFrame([(200, 50), (200, 51)], "order_id long, product_id long")
    apply_cooccurrence_delta(spark, b5, 5, state)
    got = dict(
        ((r["product_a"], r["product_b"]), r["n_orders"])
        for r in maintained_counts(spark, state).collect()
    )
    assert got[(50, 51)] == 1
    assert len(got) == 6


def test_lost_pointer_raises_instead_of_empty_replay(spark, tmp_path):
    """A missing _LATEST with committed versions present is corruption
    (silently rebuilding from empty would undercount) — it must raise, not
    return 'empty state'."""
    import pytest as _pytest

    from graphdb_td2_spark.streaming.ivm import _fs, apply_cooccurrence_delta

    state = str(tmp_path / "st")
    b0 = spark.createDataFrame([(1, 10), (1, 11)], "order_id long, product_id long")
    apply_cooccurrence_delta(spark, b0, 0, state)
    fs, p, jvm = _fs(spark, f"{state}/_LATEST")
    fs.delete(p, False)  # simulate the crash-between-delete-and-rename gap
    with _pytest.raises(RuntimeError, match="no _LATEST pointer"):
        maintained_counts(spark, state)
    # a brand-new state dir still reads as genuinely empty
    fresh = str(tmp_path / "fresh")
    assert maintained_counts(spark, fresh).count() == 0


def test_segment_lists_stay_bounded_by_compaction(spark, tmp_path):
    """Appending many micro-batches into the same bucket must trigger the
    level-merge: committed manifests never carry more than
    COMPACT_SEGMENTS segments per bucket, and the maintained counts stay
    exact across compactions."""
    from graphdb_td2_spark.streaming.ivm import (
        COMPACT_SEGMENTS,
        _read_manifest,
        apply_cooccurrence_delta,
        maintained_counts,
    )

    state = str(tmp_path / "st")
    # one order per batch pair-wise: order 1 gains two new products each
    # batch -> its item bucket gains one segment per batch
    n_batches = 2 * COMPACT_SEGMENTS + 1
    for bid in range(n_batches):
        b = spark.createDataFrame(
            [(1, 100 + 2 * bid), (1, 101 + 2 * bid)],
            "order_id long, product_id long",
        )
        apply_cooccurrence_delta(spark, b, bid, state)
        m = _read_manifest(spark, state, bid)
        for part in ("items", "counts"):
            for k, segs in m[part].items():
                assert len(segs) <= COMPACT_SEGMENTS, (part, k, segs)
    # 2 products per batch, all on order 1 -> all pairs of the 2*n products
    n_products = 2 * n_batches
    got = {
        (r["product_a"], r["product_b"]): r["n_orders"]
        for r in maintained_counts(spark, state).collect()
        if r["n_orders"] > 0
    }
    assert len(got) == n_products * (n_products - 1) // 2
    assert set(got.values()) == {1}


def test_cold_restricted_state_read_prunes_without_cache_build(spark, tmp_path):
    """ADVICE r7: a cold (cache-dropped) batch must read ONLY its touched
    state buckets from parquet — never force a full-state cache build.
    _mem_state_part with a bucket restriction on a cold cache goes straight
    to the manifest paths and leaves _MEM_STATE empty; the next commit
    re-establishes the cache lazily."""
    from graphdb_td2_spark.streaming.ivm import (
        _MEM_STATE,
        _mem_drop,
        _mem_state_part,
        _read_manifest,
        apply_cooccurrence_delta,
    )

    state = str(tmp_path / "st")
    b0 = spark.createDataFrame(
        [(o, p) for o in range(1, 41) for p in (o * 10, o * 10 + 1)],
        "order_id long, product_id long",
    )
    apply_cooccurrence_delta(spark, b0, 0, state)
    _mem_drop(state)  # simulate post-compaction / fresh-process cold cache

    m0 = _read_manifest(spark, state, 0)
    some_bucket = int(sorted(m0["items"])[0])
    pruned = _mem_state_part(spark, state, 0, m0, "items", [some_bucket])
    # the read is served without building the full-state cache
    assert state not in _MEM_STATE
    # and its scan covers only the requested bucket's segment dirs
    files = {
        f.filePath
        for f in pruned.select(
            F.input_file_name().alias("filePath")
        ).distinct().collect()
    }
    assert files  # the bucket is non-empty
    for f in files:
        assert f"bucket={some_bucket}/" in f or f.rstrip("/").endswith(
            f"bucket={some_bucket}"
        ) or f"bucket={some_bucket}" in f

    # a cold batch then runs pruned end-to-end, and the post-commit hook
    # re-establishes the (lazy) cache at the new version
    b1 = spark.createDataFrame(
        [(1000, 5), (1000, 6)], "order_id long, product_id long"
    )
    apply_cooccurrence_delta(spark, b1, 1, state)
    assert state in _MEM_STATE
    assert _MEM_STATE[state]["version"] == 1
    got = dict(
        ((r["product_a"], r["product_b"]), r["n_orders"])
        for r in maintained_counts(spark, state).collect()
    )
    assert got[(5, 6)] == 1
    assert len(got) == 41


def test_ivm_served_recs_matches_batch_after_each_microbatch(spark, tmp_path):
    """VERDICT r7 task 2: the serving path reads the MAINTAINED view, and
    after EVERY micro-batch the IVM-served product top-k equals a batch
    recompute over exactly the rows streamed so far."""
    from graphdb_td2_spark.streaming.ivm import (
        apply_cooccurrence_delta,
        serve_product_cooccurrence,
    )

    state = str(tmp_path / "st")
    # three batches; product 7 gains partners incrementally, order 30
    # straddles batches 1 and 2 (the cross-batch pair path)
    batches = [
        [(10, 7), (10, 1), (20, 7), (20, 2)],
        [(30, 7), (30, 1), (40, 2), (40, 3)],
        [(30, 9), (50, 7), (50, 1), (50, 9)],
    ]
    seen: list[tuple[int, int]] = []
    for bid, rows in enumerate(batches):
        df = spark.createDataFrame(rows, "order_id long, product_id long")
        apply_cooccurrence_delta(spark, df, bid, state)
        seen.extend(rows)

        got = [
            (r["product_id"], r["score"], r["reason"])
            for r in serve_product_cooccurrence(spark, state, 7).collect()
        ]
        items = spark.createDataFrame(
            sorted(set(seen)), "order_id long, product_id long"
        )
        a, b = items.alias("a"), items.alias("b")
        expected = [
            (r["product_id"], r["score"], "co-occurrence")
            for r in (
                a.join(b, "order_id")
                .filter(
                    (F.col("a.product_id") == 7) & (F.col("b.product_id") != 7)
                )
                .groupBy(F.col("b.product_id").alias("product_id"))
                .agg(F.count(F.lit(1)).cast("double").alias("score"))
                .orderBy(F.desc("score"), F.asc("product_id"))
                .limit(10)
                .collect()
            )
        ]
        assert got == expected, f"batch {bid}: {got} != {expected}"

    # recommend(source="ivm") routes through ensure_ivm_state and is
    # exercised end-to-end by the ivm_served_recs_product oracle entry;
    # this test pins the serve function the route reads from.


def test_steady_batch_jobs_per_batch_ceiling(spark, tmp_path):
    """r8 perf pin: a warm, non-compacting micro-batch costs at most 3
    Spark jobs under the confs a run commits under (two broadcast-exchange
    materializations + the one unified segment write). A regression here
    (extra actions, AQE re-enabled inside the run, a state rewrite
    sneaking back in) shows up as job count, which is load-independent —
    see tools/ivm_batch_profile.py in git history for the full
    wall-clock table."""
    from graphdb_td2_spark.streaming.ivm import _run_confs, apply_cooccurrence_delta

    state = str(tmp_path / "st")
    with _run_confs(spark):
        b0 = spark.createDataFrame(
            [(o, p) for o in range(1, 30) for p in (o, o + 1)],
            "order_id long, product_id long",
        )
        apply_cooccurrence_delta(spark, b0, 0, state)  # warms the cache
        b1 = spark.createDataFrame(
            [(100 + o, p) for o in range(1, 30) for p in (o, o + 2)],
            "order_id long, product_id long",
        )
        tracker = spark.sparkContext.statusTracker()
        spark.sparkContext.setJobGroup("ivm-ceiling-probe", "steady batch")
        try:
            apply_cooccurrence_delta(spark, b1, 1, state)
            jobs = tracker.getJobIdsForGroup("ivm-ceiling-probe")
        finally:
            spark.sparkContext.setJobGroup(None, None)
        assert len(jobs) <= 3, f"steady IVM batch cost {len(jobs)} jobs"


def test_run_commits_at_session_width_and_compacts_without_listing_jobs(
    spark, tmp_path, monkeypatch
):
    """A run commits at min(session width, N_BUCKETS), never wider than
    the session, and the compacting commit reads its 80 segment dirs per
    part (16 buckets × 5 segments) without Spark's one-task-per-path
    listing jobs. Every bucket dir still holds one file, and the view
    equals a recompute."""
    import glob
    import os
    import random
    import time
    from collections import Counter
    from itertools import combinations

    import pyarrow as pa
    import pyarrow.parquet as pq

    from graphdb_td2_spark.streaming import ivm

    width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert width < ivm.N_BUCKETS
    n_batches = ivm.COMPACT_SEGMENTS + 1
    rng = random.Random(7)
    t0 = time.time()
    stream_dir = tmp_path / "stream"
    stream_dir.mkdir()
    baskets: dict[int, set[int]] = {}
    for b in range(n_batches):
        # 200 new orders of 2-4 products: every order bucket and every
        # pair bucket of both parts gains a segment in every batch
        rows = [
            (1000 * b + o, p)
            for o in range(200)
            for p in rng.sample(range(60), rng.randint(2, 4))
        ]
        for o, p in rows:
            baskets.setdefault(o, set()).add(p)
        arr = list(zip(*rows))
        pq.write_table(
            pa.table({"l_orderkey": list(arr[0]), "l_partkey": list(arr[1])}),
            str(stream_dir / f"batch-{b}.parquet"),
        )
        # distinct mtimes keep the stream's one-file-per-batch order
        os.utime(stream_dir / f"batch-{b}.parquet", (t0 + b, t0 + b))
    state = str(tmp_path / "st")

    widths: dict[int, str] = {}
    original = ivm.apply_cooccurrence_delta

    def traced(spark_, batch, bid, state_dir):
        widths[bid] = spark_.conf.get("spark.sql.shuffle.partitions")
        spark_.sparkContext.setJobGroup(f"ivm-width-commit-{bid}", "commit")
        original(spark_, batch, bid, state_dir)

    monkeypatch.setattr(ivm, "apply_cooccurrence_delta", traced)
    schema = "l_orderkey long, l_partkey long"
    ivm.run_incremental_cooccurrence(spark, str(stream_dir), state, schema)

    assert widths == {b: str(width) for b in range(n_batches)}
    before = ivm._read_manifest(spark, state, n_batches - 2)
    for part in ("items", "counts"):
        assert sorted(map(int, before[part])) == list(range(ivm.N_BUCKETS))
        assert {len(v) for v in before[part].values()} == {ivm.COMPACT_SEGMENTS}
    last = ivm._read_manifest(spark, state, n_batches - 1)
    for part in ("items", "counts"):
        assert all(
            v == [f"v{n_batches - 1}/{part}_compact/bucket={k}"]
            for k, v in last[part].items()
        )
    tracker = spark.sparkContext.statusTracker()
    jobs = tracker.getJobIdsForGroup(f"ivm-width-commit-{n_batches - 1}")
    assert len(jobs) <= 5, f"compacting commit cost {len(jobs)} jobs"

    bucket_dirs = glob.glob(f"{state}/**/bucket=*", recursive=True)
    assert bucket_dirs
    for d in bucket_dirs:
        assert len(glob.glob(f"{d}/*.parquet")) == 1, d

    expected = Counter(
        pair for ps in baskets.values() for pair in combinations(sorted(ps), 2)
    )
    got = {
        (r["product_a"], r["product_b"]): r["n_orders"]
        for r in ivm.maintained_counts(spark, state).collect()
        if r["n_orders"] > 0
    }
    assert got == dict(expected)


def test_ivm_served_customer_cf_matches_batch_after_each_microbatch(spark, tmp_path):
    """VERDICT r8 task 4: customer-CF served from the maintained state
    equals the 4-hop batch recompute over exactly the rows streamed so
    far, after EVERY micro-batch."""
    from graphdb_td2_spark.recs.queries import customer_cooccurrence_core
    from graphdb_td2_spark.streaming.ivm import (
        apply_cooccurrence_delta,
        serve_customer_cf,
    )

    state = str(tmp_path / "st")
    placed = spark.createDataFrame(
        [(10, 1), (30, 1), (20, 2), (40, 2), (50, 3)],
        "order_id long, customer_id long",
    )
    batches = [
        [(10, 7), (10, 1), (20, 7), (20, 2)],
        [(30, 7), (30, 1), (40, 2), (40, 3)],
        [(30, 9), (50, 7), (50, 1), (50, 9)],
    ]
    seen: list[tuple[int, int]] = []
    for bid, rows in enumerate(batches):
        df = spark.createDataFrame(rows, "order_id long, product_id long")
        apply_cooccurrence_delta(spark, df, bid, state)
        seen.extend(rows)
        items = spark.createDataFrame(
            sorted(set(seen)), "order_id long, product_id long"
        )
        for cust in (1, 2):
            got = [
                tuple(r)
                for r in serve_customer_cf(spark, state, placed, cust).collect()
            ]
            expected = [
                tuple(r)
                for r in customer_cooccurrence_core(items, placed, cust).collect()
            ]
            assert got == expected, f"batch {bid} cust {cust}: {got} != {expected}"


def test_ivm_served_brand_fallback_matches_batch_after_each_microbatch(
    spark, tmp_path
):
    """Brand fallback served from maintained state equals the batch chain
    over exactly the rows streamed so far, after EVERY micro-batch."""
    from graphdb_td2_spark.recs.queries import customer_brand_fallback_core
    from graphdb_td2_spark.streaming.ivm import (
        apply_cooccurrence_delta,
        serve_brand_fallback,
    )

    state = str(tmp_path / "st")
    placed = spark.createDataFrame(
        [(10, 1), (30, 1), (20, 2)], "order_id long, customer_id long"
    )
    products = spark.createDataFrame(
        [(1, "A"), (2, "A"), (3, "B"), (7, "B"), (9, "B"), (11, "A")],
        "product_id long, category_id string",
    )
    batches = [
        [(10, 7), (10, 1), (20, 2)],
        [(30, 9), (30, 3)],
    ]
    seen: list[tuple[int, int]] = []
    for bid, rows in enumerate(batches):
        df = spark.createDataFrame(rows, "order_id long, product_id long")
        apply_cooccurrence_delta(spark, df, bid, state)
        seen.extend(rows)
        items = spark.createDataFrame(
            sorted(set(seen)), "order_id long, product_id long"
        )
        for cust in (1, 2):
            got = [
                tuple(r)
                for r in serve_brand_fallback(
                    spark, state, placed, products, cust
                ).collect()
            ]
            expected = [
                tuple(r)
                for r in customer_brand_fallback_core(
                    items, placed, products, cust
                ).collect()
            ]
            assert got == expected, f"batch {bid} cust {cust}: {got} != {expected}"


def test_state_cache_scan_keeps_run_width_across_commits(
    spark, tmp_path, monkeypatch
):
    """Each commit advances the in-memory state cache by a union with its
    fresh segments; the union is coalesced to the run width, so the
    state scan that opens every commit (its first job) stays at ≤ 8
    tasks at width 8 instead of growing by 8 per commit."""
    import os
    import random
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from graphdb_td2_spark.streaming import ivm

    rng = random.Random(7)
    t0 = time.time()
    stream_dir = tmp_path / "stream"
    stream_dir.mkdir()
    for b in range(5):
        rows = [
            (1000 * b + o, p)
            for o in range(200)
            for p in rng.sample(range(60), rng.randint(2, 4))
        ]
        arr = list(zip(*rows))
        f = stream_dir / f"batch-{b}.parquet"
        pq.write_table(
            pa.table({"l_orderkey": list(arr[0]), "l_partkey": list(arr[1])}),
            str(f),
        )
        os.utime(f, (t0 + b, t0 + b))

    original = ivm.apply_cooccurrence_delta

    def traced(spark_, batch, bid, state_dir):
        spark_.sparkContext.setJobGroup(f"ivm-state-scan-{bid}", "commit")
        original(spark_, batch, bid, state_dir)

    monkeypatch.setattr(ivm, "apply_cooccurrence_delta", traced)
    # the run width follows the session's, which other tests may change
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        ivm.run_incremental_cooccurrence(
            spark,
            str(stream_dir),
            str(tmp_path / "st"),
            "l_orderkey long, l_partkey long",
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    tracker = spark.sparkContext.statusTracker()
    for b in range(1, 5):
        first = min(tracker.getJobIdsForGroup(f"ivm-state-scan-{b}"))
        tasks = sum(
            tracker.getStageInfo(s).numTasks
            for s in tracker.getJobInfo(first).stageIds
        )
        assert tasks <= 8, f"commit {b}: state scan ran {tasks} tasks"
