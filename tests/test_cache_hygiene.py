"""Session-cache hygiene: every derived artifact goes through
``caching.memo``, whose builds are single flight and whose misses drop
the entries of stopped sessions; the trained-index memos key on the
ACTUAL corpus argument (plan semanticHash), not just the caller's
cache_key string."""

from __future__ import annotations

import sys
import threading
import time

from graphdb_td2_spark import caching
from graphdb_td2_spark.caching import memo, session_stopped


class _DeadSession:
    """Anything whose context introspection fails counts as stopped."""

    @property
    def sparkContext(self):  # noqa: N802 - mimics SparkSession
        raise RuntimeError("stopped")


class _StoppedSession:
    """A session whose context reports an app id but is gone."""

    class sparkContext:  # noqa: N801 - mimics SparkSession
        applicationId = "dead-app"
        _jsc = None


def test_session_stopped_on_dead_session(spark):
    assert session_stopped(_DeadSession()) is True
    assert session_stopped(_StoppedSession()) is True
    assert session_stopped(spark) is False


def test_miss_drops_stopped_sessions_entries(spark, sf_dir, monkeypatch):
    """A miss on any memoized artifact (here the /recs basket view) drops
    every entry of a stopped session and keeps the live session's."""
    from graphdb_td2_spark.recs.queries import _items

    monkeypatch.setattr(caching, "_STORE", {})
    memo(spark, ("live",), object)
    memo(_StoppedSession(), ("x",), object)
    memo(_StoppedSession(), ("y",), object)
    assert {app for app, _ in caching._STORE} == {
        "dead-app",
        spark.sparkContext.applicationId,
    }
    _items(spark, sf_dir)
    assert {app for app, _ in caching._STORE} == {spark.sparkContext.applicationId}
    assert (spark.sparkContext.applicationId, ("live",)) in caching._STORE


def test_concurrent_first_requests_build_once(spark, tmp_path, monkeypatch):
    """Eight threads asking for a view nobody has built run ONE build and
    all get the same persisted DataFrame (ThreadingHTTPServer's first
    concurrent /recs requests)."""
    import graphdb_td2_spark.recs.queries as rq

    calls = []

    def slow_read_table(spark_, sf_dir_, name, columns=None):
        calls.append(name)
        time.sleep(0.2)
        return spark_.createDataFrame([(1, 2)], "l_orderkey long, l_partkey long")

    monkeypatch.setattr(rq, "read_table", slow_read_table)
    sf = str(tmp_path / "unbuilt")
    start = threading.Barrier(8)
    results = [None] * 8

    def worker(i):
        start.wait(timeout=30)
        results[i] = rq._items(spark, sf)

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(8)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert calls == ["lineitem"]
    assert results[0] is not None
    assert all(r is results[0] for r in results)


def test_trained_centroids_key_on_actual_corpus(spark):
    """Two different corpora under the SAME cache_key must train two
    different centroid sets — the memo key carries the corpus plan's
    semanticHash (ADVICE r12: the key used to trust the caller)."""
    from graphdb_td2_spark.similarity.ann import train_ivf_centroids

    corpus_a = spark.createDataFrame(
        [(i, [i * 10, 5 + (i % 3)]) for i in range(1, 9)],
        "vec_id long, qe array<long>",
    )
    corpus_b = corpus_a.filter("vec_id >= 4")
    cents_a = train_ivf_centroids(
        spark, corpus_a, n_cells=2, n_iter=1, cache_key="same-key"
    ).collect()
    cents_b = train_ivf_centroids(
        spark, corpus_b, n_cells=2, n_iter=1, cache_key="same-key"
    ).collect()
    assert sorted(map(tuple, cents_a)) != sorted(map(tuple, cents_b))
    # and the memo still works: same corpus + key returns the same rows
    again = train_ivf_centroids(
        spark, corpus_a, n_cells=2, n_iter=1, cache_key="same-key"
    ).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, cents_a))


def test_session_state_dirs_are_removed_when_the_session_stops(tmp_path):
    """The IVM and streaming-minhash state dirs live in the driver's Spark
    temp dir, so stopping the session removes them: a long-lived process
    that cycles sessions leaves nothing behind in the temp dir."""
    import json
    import os
    import subprocess
    import textwrap
    from pathlib import Path

    repo = str(Path(__file__).resolve().parent.parent)
    code = textwrap.dedent(
        f"""
        import json, os, sys
        sys.path.insert(0, {repo!r})
        from graphdb_td2_spark import caching
        from graphdb_td2_spark.session import get_spark
        from graphdb_td2_spark.streaming.dedup_stream import streaming_minhash_pairs
        from graphdb_td2_spark.streaming.ivm import ensure_ivm_state

        sf = "/root/testdata/sf0.001"
        spark = get_spark("state-dir-probe", cpus=2)
        ivm_dir = ensure_ivm_state(spark, sf)
        streaming_minhash_pairs(spark, sf)
        key = (spark.sparkContext.applicationId, ("minhash_stream_state", sf))
        dirs = [ivm_dir, caching._STORE[key].value]
        assert all(os.path.isdir(d) for d in dirs), dirs
        spark.stop()
        left = [d for d in dirs if os.path.exists(d)]
        print("DIRS:" + json.dumps({{"dirs": dirs, "left": left}}))
        """
    )
    env = dict(os.environ, TMPDIR=str(tmp_path))
    out = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=repo,
        env=env,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    seen = json.loads(out.stdout.split("DIRS:")[1].splitlines()[0])
    assert seen["left"] == []  # gone at stop, not only at JVM exit
    assert [d for d in seen["dirs"] if os.path.exists(d)] == []
