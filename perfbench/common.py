"""Shared pieces of the benchmark worker: statistics, Spark engine counters
read over py4j, process memory, and the in-memory span recorder used by
traced runs."""

from __future__ import annotations

import json
import math
import os
import statistics
import functools
import threading
import time
from contextlib import contextmanager


def median(xs) -> float:
    return float(statistics.median(xs))


def pct(xs, q: float) -> float:
    """Nearest-rank percentile ``q`` (0-100) of ``xs``."""
    s = sorted(xs)
    return float(s[max(0, math.ceil(q / 100.0 * len(s)) - 1)])


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def file_sizes(path: str) -> dict[str, int]:
    out = {}
    for root, _, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            out[p] = os.path.getsize(p)
    return out


class Engine:
    """Counters of the JVM behind the Spark session, read over py4j: codegen compiles,
    GC and JIT time, the JVM's peak resident set, and per-job-group
    stage/task counts from the status tracker."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.jvm = spark._jvm
        self.mf = self.jvm.java.lang.management.ManagementFactory
        self.pid = int(self.jvm.java.lang.ProcessHandle.current().pid())

    def compiles(self) -> int:
        cm = self.jvm.org.apache.spark.metrics.source.CodegenMetrics
        return int(cm.METRIC_COMPILATION_TIME().getCount())

    def gc_ms(self) -> int:
        return int(sum(b.getCollectionTime() for b in self.mf.getGarbageCollectorMXBeans()))

    def jit_ms(self) -> int:
        return int(self.mf.getCompilationMXBean().getTotalCompilationTime())

    def peak_rss_mb(self) -> float:
        with open(f"/proc/{self.pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM missing from /proc status")

    def set_group(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def group_counts(self, group: str) -> dict[str, int]:
        """Jobs, and the stages, tasks and failed tasks they ran, under a job
        group. Stages that ran no task (skipped, their output already
        existed) are not counted: whether the status tracker still lists
        them varied between identical runs."""
        st = self.sc.statusTracker()
        jobs = list(st.getJobIdsForGroup(group))
        stages = tasks = failed = 0
        for jid in jobs:
            info = st.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                s = st.getStageInfo(sid)
                if s is None or s.numCompletedTasks + s.numFailedTasks == 0:
                    continue
                stages += 1
                tasks += s.numCompletedTasks
                failed += s.numFailedTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks, "failed": failed}


class Tracer:
    """Spans kept in memory: (name, start, end, parent, request id). A span's
    parent is the innermost open span of the same thread. ``cost_s`` sums
    the time spent in the tracer's own bookkeeping and enter hooks, which is
    what tracing adds to the timed operations."""

    def __init__(self):
        self.spans: list[dict] = []
        self.cost_s = 0.0
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next = 0

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def current_req(self):
        return getattr(self._local, "req", None)

    def set_req(self, req) -> None:
        self._local.req = req

    @contextmanager
    def span(self, name: str, req=None, on_enter=None):
        c0 = time.perf_counter()
        stack = self._stack()
        with self._lock:
            sid = self._next
            self._next += 1
        rec = {
            "id": sid,
            "name": name,
            "parent": stack[-1]["id"] if stack else None,
            "req": req if req is not None else self.current_req(),
            "start": c0,
        }
        stack.append(rec)
        if on_enter is not None:
            on_enter(rec)
        c1 = time.perf_counter()
        try:
            yield rec
        finally:
            c2 = rec["end"] = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(rec)
                self.cost_s += (c1 - c0) + (time.perf_counter() - c2)

    def wrap(self, owner, attr: str, name: str, on_enter=None) -> None:
        """Replace ``owner.attr`` with a wrapper recording a span per call."""
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            with tracer.span(name, on_enter=on_enter):
                return fn(*args, **kwargs)

        setattr(owner, attr, wrapped)

    def by_req(self, name: str) -> dict:
        return {s["req"]: s for s in self.spans if s["name"] == name}

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(sorted(self.spans, key=lambda s: s["start"]), fh)
