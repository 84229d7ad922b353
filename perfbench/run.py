"""Benchmark entry point. Run from the root of a source checkout:

    python3 perfbench/run.py --workload recs_serve --seed 1 --seconds 15 --trace 0

Each run is a fresh worker process (``worker.py``) with its own working
directory, ``TMPDIR``, ``SPARK_LOCAL_DIRS`` and Spark warehouse under
``perfbench/_runs/``, all removed afterwards; ``SPARK_GRAFT_CPUS`` is pinned
to the CPUs this process may use. The last line of standard output is one
JSON object with ``correct``, ``attempted``, ``failed`` and ``metrics``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. A traced run also reports, per end-to-end metric,
``overhead.<name>``: traced minus untraced, estimated from the time the
tracer itself spent inside the timed operations. The line before it
records the machine shape, the seed and a hash of the program sources.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

from worker import SF, WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CHILD_TIMEOUT_S = 170


def declared_metrics() -> tuple[dict, dict]:
    """Name -> unit of the end-to-end and per-layer metrics ``BENCHMARK.json``
    declares; a run prints exactly these."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return tuple({m["name"]: m["unit"] for m in spec[k]} for k in ("end_to_end", "per_layer"))


def source_hash() -> str:
    """SHA-256 (first 16 hex digits) of the program's Python sources."""
    h = hashlib.sha256()
    paths = [os.path.join(ROOT, "__spark_entry__.py")]
    for root, dirs, files in os.walk(os.path.join(ROOT, "graphdb_td2_spark")):
        dirs.sort()
        paths += [os.path.join(root, f) for f in sorted(files) if f.endswith(".py")]
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def _reap(pgid: int) -> None:
    """Kill whatever is left of the worker's process group (the JVM) once
    the worker itself has been waited for, and wait until it is gone."""
    for _ in range(100):
        try:
            os.killpg(pgid, signal.SIGKILL)
        except ProcessLookupError:
            return
        time.sleep(0.1)
    raise SystemExit(f"process group {pgid} survived SIGKILL")


def run_worker(args, cpus: int, trace: int) -> dict:
    # fixed-width pid: paths end up in the IVM state's stream metadata, whose
    # size is a per-layer count
    run_dir = os.path.join(HERE, "_runs", f"{args.workload}-{args.seed}-{trace}-{os.getpid():07d}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp, local, wh = (os.path.join(run_dir, d) for d in ("tmp", "local", "warehouse"))
    for d in (tmp, local):
        os.makedirs(d)
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
        "PYTHONPATH": os.pathsep.join([HERE, ROOT]),
        # every JVM, the spark-submit launcher included: no /tmp/hsperfdata_*
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "PYSPARK_SUBMIT_ARGS": (
            f"--conf spark.sql.warehouse.dir={wh} --conf spark.local.dir={local} pyspark-shell"
        ),
    })
    out = os.path.join(run_dir, "result.json")
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(trace),
           "--run-dir", run_dir, "--out", out,
           "--trace-file", os.path.join(HERE, "_traces", f"{args.workload}-seed{args.seed}.json")]
    try:
        with open(os.path.join(run_dir, "worker.log"), "w") as log:
            proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=log, stderr=log,
                                    stdin=subprocess.DEVNULL, start_new_session=True)
            try:
                code = proc.wait(timeout=CHILD_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                code = "timeout"
                proc.kill()
                proc.wait()
            finally:
                _reap(proc.pid)
        if code != 0 or not os.path.exists(out):
            with open(os.path.join(run_dir, "worker.log")) as fh:
                sys.stderr.write(fh.read()[-4000:])
            raise SystemExit(f"worker failed ({code})")
        with open(out) as fh:
            return json.load(fh)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "graphdb_td2_spark", "__init__.py")):
        raise SystemExit("run from the root of a source checkout: graphdb_td2_spark/ is missing")

    end_to_end, per_layer = declared_metrics()
    cpus = len(os.sched_getaffinity(0))
    res = run_worker(args, cpus, args.trace)
    if args.trace:
        undeclared = sorted(set(res["layer"]) - set(per_layer))
        if undeclared:  # a metric renamed on one side only
            raise SystemExit(f"per-layer metrics missing from BENCHMARK.json: {undeclared}")
        # a layer the workload bypasses reports 0
        metrics = {k: {"value": res["layer"].get(k, 0), "unit": u} for k, u in per_layer.items()}
    else:
        metrics = {k: {"value": res["metrics"][k], "unit": u} for k, u in end_to_end.items()}
    print(json.dumps({"workload": args.workload, "seed": args.seed, "cpus": cpus,
                      "sf": SF, "source_sha256": source_hash(), **res["info"]}))
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
