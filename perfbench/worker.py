"""One benchmark run of one workload, in a process of its own.

``run.py`` starts this with the run's working directory, temp dirs and
Spark warehouse already isolated; it writes the run's outcome as JSON to
``--out``. It generates the corpus from ``--seed``, starts the Spark
session, runs the workload, checks every output against DuckDB and reads
the Spark JVM's peak resident set before stopping the session.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import time
from types import SimpleNamespace

WORKLOADS = ("recs_serve", "batch_ingest")
SF = 0.002


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--trace-file")
    args = ap.parse_args()

    from common import Engine, Tracer
    from corpus import write_corpus
    from oracle import Oracle

    corpus_dir = os.path.join(args.run_dir, "corpus")
    rows = write_corpus(corpus_dir, args.seed, SF)

    t0 = time.perf_counter()
    from graphdb_td2_spark.session import get_spark

    spark = get_spark(f"perfbench-{args.workload}")
    spark.range(1).count()
    session_s = time.perf_counter() - t0

    engine = Engine(spark)
    tracer = Tracer() if args.trace else None
    oracle = Oracle(corpus_dir)
    ctx = SimpleNamespace(
        spark=spark, engine=engine, tracer=tracer, oracle=oracle, seed=args.seed,
        seconds=args.seconds, run_dir=args.run_dir, corpus_dir=corpus_dir,
        session_s=session_s, cpus=int(os.environ["SPARK_GRAFT_CPUS"]),
    )
    try:
        result = importlib.import_module(args.workload).run(ctx)
        result["layer"]["spark.peak_rss_mb"] = engine.peak_rss_mb()
        result["layer"]["session.start_s"] = session_s
        result["layer"]["spark.jit_ms"] = engine.jit_ms()
        result["info"]["corpus_rows"] = rows
    finally:
        oracle.close()
        spark.stop()
    if tracer is not None and args.trace_file:
        tracer.dump(args.trace_file)
    with open(args.out, "w") as fh:
        json.dump(result, fh)


if __name__ == "__main__":
    main()
