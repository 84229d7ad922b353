"""The incremental-maintenance job of the ``batch_ingest`` pass:
micro-batches folded into the maintained co-occurrence view while
recommendations are read from it.

The job first streams the corpus lineitem, as one file, into a fresh state
dir through ``run_incremental_cooccurrence``. Each step then lands one
generated micro-batch as a parquet file: 200 new
orders by existing customers, baskets of 1-7 products drawn Zipf(s=1.1)
over a seeded permutation of the part keys, and about 10% of the orders
split across two consecutive batches. The step folds the batch with the
same public call, then reads the view: ``serve_product_cooccurrence`` for
a product the batch just wrote and, after the last batch,
``serve_customer_cf`` for one customer who ordered in it. The job runs lcm(COMPACT_SEGMENTS, GC_EVERY)
steps, so every run covers the same compaction and garbage-collection
cycle. Every read, and the maintained top-20 pairs at the end, are checked
against a DuckDB recompute over the corpus plus the batches folded so far.
"""

from __future__ import annotations

import json
import math
import os
import time
from contextlib import nullcontext

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from common import dir_bytes, file_sizes, median
from oracle import Oracle

ORDERS_PER_BATCH = 200
SPLIT_SHARE = 0.1
PRODUCT_READS = 1
ZIPF_S = 1.1


class BatchMaker:
    """Seeded micro-batches of new orders; an order split by the previous
    batch contributes its remaining items to the next one."""

    def __init__(self, corpus_dir: str, seed: int, first_order: int):
        self.rng = np.random.default_rng(seed)
        parts = pq.read_table(f"{corpus_dir}/part.parquet", columns=["p_partkey"])
        custs = pq.read_table(f"{corpus_dir}/customer.parquet", columns=["c_custkey"])
        self.parts = self.rng.permutation(parts.column(0).to_numpy())
        self.custs = custs.column(0).to_numpy()
        w = 1.0 / np.arange(1, len(self.parts) + 1) ** ZIPF_S
        self.p = w / w.sum()
        self.next_order = first_order
        self.carry: list[tuple[int, int]] = []

    def next(self) -> tuple[list, list]:
        """Items ``(order_id, product_id)`` and placed ``(order_id, customer_id)``."""
        rng = self.rng
        items, placed, carry = list(self.carry), [], []
        for _ in range(ORDERS_PER_BATCH):
            oid = self.next_order
            self.next_order += 1
            placed.append((oid, int(rng.choice(self.custs))))
            basket = [(oid, int(self.parts[j]))
                      for j in rng.choice(len(self.parts), int(rng.integers(1, 8)), p=self.p)]
            if len(basket) > 1 and rng.random() < SPLIT_SHARE:
                cut = len(basket) // 2
                items += basket[:cut]
                carry += basket[cut:]
            else:
                items += basket
        self.carry = carry
        return items, placed


def _write_batch(stream_dir: str, name: str, items: list) -> None:
    arr = np.array(items, dtype="int64").reshape(-1, 2)
    tmp = f"{stream_dir}/.{name}.tmp"
    pq.write_table(pa.table({"l_orderkey": arr[:, 0], "l_partkey": arr[:, 1]}), tmp)
    os.replace(tmp, f"{stream_dir}/{name}")


def _manifest(state_dir: str) -> dict:
    with open(f"{state_dir}/_LATEST") as fh:
        version = int(fh.read().strip())
    with open(f"{state_dir}/v{version}/manifest.json") as fh:
        return json.load(fh)


def ingest(ctx, corpus_dir: str, work_dir: str) -> dict:
    """Build the state, fold the steps, check every answer. Returns the
    build and ingest walls, the reads, the number of failed checks and
    the per-layer metrics."""
    from pyspark.sql import functions as F, types as T

    from graphdb_td2_spark.streaming import ivm

    spark, engine, tracer = ctx.spark, ctx.engine, ctx.tracer
    schema = T.StructType([T.StructField("l_orderkey", T.LongType()),
                           T.StructField("l_partkey", T.LongType())])
    li = pq.read_table(f"{corpus_dir}/lineitem.parquet", columns=["l_orderkey", "l_partkey"])
    stream_dir, state_dir = f"{work_dir}/stream", f"{work_dir}/state"
    os.makedirs(stream_dir)
    pq.write_table(li, f"{stream_dir}/part-0000.parquet")
    t0 = time.perf_counter()
    ivm.run_incremental_cooccurrence(spark, stream_dir, state_dir, schema)
    build_s = time.perf_counter() - t0

    current = {"bi": None}  # the step being folded; commits run on the stream's thread
    if tracer is not None:
        def on_commit(rec):
            rec["req"] = current["bi"]
            engine.set_group(f"commit-{rec['req']}")
        tracer.wrap(ivm, "apply_cooccurrence_delta", "ivm.apply_delta", on_enter=on_commit)

    corpus_placed = spark.read.parquet(f"{corpus_dir}/orders.parquet").select(
        F.col("o_orderkey").alias("order_id"), F.col("o_custkey").alias("customer_id"))
    last_order = pq.read_table(f"{corpus_dir}/orders.parquet", columns=["o_orderkey"]).column(0)
    maker = BatchMaker(corpus_dir, ctx.seed, int(last_order.to_numpy().max()) + 1)
    pick = np.random.default_rng(ctx.seed + 104_729)
    new_placed: list = []
    steps: list[dict] = []
    n_steps = math.lcm(getattr(ivm, "COMPACT_SEGMENTS", 1), getattr(ivm, "GC_EVERY", 1))
    batches = []
    for bi in range(n_steps):
        items, placed = maker.next()
        batches.append((items, placed))
        new_placed.extend(placed)
        _write_batch(stream_dir, f"batch-{bi:05d}.parquet", items)
        rec = {"bi": bi, "items": len(items), "reads": []}
        if tracer is not None:  # the snapshots are tracing cost
            s0 = time.perf_counter()
            before = file_sizes(state_dir)
            tracer.cost_s += time.perf_counter() - s0
        current["bi"] = bi
        t0 = time.perf_counter()
        ivm.run_incremental_cooccurrence(spark, stream_dir, state_dir, schema)
        rec["commit_s"] = time.perf_counter() - t0
        if tracer is not None:
            s0 = time.perf_counter()
            after = file_sizes(state_dir)
            rec["bytes_written"] = sum(s for p, s in after.items() if before.get(p) != s)
            tracer.cost_s += time.perf_counter() - s0
        products = sorted({p for _, p in items})
        targets = [("product", int(p)) for p in pick.choice(products, PRODUCT_READS, replace=False)]
        if bi == n_steps - 1:
            targets.append(("customer", int(pick.choice([c for _, c in placed]))))
            placed_df = corpus_placed.unionByName(
                spark.createDataFrame(new_placed, "order_id long, customer_id long"))
        c0 = engine.compiles()
        for kind, key in targets:
            t0 = time.perf_counter()
            with tracer.span(f"ivm.read_{kind}", req=bi) if tracer is not None else nullcontext():
                if kind == "product":
                    rows = ivm.serve_product_cooccurrence(spark, state_dir, key).collect()
                else:
                    rows = ivm.serve_customer_cf(spark, state_dir, placed_df, key).collect()
            rec["reads"].append({
                "kind": kind, "key": key, "bi": bi, "ms": (time.perf_counter() - t0) * 1000.0,
                "rows": [(int(r["product_id"]), float(r["score"]), r["reason"]) for r in rows],
            })
        rec["read_compiles"] = engine.compiles() - c0
        steps.append(rec)
    # the job's wall: commits and reads, without the benchmark's own bookkeeping
    ingest_s = sum(s["commit_s"] + sum(r["ms"] for r in s["reads"]) / 1000.0 for s in steps)

    oracle = Oracle(corpus_dir)
    for bi, (items, placed) in enumerate(batches):
        oracle.add_batch(bi, items, placed)
    top = (ivm.maintained_counts(spark, state_dir).filter(F.col("n_orders") > 0)
           .orderBy(F.desc("n_orders"), F.asc("product_a"), F.asc("product_b")).limit(20))
    failed = [tuple(int(x) for x in r) for r in top.collect()] != oracle.top_pairs(n_steps - 1)
    reads = [r for s in steps for r in s["reads"]]
    for r in reads:
        want = (oracle.product(r["key"], r["bi"]) if r["kind"] == "product"
                else oracle.customer(r["key"], r["bi"]))
        failed += r["rows"] != want
    oracle.close()

    read_ms = [r["ms"] for r in reads]
    commit_ms = [s["commit_s"] * 1000.0 for s in steps]
    n_items = sum(s["items"] for s in steps)
    layer = {
        "ivm.state_build_s": build_s,
        "ivm.commit_ms.p50": median(commit_ms),
        "ivm.commit_ms.max": max(commit_ms),
        "ivm.items_per_s": n_items / (sum(commit_ms) / 1000.0),
        "ivm.read_ms.p50": median(read_ms),
        "ivm.read_product_ms.p50": median([r["ms"] for r in reads if r["kind"] == "product"]),
        "ivm.read_customer_ms.p50": median([r["ms"] for r in reads if r["kind"] == "customer"]),
    }
    if tracer is not None:
        applied = tracer.by_req("ivm.apply_delta")
        counts = [engine.group_counts(f"commit-{s['bi']}") for s in steps]
        manifest = _manifest(state_dir)
        layer.update({
            "ivm.stream_overhead_ms.p50": median(
                [s["commit_s"] * 1000.0 - (applied[s["bi"]]["end"] - applied[s["bi"]]["start"]) * 1000.0
                 for s in steps]),
            "ivm.spark_jobs_per_commit": sum(c["jobs"] for c in counts) / n_steps,
            "ivm.spark_tasks_per_commit": sum(c["tasks"] for c in counts) / n_steps,
            "ivm.bytes_written_per_item": sum(s["bytes_written"] for s in steps) / n_items,
            "ivm.state_bytes_per_item": dir_bytes(state_dir) / (li.num_rows + n_items),
            "ivm.max_segments_per_bucket": max(
                len(v) if isinstance(v, list) else 1
                for part in ("items", "counts") for v in manifest[part].values()),
            "ivm.codegen_compiles_per_read": sum(s["read_compiles"] for s in steps) / len(reads),
            "ivm.failed_tasks": sum(c["failed"] for c in counts),
        })
    return {"build_s": build_s, "ingest_s": ingest_s, "items": n_items,
            "attempted": len(reads) + 1, "failed": failed, "layer": layer}
