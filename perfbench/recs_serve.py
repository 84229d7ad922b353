"""``recs_serve``: closed-loop HTTP ``GET /recs`` traffic against
``serve.make_server`` in this process.

Traffic: one client connection per CPU the Spark session runs on
(``SPARK_GRAFT_CPUS``), each sending its next request only after the
previous answer arrived. With every core busy the loop measures the
server's capacity; with one or two clients the figures follow the speed of
the one or two cores the driver threads happen to run on, which on a
shared VM drifts from run to run (see DESIGN.md). Every block of 10
requests holds 5 ``product_id``, 4 ``customer_id`` and 1 unknown or
non-numeric id, in an order that is the same in every run. Numeric keys
are drawn Zipf(s=1.1) over a seeded permutation of the part and customer
keys read from the corpus parquet; the rank
sequence is the same in every run, the keys behind the ranks depend on the
seed. The warm-up stream uses other ranks and another seed than the
measured one.

Set-up is repeated and the median taken: each repetition starts a server
over a fresh copy of the corpus and sends the same two requests, for the
best-selling product and the customer with the most orders; both have
co-occurrence answers, so each repetition persists the same views.
"""

from __future__ import annotations

import http.client
import json
import shutil
import threading
import time
from urllib.parse import parse_qs, urlencode, urlparse

import numpy as np
import pyarrow.parquet as pq

from common import median, pct

ZIPF_S = 1.1
SETUP_REPS = 3
WARMUP_REQUESTS = 16
WARMUP_SHAPE, MEASURED_SHAPE, COUNTED_SHAPE = 1, 2, 3  # see request_stream
BLOCK = ("product_id",) * 5 + ("customer_id",) * 4 + ("invalid",)
# Traced runs count Spark jobs, stages, tasks and code compiles on COUNTED
# further requests sent one at a time to a server started after the
# measured phase, over a fresh copy of the corpus. Counted in the measured
# phase they do not repeat: which of two concurrent requests materialises a
# shared view depends on timing, and how many requests the timed phase
# completed decides which views are already materialised.
COUNTED = 20
COUNTED_RID0 = 1_000_000


def key_space(corpus_dir: str) -> dict[str, np.ndarray]:
    return {
        "product_id": pq.read_table(f"{corpus_dir}/part.parquet", columns=["p_partkey"])
        .column(0).to_numpy(),
        "customer_id": pq.read_table(f"{corpus_dir}/customer.parquet", columns=["c_custkey"])
        .column(0).to_numpy(),
    }


def setup_requests(corpus_dir: str) -> list[tuple]:
    """The best-selling product and the customer with the most orders
    (lowest key on ties): the set-up requests of every repetition."""
    parts = pq.read_table(f"{corpus_dir}/lineitem.parquet", columns=["l_partkey"])
    custs = pq.read_table(f"{corpus_dir}/orders.parquet", columns=["o_custkey"])
    return [(kind, int(np.bincount(t.column(0).to_numpy()).argmax()))
            for kind, t in (("product_id", parts), ("customer_id", custs))]


def request_stream(keys: dict[str, np.ndarray], seed: int, shape: int, n: int) -> list[tuple]:
    """``n`` requests ``(kind, key)``; ``key`` is an int, or a str for a
    non-numeric id. The order of kinds and the Zipf rank of each key come
    from ``shape``, which is the same in every run, so every run sends the
    same mix with the same pattern of repeated and fresh keys (Spark
    compiles code per fresh key literal). ``seed`` decides which corpus key
    holds each rank, and the unknown ids."""
    rng, shape_rng = np.random.default_rng(seed), np.random.default_rng(shape)
    ranked = {k: rng.permutation(v) for k, v in keys.items()}
    probs = {}
    for k, v in ranked.items():
        w = 1.0 / np.arange(1, len(v) + 1) ** ZIPF_S
        probs[k] = w / w.sum()
    out: list[tuple] = []
    while len(out) < n:
        for kind in shape_rng.permutation(BLOCK):
            if kind == "invalid":
                if len(out) % 20 < 10:
                    out.append(("product_id", int(keys["product_id"].max()) + 1
                                + int(rng.integers(0, 1000))))
                else:
                    out.append(("customer_id", f"c{int(rng.integers(0, 1000))}x"))
            else:
                v = ranked[kind]
                out.append((kind, int(v[shape_rng.choice(len(v), p=probs[kind])])))
    return out[:n]


def _get(port: int, rid: int, kind: str, key) -> dict:
    rec = {"rid": rid, "kind": kind, "key": key}
    path = "/recs?" + urlencode({kind: key, "rid": rid})
    rec["send"] = time.perf_counter()
    try:
        conn = http.client.HTTPConnection("127.0.0.1", port, timeout=60)
        try:
            conn.request("GET", path)
            resp = conn.getresponse()
            body = resp.read()
        finally:
            conn.close()
        rec["status"] = resp.status
        rec["items"] = json.loads(body).get("items")
    except (OSError, http.client.HTTPException, ValueError) as exc:
        rec["status"] = None
        rec["error"] = repr(exc)
    rec["recv"] = time.perf_counter()
    return rec


def drive(port: int, stream: list[tuple], deadline: float | None, first_rid: int,
          clients: int) -> list[dict]:
    """Closed loop: ``clients`` threads take the next request from ``stream``
    until it is exhausted or ``deadline`` (perf_counter) has passed."""
    lock = threading.Lock()
    cursor = iter(enumerate(stream))
    done: list[dict] = []

    def client():
        while True:
            if deadline is not None and time.perf_counter() >= deadline:
                return
            with lock:
                nxt = next(cursor, None)
            if nxt is None:
                return
            i, (kind, key) = nxt
            rec = _get(port, first_rid + i, kind, key)
            with lock:
                done.append(rec)

    threads = [threading.Thread(target=client) for _ in range(clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return sorted(done, key=lambda r: r["rid"])


def start_server(ctx, name: str, first: list[tuple]):
    """A server over a fresh copy of the corpus that has answered the
    set-up requests ``first``; returns it with its set-up time and the part
    of that spent on those requests."""
    from graphdb_td2_spark.serve import make_server, serve_forever_in_thread

    corpus = f"{ctx.run_dir}/{name}"
    shutil.copytree(ctx.corpus_dir, corpus)
    t0 = time.perf_counter()
    server = make_server(ctx.spark, corpus)
    serve_forever_in_thread(server)
    t1 = time.perf_counter()
    for kind, key in first:
        rec = _get(server.server_address[1], -1, kind, key)
        items = rec.get("items") or [{}]
        if rec.get("status") != 200 or items[0].get("reason") != "co-occurrence":
            raise RuntimeError(f"set-up request failed: {rec}")
    t2 = time.perf_counter()
    return server, t2 - t0, t2 - t1


def stop_server(server) -> None:
    server.shutdown()
    server.server_close()


def _trace_handler(tracer, server) -> None:
    """A span around the server's request handler, which also makes the
    request id the handling thread's current request."""
    handler = server.RequestHandlerClass
    do_get = handler.do_GET

    def traced_do_get(self):
        rid = parse_qs(urlparse(self.path).query).get("rid", [None])[0]
        tracer.set_req(int(rid) if rid is not None else None)
        with tracer.span("serve.handle"):
            do_get(self)

    handler.do_GET = traced_do_get


def _install_trace(ctx, server) -> None:
    """Spans around the server's request handler and ``serve.recommend``; a
    Spark job group per request so its jobs, stages and tasks are counted."""
    from graphdb_td2_spark import serve

    _trace_handler(ctx.tracer, server)
    ctx.tracer.wrap(serve, "recommend", "recs.recommend",
                    on_enter=lambda rec: ctx.engine.set_group(f"req-{rec['req']}"))


def run(ctx) -> dict:
    keys = key_space(ctx.corpus_dir)
    first = setup_requests(ctx.corpus_dir)

    # Set-up, repeated: a server over a fresh copy of the corpus, whose
    # first product and customer requests persist the adjacency views.
    rep_s, view_warm_s, servers = [], [], []
    for r in range(SETUP_REPS):
        server, setup_s, warm_s = start_server(ctx, f"serve_corpus_{r}", first)
        servers.append(server)
        rep_s.append(setup_s)
        view_warm_s.append(warm_s)
    for old in servers[:-1]:
        stop_server(old)
    server = servers[-1]
    port = server.server_address[1]
    if ctx.tracer is not None:
        _install_trace(ctx, server)

    # Warm-up with the separate-seed stream.
    t0 = time.perf_counter()
    drive(port, request_stream(keys, ctx.seed + 7_919, WARMUP_SHAPE, WARMUP_REQUESTS), None, -10_000,
          ctx.cpus)
    warmup_s = time.perf_counter() - t0

    stream = request_stream(keys, ctx.seed, MEASURED_SHAPE, 100_000)
    cost0 = ctx.tracer.cost_s if ctx.tracer is not None else 0.0
    gc0 = ctx.engine.gc_ms()
    t0 = time.perf_counter()
    done = drive(port, stream, t0 + ctx.seconds, 0, ctx.cpus)
    wall = max(r["recv"] for r in done) - t0
    gc_ms = ctx.engine.gc_ms() - gc0
    stop_server(server)
    counted, compiles = [], 0
    if ctx.tracer is not None:
        cost = (ctx.tracer.cost_s - cost0) * 1000.0
        server = start_server(ctx, "serve_corpus_counted", first)[0]
        _trace_handler(ctx.tracer, server)
        c0 = ctx.engine.compiles()
        counted = drive(server.server_address[1],
                        request_stream(keys, ctx.seed + 15_485, COUNTED_SHAPE, COUNTED),
                        None, COUNTED_RID0, clients=1)
        compiles = ctx.engine.compiles() - c0
        stop_server(server)

    lat = [(r["recv"] - r["send"]) * 1000.0 for r in done]
    failed = 0
    for r in done + counted:
        want = [list(x) for x in ctx.oracle.recs(r["kind"], r["key"])]
        got = [[i["product_id"], i["score"], i["reason"]] for i in (r.get("items") or [])]
        failed += not (r.get("status") == 200 and got == want)

    half = len(lat) // 2
    metrics = {
        "setup_s": ctx.session_s + median(rep_s) + warmup_s,
        "mean_ms": sum(lat) / len(lat),
        "work_per_s": len(done) / wall,
    }
    info = {
        "clients": ctx.cpus,
        "requests": len(done),
        "half_mean_ms": [sum(lat[:half]) / half, sum(lat[half:]) / (len(lat) - half)],
        "setup_rep_s": rep_s,
        "warmup_s": warmup_s,
    }
    layer = {
        "recs.latency_ms.p50": median(lat),
        "recs.latency_ms.p75": pct(lat, 75),
        "recs.view_warm_s": median(view_warm_s),
        "spark.gc_ms": gc_ms,
    }
    if ctx.tracer is not None:
        layer.update(_layer_metrics(ctx, done, counted))
        layer["recs.codegen_compiles_per_req"] = compiles / len(counted)
        busy = sum(lat)
        layer.update({
            "overhead.setup_s": cost0,
            "overhead.mean_ms": cost / len(lat),
            "overhead.work_per_s": metrics["work_per_s"] * (1 - busy / (busy - cost)),
        })
    return {"attempted": len(done) + len(counted), "failed": failed, "metrics": metrics,
            "layer": layer, "info": info}


def _layer_metrics(ctx, done: list[dict], counted: list[dict]) -> dict:
    tr = ctx.tracer
    recs = tr.by_req("recs.recommend")
    overhead, wait, kind_ms = [], [], {"product_id": [], "customer_id": [], "fallback": []}
    numeric = hits = 0
    jobs = stages = tasks = failed_tasks = 0
    for r in done:
        span = recs.get(r["rid"])
        if span is None:  # every request reaches recommend unless its connection failed
            continue
        rec_ms = (span["end"] - span["start"]) * 1000.0
        overhead.append((r["recv"] - r["send"]) * 1000.0 - rec_ms)
        wait.append((span["start"] - r["send"]) * 1000.0)
        items = r.get("items") or []
        if isinstance(r["key"], int):
            numeric += 1
            if items and items[0]["reason"] == "co-occurrence":
                hits += 1
                kind_ms[r["kind"]].append(rec_ms)
            else:  # the primary query came back empty; the fallback query ran
                kind_ms["fallback"].append(rec_ms)
    for r in done + counted:
        c = ctx.engine.group_counts(f"req-{r['rid']}")
        failed_tasks += c["failed"]
        if r["rid"] >= COUNTED_RID0:
            jobs += c["jobs"]
            stages += c["stages"]
            tasks += c["tasks"]
    n = len(counted)
    return {
        "serve.overhead_ms.p50": median(overhead),
        "serve.wait_ms.p50": median(wait),
        "recs.product_ms.p50": median(kind_ms["product_id"]),
        "recs.customer_ms.p50": median(kind_ms["customer_id"]),
        "recs.fallback_ms.p50": median(kind_ms["fallback"]) if kind_ms["fallback"] else 0.0,
        "recs.primary_hit_rate": hits / max(1, numeric),
        "recs.spark_jobs_per_req": jobs / n,
        "recs.spark_stages_per_req": stages / n,
        "recs.spark_tasks_per_req": tasks / n,
        "spark.failed_tasks": failed_tasks,
    }
