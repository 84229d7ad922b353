"""Structured Streaming over the ``events`` table (SURVEY.md §2.J).

The reference is batch-only — its README names "make the ETL run
automatically" as future work (``README.md:5``) and its ``events`` source
schema is explicitly behavioral ("behavioral events",
``postgres/init/01_schema.sql:32``). This module is the [extension] that
discharges it Spark-first: ``readStream`` → watermarked windowed
aggregations → incremental graph-edge maintenance with ``foreachBatch``
(the streaming analogue of the ETL's idempotent ``MERGE``,
``app/etl.py:264-279``).

Scale notes: every aggregation here carries a watermark so state is
bounded and late data has an explicit eviction policy; the incremental
edge merge is an anti-join against the sink (id-based, broadcast-friendly
while the per-batch novelty is small) rather than a full rewrite. On a
real cluster the file source becomes Kafka/Delta and ``foreachBatch``
becomes ``MERGE INTO``; the dataflow shapes are identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from ..caching import memo
from ..io import read_table
from ..schemas import CORPUS

#: Gap matching the batch sessionizer (operators/windows.py): 30 minutes.
SESSION_GAP = "30 minutes"

EVENT_REL_TYPES = {
    "view": "VIEWED",
    "click": "CLICKED",
    "add_to_cart": "ADDED_TO_CART",
}

# State-store partition count for the FINITE registry replays: stateful
# operators create one state store (+ delta/commit files per batch) per
# shuffle partition, and the replays' state is tiny (≤ a few thousand
# keys), so the session's 32 partitions were pure checkpoint-setup I/O —
# ~0.7 s/query of the r10 streaming_event_windows regression (task 5).
# Production streams size this to state volume, not to this constant.
STREAM_STATE_PARTITIONS = 8


#: awaitTermination bound for the finite registry replays (seconds).
FINITE_STREAM_TIMEOUT = 300


def _start_finite(spark: SparkSession, writer) -> None:
    """Start ``writer`` as an availableNow stream with
    ``STREAM_STATE_PARTITIONS`` state partitions and await termination.
    The shuffle-partition conf is read once at stream START (cloned into
    the query's IncrementalExecution), so the narrowed setting cannot
    leak into the batch plans built after the restore.

    A replay that outlives ``FINITE_STREAM_TIMEOUT`` raises instead of
    returning (ADVICE r11): ``awaitTermination(timeout)`` returns False
    on timeout with the query still running, and the caller would read a
    partially-populated memory sink as if it were complete."""
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, str(STREAM_STATE_PARTITIONS))
    try:
        q = writer.trigger(availableNow=True).start()
        finished = q.awaitTermination(FINITE_STREAM_TIMEOUT)
        if not finished:
            q.stop()
            raise TimeoutError(
                f"finite stream replay still running after "
                f"{FINITE_STREAM_TIMEOUT}s — refusing to serve a "
                f"partially-populated sink (query: {q.name or q.id})"
            )
    finally:
        spark.conf.set(key, prev)


def _events_read_schema(ts_unit: str) -> T.StructType:
    """The stream read schema for a given ``ts`` encoding: TIMESTAMP(NANOS)
    sources must be read as bigint (``nanosAsLong``) and converted;
    tz-naive micro-precision sources read as TIMESTAMP_NTZ then cast;
    ordinary tz'd timestamps read directly."""
    fields = []
    for f in CORPUS["events"].fields:
        if f.name == "ts" and ts_unit == "ns":
            fields.append(T.StructField("ts", T.LongType()))
        elif f.name == "ts" and ts_unit == "ntz":
            fields.append(T.StructField("ts", T.TimestampNTZType()))
        else:
            fields.append(f)
    return T.StructType(fields)


def _source_staleness_token(source_dir: str, file_glob: str) -> tuple:
    """(name, size, mtime_ns) per matched file — driver-side metadata
    only, no data read; any rewrite of the source files changes it."""
    import fnmatch
    import os

    try:
        entries = []
        with os.scandir(source_dir) as it:
            for e in it:
                if fnmatch.fnmatch(e.name, file_glob):
                    st = e.stat()
                    entries.append((e.name, st.st_size, st.st_mtime_ns))
        return tuple(sorted(entries))
    except OSError:
        # unreadable dir: fall through to the uncached probe's own error
        return ("<unreadable>",)


def _detect_ts_unit(spark: SparkSession, source_dir: str, file_glob: str) -> str:
    """Learn how ``ts`` is physically encoded by probing the parquet footer
    with a batch read of the same path+glob the stream will use. The corpus
    encoding has changed under the engine before (TIMESTAMP(NANOS) →
    tz-naive timestamp[us]); a hard-coded unit silently compresses or
    stretches the time axis 1000×, so the unit must come from the data.

    The footer probe is a batch read job, so it is memoized per session.
    The key carries a cheap (name, size, mtime) token over the matched
    files, so a corpus regenerated mid-session re-probes instead of
    serving a stale unit. On a real cluster this token is the catalog's
    table version/snapshot id."""
    token = _source_staleness_token(source_dir, file_glob)
    return memo(
        spark,
        ("ts_unit", source_dir, file_glob, token),
        lambda: _detect_ts_unit_uncached(spark, source_dir, file_glob),
    )


def _detect_ts_unit_uncached(
    spark: SparkSession, source_dir: str, file_glob: str
) -> str:
    try:
        schema = (
            spark.read.option("pathGlobFilter", file_glob)
            .parquet(source_dir)
            .schema
        )
    except Exception as exc:
        if "PARQUET_TYPE_ILLEGAL" in str(exc):
            return "ns"  # TIMESTAMP(NANOS) footer, nanosAsLong not yet set
        raise
    if "ts" not in schema.fieldNames():
        return "us"
    dt = schema["ts"].dataType
    if isinstance(dt, T.LongType):
        return "ns"  # nanosAsLong already set by an earlier read
    if isinstance(dt, T.TimestampNTZType):
        return "ntz"
    return "us"


def events_stream(
    spark: SparkSession,
    source_dir: str,
    ts_unit: str = "auto",
    max_files_per_trigger: int | None = None,
    file_glob: str = "*.parquet",
) -> DataFrame:
    """``events`` as a file stream with a proper event-time ``ts`` column.

    ``source_dir`` must be a directory (file-source requirement);
    ``file_glob`` narrows which files inside it are events — the driver
    corpus directory holds every table in sibling files, so stream it with
    ``file_glob="events.parquet"``.

    ``ts_unit='auto'`` (default) detects the physical encoding from the
    parquet footer; ``'ns'``/``'ntz'``/``'us'`` force TIMESTAMP(NANOS),
    tz-naive timestamp, or ordinary micro-precision handling respectively.
    """
    if ts_unit not in ("auto", "ns", "ntz", "us"):
        raise ValueError(
            f"ts_unit must be 'auto', 'ns', 'ntz' or 'us', got {ts_unit!r}"
        )
    # ``pathGlobFilter`` matches LEAF FILES only. When the glob names a
    # directory (the standard lake layout: events.parquet/ holding
    # part-*.parquet), descend into it instead — otherwise the filter
    # matches nothing and the stream is silently empty. Single-file corpora
    # (the driver testdata) hit the isdir=False path and behave as before.
    import os

    candidate = os.path.join(source_dir, file_glob)
    if not any(c in file_glob for c in "*?[{") and os.path.isdir(candidate):
        source_dir, file_glob = candidate, "*.parquet"
    if ts_unit == "auto":
        ts_unit = _detect_ts_unit(spark, source_dir, file_glob)
    if ts_unit == "ns":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    reader = spark.readStream.schema(_events_read_schema(ts_unit)).option(
        "pathGlobFilter", file_glob
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    df = reader.parquet(source_dir)
    if ts_unit == "ns":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_unit == "ntz":
        # Exact under the engine's enforced UTC session tz (session.py).
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def stream_event_type_windows(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Tumbling-window per-type counts and value sums with a watermark
    bounding state and defining the late-data drop policy."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def stream_session_windows(
    events: DataFrame,
    gap: str = SESSION_GAP,
    watermark: str = "2 hours",
) -> DataFrame:
    """Per-user session windows (30-minute inactivity gap — the streaming
    twin of the batch sessionizer in ``operators/windows.py``)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id", F.session_window("ts", gap).alias("s"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("s.start").alias("session_start"),
            F.col("s.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


def streaming_event_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract entry: the tumbling-window stream run batch-finite
    over the corpus ``events`` file (``availableNow`` trigger → memory sink)
    and returned as a plain DataFrame. Exercises the full streaming path —
    source discovery, watermark, stateful window agg, sink — with an exact
    SQL oracle (the tumbling window is ``time_bucket`` in DuckDB).

    Money-like sums go through DECIMAL(12,2) intermediates for
    order-insensitive cross-engine equality (see ``__spark_entry__``).
    """
    import uuid

    name = "stream_etw_" + uuid.uuid4().hex[:8]
    events = events_stream(
        spark, sf_dir, ts_unit="auto", file_glob="events.parquet"
    ).withColumn("value", F.col("value").cast(T.DecimalType(12, 2)))
    wr = (
        stream_event_type_windows(events)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
    )
    _start_finite(spark, wr)
    return (
        spark.table(name)
        .select(
            "window_start",
            "window_end",
            "event_type",
            "n_events",
            F.col("sum_value").cast("double").alias("sum_value"),
        )
        .orderBy("window_start", "event_type")
    )


def streaming_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract entry: overlapping sliding windows (1 h width,
    15 min slide → every event lands in 4 windows), run batch-finite like
    ``streaming_event_windows``. Exactly SQL-expressible: Spark aligns
    window starts to slide boundaries, so the oracle is
    ``time_bucket(15 min) − k·15 min`` unnested over k ∈ 0..3."""
    import uuid

    name = "stream_slw_" + uuid.uuid4().hex[:8]
    events = events_stream(
        spark, sf_dir, ts_unit="auto", file_glob="events.parquet"
    ).withColumn("value", F.col("value").cast(T.DecimalType(12, 2)))
    wr = (
        events.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
    )
    _start_finite(spark, wr)
    return (
        spark.table(name)
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            F.col("sum_value").cast("double").alias("sum_value"),
        )
        .orderBy("window_start", "event_type")
    )


def stream_burst_pairs(
    left: DataFrame,
    right: DataFrame,
    gap: str = "5 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream inner join: same-user event pairs where the right
    event follows the left within ``gap`` — the correlation shape
    (click→purchase attribution, burst detection) that needs BOTH sides
    buffered. Watermarks on both inputs + the event-time range condition
    let Spark expire join state (left rows older than watermark+gap can
    never match again)."""
    a = left.withWatermark("ts", watermark).alias("a")
    b = right.withWatermark("ts", watermark).alias("b")
    return a.join(
        b,
        F.expr(
            f"""
            a.user_id = b.user_id AND
            b.ts > a.ts AND
            b.ts <= a.ts + INTERVAL {gap}
            """
        ),
    ).select(
        F.col("a.user_id").alias("user_id"),
        F.col("a.event_id").alias("event_id_a"),
        F.col("b.event_id").alias("event_id_b"),
        (F.unix_micros(F.col("b.ts")) - F.unix_micros(F.col("a.ts"))).alias("gap_us"),
    )


def streaming_burst_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract entry: the stream-stream join run batch-finite,
    aggregated per user (pair count + exact average gap). Oracle-exact:
    the strict ``b.ts > a.ts`` bound makes the pair set a pure function of
    the data (no arrival-order dependence) — PROVIDED no join state
    expires mid-replay. A production watermark sized for live lateness
    ("2 hours") only matches the batch oracle if the whole corpus arrives
    as one micro-batch; if the source ever split into several batches,
    left-side rows older than watermark+gap would be evicted and their
    pairs silently dropped. For this finite replay the watermark is
    therefore sized to exceed the corpus event-time span (~years ≫ the
    corpus's days), making the result batch-equivalent regardless of how
    the file source batches — state is bounded by the finite corpus."""
    import uuid

    name = "stream_ssj_" + uuid.uuid4().hex[:8]
    mk = lambda: events_stream(  # noqa: E731 - two independent stream DFs
        spark, sf_dir, ts_unit="auto", file_glob="events.parquet"
    ).select("user_id", "event_id", "ts")
    wr = (
        stream_burst_pairs(mk(), mk(), watermark="3650 days")
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
    )
    _start_finite(spark, wr)
    return (
        spark.table(name)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            (
                F.sum("gap_us").cast("double")
                / F.lit(1_000_000.0)
                / F.count(F.lit(1)).cast("double")
            ).alias("avg_gap_secs"),
        )
        .orderBy("user_id")
    )


def stream_dedup_first_events(
    events: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """Streaming exact-dedup: keep the FIRST event per (user_id,
    event_type) — ``dropDuplicates`` over a watermarked stream.

    State honesty: because the event-time column is NOT in the dedup
    subset, this is a GLOBAL dedup — the state store keeps every key
    forever (the watermark does not expire it). That is the right tool
    here: the key domain is |users|x|event_types|, dimension-bounded.
    For an unbounded key domain (e.g. dedup by event_id), use
    ``dropDuplicatesWithinWatermark`` instead — it expires state but only
    deduplicates repeats arriving within the watermark of each other."""
    return events.withWatermark("ts", watermark).dropDuplicates(
        ["user_id", "event_type"]
    )


def streaming_dedup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract entry: watermarked streaming dedup run batch-finite,
    then aggregated — per event type, how many distinct users ever emitted
    it. The oracle is exact (``COUNT(DISTINCT user_id)`` per type: dedup
    keeps exactly one row per key regardless of which arrives first)."""
    import uuid

    name = "stream_ddp_" + uuid.uuid4().hex[:8]
    events = events_stream(spark, sf_dir, ts_unit="auto", file_glob="events.parquet")
    wr = (
        stream_dedup_first_events(events)
        .select("user_id", "event_type")
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
    )
    _start_finite(spark, wr)
    return (
        spark.table(name)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_first_seen_users"))
        .orderBy("event_type")
    )


def streaming_enriched_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract entry: stream-static join — the event stream
    enriched against the static ``customer`` dimension (broadcast per
    micro-batch; the standard dimension-enrichment shape), then
    watermarked tumbling counts per market segment. Unmatched users drop
    (inner join), mirroring C7's FK-resolution semantics on the ETL path."""
    import uuid

    name = "stream_enw_" + uuid.uuid4().hex[:8]
    customer = read_table(spark, sf_dir, "customer", ["c_custkey", "c_mktsegment"])
    events = events_stream(
        spark, sf_dir, ts_unit="auto", file_glob="events.parquet"
    ).withColumn("value", F.col("value").cast(T.DecimalType(12, 2)))
    wr = (
        events.join(
            F.broadcast(customer),
            events.user_id == customer.c_custkey,
        )
        .withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), "c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value"))
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
    )
    _start_finite(spark, wr)
    return (
        spark.table(name)
        .select(
            F.col("w.start").alias("window_start"),
            "c_mktsegment",
            "n_events",
            F.col("sum_value").cast("double").alias("sum_value"),
        )
        .orderBy("window_start", "c_mktsegment")
    )


def streaming_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract entry: per-user SESSION windows (30-min inactivity
    gap) as a native stateful streaming aggregation — ``F.session_window``
    with a watermark bounding session state — run batch-finite like the
    other entries. The streaming twin of the batch sessionizer
    (``operators/windows.py:sessionize``); both use the same gap rule
    (boundary pinned by test: a gap of EXACTLY the gap duration still
    merges, so the oracle's new-session predicate is strict ``>``).

    Session end is last-event-ts + gap (Spark's session_window contract),
    which the oracle mirrors as ``MAX(ts) + INTERVAL``."""
    import uuid

    name = "stream_ssw_" + uuid.uuid4().hex[:8]
    events = events_stream(
        spark, sf_dir, ts_unit="auto", file_glob="events.parquet"
    ).withColumn("value", F.col("value").cast(T.DecimalType(12, 2)))
    wr = (
        stream_session_windows(events)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
    )
    _start_finite(spark, wr)
    return (
        spark.table(name)
        .select(
            "user_id",
            "session_start",
            "session_end",
            "n_events",
            F.col("sum_value").cast("double").alias("sum_value"),
        )
        .orderBy("user_id", "session_start")
    )


def incremental_event_edges(
    spark: SparkSession,
    events: DataFrame,
    sink_dir: str,
    checkpoint_dir: str,
):
    """Incrementally maintain the deduped event-edge table
    ``(user_id, product_key, rel_type)`` — the streaming analogue of the
    ETL's ``MERGE``-on-propertyless-edge idempotency (E9,
    ``app/etl.py:264-279``): repeated (customer, product, type) events
    collapse to one edge, across batches.

    Returns the started ``StreamingQuery`` (caller awaits termination).
    """
    rel = F.when(F.lit(False), F.lit(None))
    for k, v in EVENT_REL_TYPES.items():
        rel = rel.when(F.lower(F.col("event_type")) == k, F.lit(v))

    edges = (
        events.select(
            "user_id",
            F.get_json_object("props", "$.k").cast("long").alias("product_key"),
            rel.alias("rel_type"),
        )
        .filter(F.col("rel_type").isNotNull() & F.col("product_key").isNotNull())
    )

    def merge_batch(batch: DataFrame, batch_id: int) -> None:
        novel = batch.dropDuplicates(["user_id", "product_key", "rel_type"])
        try:
            existing = batch.sparkSession.read.parquet(sink_dir)
            novel = novel.join(
                existing, ["user_id", "product_key", "rel_type"], "left_anti"
            )
        except Exception:
            pass  # first batch: no sink yet
        novel.write.mode("append").parquet(sink_dir)

    return (
        edges.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


FIRST_SEEN_OUTPUT = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("product_key", T.LongType()),
        T.StructField("rel_type", T.StringType()),
        T.StructField("first_event_id", T.LongType()),
    ]
)

_FIRST_SEEN_STATE = T.StructType(
    [T.StructField("seen", T.ArrayType(T.StringType()))]
)


def first_seen_stream(events: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: emit each
    (user, product, rel_type) interaction the FIRST time it is ever seen,
    across micro-batches — the arbitrary-state generalization of the MERGE
    idempotency (E9) that ``dropDuplicates`` cannot express incrementally
    without unbounded watermark state semantics.

    State per user: the set of "product:rel" keys already emitted
    (serialized as an array of strings). Scale: state is bounded by a
    user's distinct interactions; hot users could switch the value to a
    Bloom filter without changing the operator shape.
    """
    import pandas as pd  # local import: streaming module stays importable without pandas

    rel = F.when(F.lit(False), F.lit(None))
    for k, v in EVENT_REL_TYPES.items():
        rel = rel.when(F.lower(F.col("event_type")) == k, F.lit(v))
    typed = events.select(
        "user_id",
        F.col("event_id"),
        F.get_json_object("props", "$.k").cast("long").alias("product_key"),
        rel.alias("rel_type"),
    ).filter(F.col("rel_type").isNotNull() & F.col("product_key").isNotNull())

    def update_fn(key, pdfs, state):
        seen = set(state.get[0]) if state.exists else set()
        rows = []
        for pdf in pdfs:
            pdf = pdf.sort_values("event_id")
            for r in pdf.itertuples(index=False):
                sk = f"{r.product_key}:{r.rel_type}"
                if sk not in seen:
                    seen.add(sk)
                    rows.append(
                        (key[0], int(r.product_key), r.rel_type, int(r.event_id))
                    )
        state.update((sorted(seen),))
        yield pd.DataFrame(
            rows, columns=["user_id", "product_key", "rel_type", "first_event_id"]
        )

    from pyspark.sql.streaming.state import GroupStateTimeout

    return typed.groupBy("user_id").applyInPandasWithState(
        update_fn,
        outputStructType=FIRST_SEEN_OUTPUT,
        stateStructType=_FIRST_SEEN_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_daily_actives(events: DataFrame) -> DataFrame:
    """Watermarked exact daily-distinct-users: per-user-day dedup
    (``dropDuplicates`` keyed on (user_id, day) with the watermark
    expiring state) feeding a daily count — the streaming twin of the
    batch rolling-actives' inner rollup. Exactly-once per (user, day)
    under replay because the dedup key IS the output grain."""
    daily = (
        events.withWatermark("ts", "1 day")
        .withColumn("day", F.date_trunc("day", "ts"))
        .dropDuplicates(["user_id", "day"])
    )
    return daily.groupBy("day").agg(
        F.count(F.lit(1)).cast("long").alias("active_users")
    )


def streaming_daily_actives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract entry: exact daily active users computed on the
    stream (availableNow → memory sink), hash-equal to the batch
    ``COUNT(DISTINCT user)`` per day — the dedup-then-aggregate pattern
    every usage pipeline streams. State: one (user, day) row until the
    watermark passes the day — bounded by daily actives, not corpus
    size."""
    import uuid

    name = "stream_dau_" + uuid.uuid4().hex[:8]
    events = events_stream(spark, sf_dir, ts_unit="auto", file_glob="events.parquet")
    wr = (
        stream_daily_actives(events)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
    )
    _start_finite(spark, wr)
    return spark.table(name).select("day", "active_users").orderBy("day")


STREAM_TOPK = 20


def stream_product_counts(events: DataFrame) -> DataFrame:
    """Running per-product event counts on the stream — the unbounded
    stateful aggregate (complete mode) a live leaderboard maintains.
    State is |products| rows of (key, count): product-dimension-sized,
    corpus-size-independent."""
    return (
        events.select(
            F.get_json_object("props", "$.k").cast("long").alias("product_id")
        )
        .filter(F.col("product_id").isNotNull())
        .groupBy("product_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
    )


def streaming_topk_products(
    spark: SparkSession, sf_dir: str, k: int = STREAM_TOPK
) -> DataFrame:
    """Registry entry: ``(rank, product_id, n_events)`` — the ``k`` most
    event-active products computed ON THE STREAM (availableNow → memory
    sink, complete mode), then ranked from the final state — the
    leaderboard pattern: the stream maintains the mergeable per-key
    counts (the expensive, corpus-sized part); ranking the
    dimension-sized state is a post-pass. Hash-equal to the batch
    count + row_number top-k (ties → lowest product_id). Ordered by
    rank."""
    import uuid

    from pyspark.sql import Window

    name = "stream_topk_" + uuid.uuid4().hex[:8]
    events = events_stream(spark, sf_dir, ts_unit="auto", file_glob="events.parquet")
    wr = (
        stream_product_counts(events)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
    )
    _start_finite(spark, wr)
    w = Window.orderBy(F.desc("n_events"), F.asc("product_id"))
    return (
        spark.table(name)
        .orderBy(F.desc("n_events"), F.asc("product_id"))
        .limit(k)
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .select("rank", "product_id", "n_events")
        .orderBy("rank")
    )
