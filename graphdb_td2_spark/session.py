"""SparkSession factory (SURVEY.md §7 Stage 0).

The reference's "session" is a pair of DB connections with readiness polling
(``app/etl.py:20-72``). Here the engine is Spark itself, so the equivalent is
a tuned SparkSession: AQE on (runtime re-planning + skew-join handling),
Arrow on (vectorized Python interchange), UTC session timezone (deterministic
timestamp semantics for the DuckDB oracle).

Scale posture: ``spark.sql.shuffle.partitions`` defaults to the local core
count (see ``get_spark`` for why there is no floor); on a real cluster it
should be set to 2-3× total cores.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_APP_NAME = "graphdb-td2-spark"


def get_spark(
    app_name: str = DEFAULT_APP_NAME,
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build a SparkSession tuned for this engine, or return the live one.

    A live session comes back unchanged: ``getOrCreate()`` would rewrite
    its runtime confs (the shuffle width among them) under whatever it is
    already running, so the confs below apply only to a session this call
    creates.

    Honors ``SPARK_GRAFT_CPUS`` (driver contract) for local parallelism.
    All settings are safe on a real cluster: AQE, skew-join handling and
    Arrow are cluster-side best practice, not local-mode hacks.

    ``shuffle_partitions`` defaults to ``cpus`` with no floor. AQE-on plans
    coalesce their shuffles whatever the width, but the frames
    ``cached_graph`` persists and the AQE-off plans ``static_planning``
    runs without a width of its own (the counts in ``prepare_fp_graph``)
    keep the width they were planned at, so the default must already fit
    the machine; a floor above the core count only schedules idle tasks
    in those stages.
    """
    live = SparkSession._instantiatedSession
    if live is not None and live._sc._jsc is not None:
        return live
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Dimension tables (region/nation/customer/part) stay broadcast-able
        # well past sf0.1; raise the threshold so Catalyst picks BHJ for them.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()


def session_dir(spark: SparkSession, prefix: str) -> str:
    """A fresh directory inside the driver's Spark temp dir, which Spark
    deletes when the context stops — for state that lives exactly as long
    as the session."""
    import tempfile

    root = spark.sparkContext._jvm.org.apache.spark.SparkFiles.getRootDirectory()
    return tempfile.mkdtemp(prefix=prefix, dir=root)


def configure_existing(spark: SparkSession) -> SparkSession:
    """Apply this engine's runtime-settable confs to a session we didn't build.

    The driver harness constructs its own SparkSession and passes it to
    ``entry``/``queries`` — only runtime-mutable confs may be touched here.
    """
    for key, value in (
        ("spark.sql.adaptive.enabled", "true"),
        ("spark.sql.adaptive.coalescePartitions.enabled", "true"),
        ("spark.sql.adaptive.skewJoin.enabled", "true"),
        ("spark.sql.execution.arrow.pyspark.enabled", "true"),
    ):
        try:
            spark.conf.set(key, value)
        except Exception:
            # Immutable in this deployment — keep going; these confs are
            # performance-only.
            pass
    # The session timezone is NOT performance-only: date→timestamp coercion
    # (asof join) and hour bucketing shift under a non-UTC session, silently
    # producing wrong-but-plausible results. Set it and verify it stuck —
    # the set itself raises in immutable-conf deployments, so both failure
    # modes funnel into the one actionable error.
    try:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        actual = spark.conf.get("spark.sql.session.timeZone")
    except Exception as exc:
        raise RuntimeError(
            "spark.sql.session.timeZone must be UTC for correct timestamp "
            "semantics, but this session refuses the update; rebuild the "
            "session with get_spark()"
        ) from exc
    if actual != "UTC":
        raise RuntimeError(
            "spark.sql.session.timeZone must be UTC for correct timestamp "
            f"semantics, but the session reports {actual!r} after the set; "
            "rebuild the session with get_spark()"
        )
    return spark
