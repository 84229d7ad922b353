"""Source layer (SURVEY.md §2.A rows A1-A4).

The reference's extract phase is six full-table SELECTs materialized on one
Python heap (``app/etl.py:102-105, 141-164``). Here a "scan" is a lazy
``spark.read.parquet`` — columnar, distributed, with Catalyst column pruning
and predicate pushdown reaching the parquet reader, so the corpus never
passes through a single process.

``safe_read_table`` keeps the reference's fault-tolerant-scan contract
(``safe_fetch``, ``app/etl.py:132-139``): any failure yields an *empty* typed
DataFrame rather than an error, so downstream pipelines degrade gracefully.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from ..caching import memo
from ..schemas import CORPUS, TABLE_NAMES

log = logging.getLogger("graphdb_td2_spark")


def table_path(sf_dir: str, name: str) -> str:
    return f"{sf_dir.rstrip('/')}/{name}.parquet"


def _read_with_nanos_fallback(
    spark: SparkSession, path: str, name: str
) -> DataFrame:
    """Parquet TIMESTAMP(NANOS) columns (the ``events`` table) are illegal
    for Spark's reader; fall back to ``nanosAsLong`` and convert ns→µs with
    exact integer division (``div 1000`` — the same truncation DuckDB
    applies when it narrows ns to its µs timestamps)."""
    try:
        df = spark.read.parquet(path)
        df.schema  # force footer/schema resolution now
    except Exception as exc:
        if "PARQUET_TYPE_ILLEGAL" not in str(exc):
            raise
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
    # With nanosAsLong already set (by an earlier read), the nanos column
    # arrives as bigint without raising — so always reconcile against the
    # expected schema, not just on the exception path.
    expected = CORPUS.get(name)
    if expected is not None:
        actual = dict(df.dtypes)
        for field in expected.fields:
            if not isinstance(field.dataType, T.TimestampType):
                continue
            got = actual.get(field.name)
            if got == "bigint":
                df = df.withColumn(
                    field.name,
                    F.timestamp_micros(F.expr(f"{field.name} div 1000")),
                )
            elif got in ("timestamp_ntz", "date"):
                # Plain timestamp[us] with no tz flag reads as TIMESTAMP_NTZ;
                # a regenerated corpus could also narrow a day-granular
                # column to parquet DATE. The engine pins the session to UTC
                # (session.py), so either cast is an exact reinterpretation
                # (midnight UTC for dates — what DuckDB's date→timestamp
                # promotion yields too).
                df = df.withColumn(
                    field.name, F.col(field.name).cast("timestamp")
                )
    return df


def read_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    columns: list[str] | None = None,
) -> DataFrame:
    """Scan one corpus table (A2/A4). ``columns`` is the explicit projection
    the reference writes into each SELECT (``app/etl.py:141-164``); Catalyst
    prunes the parquet scan to exactly those columns.

    Resolving a parquet relation is a driver-side footer read (~100 ms per
    table), and the analytics surface re-resolves the same corpus tables
    dozens of times per session, so the *analyzed, normalized,
    unprojected* relation is memoized per path; the projection layers on
    top, so Catalyst still prunes and pushes down per query."""
    path = table_path(sf_dir, name)
    df = memo(
        spark, ("reader", path), lambda: _read_with_nanos_fallback(spark, path, name)
    )
    if columns is not None:
        df = df.select(*columns)
    return df


def safe_read_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    columns: list[str] | None = None,
) -> DataFrame:
    """Fault-tolerant scan (A3): empty typed DataFrame on any failure,
    mirroring ``safe_fetch``'s log-and-continue contract
    (``app/etl.py:132-139``)."""
    try:
        df = read_table(spark, sf_dir, name, columns)
        # Force schema resolution now so missing files fail here, not lazily.
        df.schema  # noqa: B018
        return df
    except Exception as exc:  # pragma: no cover - exercised via tests
        log.warning("could not read table %s from %s: %s", name, sf_dir, exc)
        schema = CORPUS.get(name)
        if schema is None:
            raise
        empty = spark.createDataFrame([], schema)
        return empty.select(*columns) if columns is not None else empty


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """All ten corpus tables as lazy DataFrames keyed by name."""
    return {name: read_table(spark, sf_dir, name) for name in TABLE_NAMES}


def schema_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column drift between each corpus table's EXPECTED schema
    (schemas.CORPUS) and what the parquet footers actually serve — the
    report that would have caught the round-5 corpus regeneration
    (TIMESTAMP(NANOS) → tz-naive micros) BEFORE queries broke:
    ``(table, column, expected, actual, status)`` with status in
    ok / normalized (the reader reconciles it) / type_drift / missing /
    unexpected. Driver-side footer metadata only — no data read.
    """
    from ..schemas import CORPUS

    rows = []
    for name, expected in CORPUS.items():
        try:
            actual = dict(
                spark.read.parquet(table_path(sf_dir, name)).dtypes
            )
        except Exception:
            for field in expected.fields:
                rows.append((name, field.name, field.dataType.simpleString(), None, "missing_table"))
            continue
        for field in expected.fields:
            want = field.dataType.simpleString()
            got = actual.pop(field.name, None)
            if got is None:
                status = "missing"
            elif got == want:
                status = "ok"
            elif want == "timestamp" and got in ("timestamp_ntz", "date", "bigint"):
                status = "normalized"  # read_table reconciles these
            else:
                status = "type_drift"
            rows.append((name, field.name, want, got, status))
        for col, got in actual.items():
            rows.append((name, col, None, got, "unexpected"))
    return spark.createDataFrame(
        rows, "table string, column string, expected string, actual string, status string"
    ).orderBy("table", "column")
