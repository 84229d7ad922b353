"""Multi-format source/sink support [extension to §2.A].

The reference reads exactly one source kind (Postgres via psycopg2,
``app/etl.py:20-30``) and writes one sink (Neo4j). The corpus here is
parquet, but a drop-in engine needs the other interchange formats a lake
ingests: CSV and JSON-lines readers/writers with EXPLICIT schemas (never
inferred — inference is a full extra pass and nondeterministic typing),
and the JDBC reader that is the literal Spark mapping of the reference's
connection factory (A1).

Scale notes: CSV/JSON are line-splittable, so reads parallelize per
HDFS/object-store block like parquet — but carry no column pruning,
predicate pushdown, or row-group statistics. They are ingest formats;
``write_partitioned`` (sinks.py) lands them as parquet for querying.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, types as T


def read_csv(
    spark: SparkSession, path: str, schema: T.StructType, header: bool = True
) -> DataFrame:
    """Schema-enforced CSV scan (malformed rows -> null columns, PERMISSIVE
    — the ``safe_fetch`` spirit applied per-row instead of per-table)."""
    return spark.read.csv(
        path,
        schema=schema,
        header=header,
        timestampFormat="yyyy-MM-dd HH:mm:ss[.SSSSSS]",
        mode="PERMISSIVE",
    )


def read_jsonl(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """Schema-enforced JSON-lines scan."""
    return spark.read.json(path, schema=schema)


def write_csv(df: DataFrame, path: str, header: bool = True) -> None:
    df.write.mode("overwrite").option("header", header).option(
        "timestampFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS"
    ).csv(path)


def write_jsonl(df: DataFrame, path: str) -> None:
    df.write.mode("overwrite").option(
        "timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"
    ).json(path)


def read_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    partition_column: str | None = None,
    num_partitions: int = 8,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    **properties: str,
) -> DataFrame:
    """JDBC table scan — the Spark mapping of the reference's Postgres
    connection factory (``app/etl.py:20-30``, SURVEY §2 A1).

    Always pass ``partition_column`` + bounds in production: without them
    the whole table arrives through ONE task (the same single-heap wall the
    reference's psycopg2 extract hits). Exercised end-to-end against the
    embedded Derby engine Spark ships for its metastore
    (``tests/test_jdbc.py``: write → partitioned read round-trip); against
    Postgres, swap the url and add the driver jar.
    """
    reader = spark.read.format("jdbc").option("url", url).option("dbtable", table)
    if partition_column is not None:
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("numPartitions", str(num_partitions))
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
        )
    for k, v in properties.items():
        reader = reader.option(k, v)
    return reader.load()


def write_jdbc(
    df: DataFrame, url: str, table: str, mode: str = "error", **properties: str
) -> None:
    """JDBC table write — the relational-sink counterpart of ``read_jdbc``
    (each partition opens one connection and batch-inserts; parallelism =
    ``df`` partition count, so coalesce small frames before writing to a
    connection-limited database)."""
    writer = df.write.format("jdbc").option("url", url).option("dbtable", table)
    for k, v in properties.items():
        writer = writer.option(k, v)
    writer.mode(mode).save()


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC read — the other columnar lake format (predicate pushdown and
    column pruning work like parquet's; schema travels in the file)."""
    return spark.read.orc(path)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """ORC write (zlib default codec; row-group stats for pushdown)."""
    df.write.mode(mode).orc(path)


def read_parquet_evolved(spark: SparkSession, path: str) -> DataFrame:
    """Schema-evolution scan: merge the footers of EVERY file under
    ``path`` (``mergeSchema``), so files appended after a column was
    added read alongside the old ones (missing columns null-fill). The
    default reader takes one footer on faith — correct for immutable
    corpus tables, wrong for a long-lived appended lake table."""
    return spark.read.option("mergeSchema", "true").parquet(path)
