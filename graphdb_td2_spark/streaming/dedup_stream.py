"""Incremental MinHash-LSH near-duplicate detection over a DOCUMENT
stream — the streaming counterpart of ``dedup/minhash.py`` (batch) and the
second IVM-style maintained view (``streaming/ivm.py`` maintains the
co-occurrence counts; this maintains the candidate-pair set).

Why it decomposes incrementally: a minhash signature is a pure per-document
function, and an unordered pair (a, b) shares a band bucket iff both
signatures' band slices match — fully decidable the moment the LATER of
the two documents arrives. So micro-batch ``b`` emits

    Δpairs = (batch ⋈ state on (band, bucket))  ∪  (batch ⋈ batch)

with each unordered pair produced in EXACTLY one batch (all its shared
bands at once — n_shared_bands needs no cross-batch merge), and the only
state is the accumulated ``(doc_id, band, bucket)`` relation.

Replay idempotency (foreachBatch is at-least-once): batch ``b`` writes its
bucket rows to ``state/batch=b`` and its pairs to ``pairs/batch=b`` with
overwrite — a replay rewrites the same content — and the state read for
batch ``b`` EXCLUDES partitions ≥ b, so a replayed batch joins against
exactly the state its first run saw (never its own leftovers).

Divergence from the batch path, by design: NO degenerate-bucket cap. The
cap is a batch-mode pruning decision over the full bucket membership; a
streaming maintainer would need tombstoning to retract already-emitted
pairs when a bucket later outgrows the cap. The uncapped pair set is the
exact relation (the DuckDB oracle mirrors it without the QUALIFY filter);
cap semantics belong to the batch consumer.

Scale notes: per batch, one narrow per-doc signature computation (md5 +
16 mins via partial agg), one equi-join against state pruned to the
batch's (band, bucket) keys by a broadcast semi-join, appends only —
state is never rewritten. At 100 TB the state relation is the bucket lake
table ``dedup/minhash.py:cached_capped_buckets`` materializes; this is
its maintenance path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..caching import memo
from ..dedup.minhash import band_buckets, minhash_signatures
from ..schemas import CORPUS

_BUCKETS_SCHEMA = "doc_id long, band int, bucket string"
_PAIRS_SCHEMA = "doc_id_a long, doc_id_b long, n_shared_bands long"


def _read_partitions_below(
    spark: SparkSession, root: str, schema: str, below: int
) -> DataFrame:
    """Union-read ``{root}/batch=i`` for i < below (empty frame if none).
    Partition dirs are enumerated driver-side (tiny metadata listing)."""
    from py4j.protocol import Py4JJavaError

    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(root)
    fs = p.getFileSystem(conf)
    paths = []
    try:
        for st in fs.listStatus(p):
            name = st.getPath().getName()
            if name.startswith("batch=") and int(name.split("=", 1)[1]) < below:
                paths.append(f"{root}/{name}")
    except Py4JJavaError:
        pass  # state root does not exist yet — genuinely empty
    if not paths:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(*paths)


def apply_minhash_delta(
    spark: SparkSession, batch: DataFrame, batch_id: int, state_dir: str
) -> None:
    """Fold one micro-batch of documents into the maintained pair set."""
    new_buckets = band_buckets(minhash_signatures(batch)).persist()
    state = _read_partitions_below(
        spark, f"{state_dir}/state", _BUCKETS_SCHEMA, batch_id
    )

    def pair(a, b):
        return [
            F.least(a, b).alias("doc_id_a"),
            F.greatest(a, b).alias("doc_id_b"),
        ]

    cross = (
        new_buckets.alias("n")
        .join(
            state.alias("s"),
            (F.col("n.band") == F.col("s.band"))
            & (F.col("n.bucket") == F.col("s.bucket"))
            & (F.col("n.doc_id") != F.col("s.doc_id")),
        )
        .select(*pair(F.col("n.doc_id"), F.col("s.doc_id")))
    )
    within = (
        new_buckets.alias("x")
        .join(
            new_buckets.alias("y"),
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bucket") == F.col("y.bucket"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(*pair(F.col("x.doc_id"), F.col("y.doc_id")))
    )
    pairs = (
        cross.unionByName(within)
        .groupBy("doc_id_a", "doc_id_b")
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
    )
    # overwrite per-batch dirs → replays rewrite identical content
    pairs.write.mode("overwrite").parquet(f"{state_dir}/pairs/batch={batch_id}")
    new_buckets.select("doc_id", "band", "bucket").write.mode("overwrite").parquet(
        f"{state_dir}/state/batch={batch_id}"
    )
    new_buckets.unpersist()


def run_incremental_minhash(
    spark: SparkSession, stream_dir: str, state_dir: str
) -> None:
    """Drive the maintenance from a file stream of documents-shaped
    parquet, one file per micro-batch (availableNow → runs to completion)."""
    stream = (
        spark.readStream.schema(CORPUS["documents"])
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir)
        .select("doc_id", "text")
    )
    q = (
        stream.writeStream.foreachBatch(
            lambda batch, bid: apply_minhash_delta(spark, batch, bid, state_dir)
        )
        .option("checkpointLocation", f"{state_dir}/_checkpoint")
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(600):
        q.stop()
        raise TimeoutError(
            "incremental minhash stream did not finish within 600 s"
        )


def maintained_pairs(spark: SparkSession, state_dir: str) -> DataFrame:
    """The maintained candidate-pair set (each pair lives in exactly one
    batch partition — no cross-batch merge needed). The ``batch=`` dir
    key surfaces as a partition column; project it away."""
    return (
        spark.read.schema(_PAIRS_SCHEMA)
        .parquet(f"{state_dir}/pairs")
        .select("doc_id_a", "doc_id_b", "n_shared_bands")
    )


def streaming_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry: maintain the LSH candidate-pair set INCREMENTALLY
    (documents streamed in multi-file micro-batches) and return it. The
    oracle is the plain batch LSH SQL without the bucket cap — IVM-style
    correctness: indistinguishable from a recompute."""
    from ..io import read_table
    from ..session import session_dir

    def build():
        docs = read_table(spark, sf_dir, "documents")
        root = session_dir(spark, "spark_mh_stream_")
        stream_dir = f"{root}/stream"
        docs.repartition(4).write.parquet(stream_dir)
        state_dir = f"{root}/state"
        run_incremental_minhash(spark, stream_dir, state_dir)
        return state_dir

    state_dir = memo(spark, ("minhash_stream_state", sf_dir.rstrip("/")), build)
    return maintained_pairs(spark, state_dir)
