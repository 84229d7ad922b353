"""MinHash + LSH near-duplicate detection (shingle → minhash → band →
bucket-join) — the standard web-scale near-dedup pipeline (Broder '97 /
the Spark MinHashLSH design, re-expressed with Catalyst built-ins).

Hash family: one base hash per shingle, ``h(s) = int(md5(s)[:8 hex])``
(md5 is available and bit-identical in every engine, so the DuckDB oracle
reproduces it exactly; 8 hex digits → a 32-bit value), then ``n_hashes``
affine variants ``h_j = (A_j·h + B_j) mod P`` with ``P`` the first prime
above 2³² and fixed ``A_j < 2³⁰`` so every product stays inside a signed
64-bit integer in both engines. This costs ONE md5 per (doc, shingle)
instead of ``n_hashes`` — the md5 is the expensive part.

Pipeline (all narrow ops + one partial-aggregated shuffle):
1. shingles: k-token windows of the normalized token stream;
2. explode to (doc_id, shingle), hash each shingle once;
3. signature: ``sig_j = min h_j`` via ``groupBy(doc_id)`` with 16 ``min``
   aggregates — map-side partial aggregation makes the shuffle 16 longs
   per (partition, doc);
4. banding: the signature is cut into ``n_bands`` bands of
   ``rows_per_band`` values; each band hashes to a bucket key;
5. candidate pairs: documents sharing any band bucket (self-join on the
   bucket key), deduped.

Scale notes: the only wide ops are the signature aggregation (partial
agg, tiny) and the band-bucket self-join; bucket keys are md5-uniform so
the join is skew-free unless true duplicate clusters exist — exactly the
rows we want colliding. Degenerate buckets ARE capped: a boilerplate-
heavy corpus (mirrored pages, templated text — the normal case at
100 TB) collapses thousands of documents into one band bucket and the
self-join inside it goes quadratic. ``capped_band_buckets`` DROPS any
(band, bucket) group larger than ``BUCKET_CAP`` members before the join,
bounding per-bucket work at cap² pairs. Semantics: members of an
oversized bucket are, by construction, near-identical en masse — the
candidates LSH exists to find are the *borderline* pairs, while mass-
identical text is the exact-dedup path's job (``exact_dedup_stats`` /
normalized-hash groups), so dropping the degenerate bucket loses nothing
exact dedup doesn't already catch (a genuinely-near-but-not-identical
pair inside a mega-cluster can still surface through its other
``n_bands - 1`` buckets). The cap is far above the observed corpus
maximum (≤4 members at sf0.1), so it only engages on adversarial input.
The input repartition exists only to parallelize small single-row-group
local files; a real 100 TB corpus arrives already split into many
parquet row groups and the repartition collapses into a no-op-sized
shuffle of (doc_id, text).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from ..caching import memo
from ..functions.text import tokens_col

N_HASHES = 16
N_BANDS = 4  # 4 rows per band → s-curve threshold ≈ (1/4)^(1/4) ≈ 0.71
SHINGLE_K = 3
BUCKET_CAP = 32  # drop (band, bucket) groups larger than this (see module doc)

# Modulus: first prime > 2^32. Multipliers stay < 2^30 so A·h < 2^62.
HASH_P = 4294967311


def hash_params(n_hashes: int = N_HASHES) -> list[tuple[int, int]]:
    """Deterministic (A_j, B_j) affine-hash parameters, generated by a
    fixed-constant LCG so the DuckDB oracle can embed identical values."""
    x = 0x5DEECE66D
    out: list[tuple[int, int]] = []
    for _ in range(n_hashes):
        x = (x * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        a = (x % ((1 << 30) - 1)) + 1
        x = (x * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        b = x % HASH_P
        out.append((a, b))
    return out


def _shingles(text: Column, k: int = SHINGLE_K) -> Column:
    """k-token shingles as strings; documents shorter than k tokens get a
    single whole-document shingle.

    Tokenize-once (r12): embedding ``tokens_col(text)`` directly in the
    per-window lambda re-ran the regex split once per window position —
    O(tokens²) regex work per document (the r10 winnowing hash-once bug
    class, found via a thread-stack sample of the sf10 shingle stage).
    Binding the token array as a single-element ``transform`` lambda
    variable forces ONE evaluation per row regardless of how the
    optimizer inlines projections; the windows then slice the bound
    array value."""

    def body(toks: Column) -> Column:
        n = F.size(toks)
        windows = F.when(
            n >= k,
            F.transform(
                F.sequence(F.lit(1), n - (k - 1)),
                lambda i: F.concat_ws(" ", F.slice(toks, i, k)),
            ),
        ).otherwise(F.array(F.concat_ws(" ", toks)))
        return F.array_distinct(windows)

    return F.transform(F.array(tokens_col(text)), body)[0]


def _base_hash(s: Column) -> Column:
    """32-bit base hash of a shingle: first 8 hex digits of md5."""
    return F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long")


def minhash_signatures(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = N_HASHES,
) -> DataFrame:
    """(id, sig_0 … sig_{n-1}) minhash signature per document."""
    exploded = docs.select(
        F.col(id_col), F.explode(_shingles(F.col(text_col))).alias("shingle")
    )
    return signatures_from_shingles(exploded, id_col=id_col, n_hashes=n_hashes)


def signatures_from_shingles(
    exploded: DataFrame,
    id_col: str = "doc_id",
    shingle_col: str = "shingle",
    n_hashes: int = N_HASHES,
) -> DataFrame:
    """Signatures from an already-exploded ``(id, shingle)`` relation —
    lets callers reuse the shared shingle table (``dedup/shingles.py``)."""
    hashed = exploded.select(id_col, _base_hash(F.col(shingle_col)).alias("__h"))
    aggs = [
        F.min((F.lit(a) * F.col("__h") + F.lit(b)) % F.lit(HASH_P)).alias(f"sig_{j}")
        for j, (a, b) in enumerate(hash_params(n_hashes))
    ]
    return hashed.groupBy(id_col).agg(*aggs)


def band_buckets(
    signatures: DataFrame,
    id_col: str = "doc_id",
    n_hashes: int = N_HASHES,
    n_bands: int = N_BANDS,
) -> DataFrame:
    """(id, band, bucket) — one row per band; bucket = md5 of the band's
    signature slice."""
    rows_per_band = n_hashes // n_bands
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(
                    F.concat_ws(
                        ",",
                        *[
                            F.col(f"sig_{b * rows_per_band + r}").cast("string")
                            for r in range(rows_per_band)
                        ],
                    )
                ).alias("bucket"),
            )
            for b in range(n_bands)
        ]
    )
    return (
        signatures.select(F.col(id_col), F.explode(bands).alias("bb"))
        .select(id_col, F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    )


def capped_band_buckets(
    buckets: DataFrame, cap: int = BUCKET_CAP
) -> DataFrame:
    """Drop every (band, bucket) group with more than ``cap`` members —
    the quadratic-blowup guard for duplicate-heavy corpora (module doc has
    the full semantics). The oversized-bucket list is degenerate-only and
    tiny, so the filter is a broadcast anti-join; the size count reuses
    the same (band, bucket) shuffle key as the candidate join and is
    map-side partially aggregated."""
    oversized = (
        buckets.groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > cap)
        .select("band", "bucket")
    )
    return buckets.join(
        F.broadcast(oversized), ["band", "bucket"], "left_anti"
    ).select(*buckets.columns)  # using-cols join reorders; keep caller layout


# Session-scoped capped-bucket table, same idiom as the shared shingle
# cache (dedup/shingles.py): the md5-hash + 16-min signature aggregation is
# the pipeline's expensive leg, and without materialization it executes
# once per self-join SIDE plus once for the oversized-bucket count
# (Catalyst does not reuse those exchanges — measured, not assumed). At
# 100 TB this is the signature/bucket table a dedup pipeline lands as a
# lake artifact next to the shingle table.
def cached_capped_buckets(
    spark: SparkSession,
    sf_dir: str,
    n_hashes: int = N_HASHES,
    n_bands: int = N_BANDS,
    bucket_cap: int = BUCKET_CAP,
) -> DataFrame:
    """Persisted (doc_id, band, bucket) with degenerate buckets dropped."""
    from .shingles import cached_doc_shingles  # local import: avoids cycle

    def build():
        shingles = cached_doc_shingles(spark, sf_dir)
        return capped_band_buckets(
            band_buckets(
                signatures_from_shingles(shingles, n_hashes=n_hashes),
                n_hashes=n_hashes,
                n_bands=n_bands,
            ),
            cap=bucket_cap,
        ).persist()

    key = ("capped_buckets", sf_dir.rstrip("/"), n_hashes, n_bands, bucket_cap)
    return memo(spark, key, build)


def minhash_lsh_pairs(
    spark: SparkSession,
    sf_dir: str,
    n_hashes: int = N_HASHES,
    n_bands: int = N_BANDS,
    bucket_cap: int = BUCKET_CAP,
) -> DataFrame:
    """Candidate near-duplicate pairs over ``documents``: ids sharing at
    least one LSH band bucket, with the number of colliding bands.
    Buckets larger than ``bucket_cap`` are dropped before the self-join
    (mirrored by the DuckDB oracle's QUALIFY filter).

    Lake path: the capped bucket table is landed bucketed by
    ``(band, bucket)`` (graphdb_td2_spark/lake.py), so the banded
    self-join reads it exchange-free."""
    from ..lake import lsh_buckets_bucketed

    buckets = lsh_buckets_bucketed(
        spark, sf_dir, n_hashes=n_hashes, n_bands=n_bands, bucket_cap=bucket_cap
    )
    a, b = buckets.alias("a"), buckets.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_id_a"),
            F.col("b.doc_id").alias("doc_id_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
    )


ACC_FP = 1_000_000  # fixed-point scale for the accuracy report


def minhash_accuracy_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-health audit of the MinHash estimator itself
    [extension]: per shared-band count, how close the signature-based
    Jaccard ESTIMATE (matching components / n_hashes) sits to the TRUE
    shingle Jaccard, over the LSH candidate pairs.

    This is the dedup twin of ``similarity/ann.py:ann_recall_report``:
    both estimator and ground truth are deterministic, so the error is an
    exact number, not a sample. All scores are 1e6 fixed point with
    truncating integer division (identical in both engines), so the
    DuckDB oracle hash-matches: ``est_fp = n_match·(ACC_FP/n_hashes)``
    exactly, ``true_fp = inter·ACC_FP div union``.

    Scale notes: candidate pairs (not the corpus) drive every join — the
    signature joins are |pairs| lookups against the doc-keyed signature
    table, and the intersection join fans out to at most
    Σ_pairs n_shingles(a) rows with (doc, shingle) equality pruning. The
    output is ≤ n_bands rows.  Reuses the session shingle cache; a real
    deployment runs this after every index rebuild to decide whether the
    band/row configuration still matches the corpus' similarity profile.
    """
    from .shingles import cached_doc_shingles

    assert ACC_FP % N_HASHES == 0
    pairs = minhash_lsh_pairs(spark, sf_dir)
    sh = cached_doc_shingles(spark, sf_dir)
    sigs = signatures_from_shingles(sh)

    sa = sigs.select(
        F.col("doc_id").alias("doc_id_a"),
        *[F.col(f"sig_{j}").alias(f"a_{j}") for j in range(N_HASHES)],
    )
    sb = sigs.select(
        F.col("doc_id").alias("doc_id_b"),
        *[F.col(f"sig_{j}").alias(f"b_{j}") for j in range(N_HASHES)],
    )
    n_match = None
    for j in range(N_HASHES):
        term = (F.col(f"a_{j}") == F.col(f"b_{j}")).cast("long")
        n_match = term if n_match is None else n_match + term
    est = (
        pairs.join(sa, "doc_id_a")
        .join(sb, "doc_id_b")
        .select(
            "doc_id_a",
            "doc_id_b",
            "n_shared_bands",
            (n_match * F.lit(ACC_FP // N_HASHES)).alias("est_fp"),
        )
    )

    sizes = sh.select("doc_id", "n_shingles").distinct()
    lhs = pairs.select("doc_id_a", "doc_id_b").join(
        sh.select(F.col("doc_id").alias("doc_id_a"), "shingle"), "doc_id_a"
    )
    inter = (
        lhs.join(
            sh.select(F.col("doc_id").alias("doc_id_b"), "shingle"),
            ["doc_id_b", "shingle"],
        )
        .groupBy("doc_id_a", "doc_id_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_inter"))
    )
    per_pair = (
        est.join(inter, ["doc_id_a", "doc_id_b"], "left")
        .join(sizes.select(F.col("doc_id").alias("doc_id_a"),
                           F.col("n_shingles").alias("na")), "doc_id_a")
        .join(sizes.select(F.col("doc_id").alias("doc_id_b"),
                           F.col("n_shingles").alias("nb")), "doc_id_b")
        .select(
            "n_shared_bands",
            "est_fp",
            F.expr(
                f"(coalesce(n_inter, cast(0 as bigint)) * {ACC_FP})"
                " div (na + nb - coalesce(n_inter, cast(0 as bigint)))"
            ).alias("true_fp"),
        )
    )
    return (
        per_pair.groupBy("n_shared_bands")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.expr("sum(est_fp) div count(*)").alias("mean_est_fp"),
            F.expr("sum(true_fp) div count(*)").alias("mean_true_fp"),
            F.expr("sum(abs(est_fp - true_fp)) div count(*)").alias(
                "mean_abs_err_fp"
            ),
            F.max(F.abs(F.col("est_fp") - F.col("true_fp"))).alias(
                "max_abs_err_fp"
            ),
        )
        .orderBy("n_shared_bands")
    )
