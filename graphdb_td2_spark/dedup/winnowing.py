"""Winnowing fingerprints (the MOSS document-fingerprint selection)
[extension] — cross-source duplicated-passage detection.

MinHash (``dedup/minhash.py``) answers "are these two documents similar
as WHOLE bags of shingles?"; winnowing answers the finer question a
training-data pipeline asks at passage granularity: "do these corpora
share verbatim runs of text?" — with the published guarantee that any
shared run of at least w+k−1 tokens yields at least one shared selected
fingerprint (Schleimer/Wilkerson/Aiken's local algorithm), at an
expected density of 2/(w+1).

Selection rule: hash every ORDERED k-token shingle with the engine's
shared md5 base hash (bit-identical in DuckDB); over every w-length
window of that hash sequence keep the MINIMUM VALUE. Selecting by
value (not leftmost-position) makes the per-document fingerprint SET
well-defined without a positional tie rule, so the whole operator is
exact integers + set ops — no floats, no randomness.

Scale notes: per-document work is linear in tokens (one md5 per
shingle, array_min over w-slices); the cross-source comparison
aggregates (source, fp) DISTINCT pairs — corpus-sized, partial-agged —
then self-joins on the fingerprint VALUE, whose fan-out is bounded by
|sources| per fingerprint (≤ |sources|² pairs per fp). Output is
|sources|²-bounded. At 100 TB the (source, fp) relation is the thing a
dedup pipeline materializes once and reuses for pairwise containment.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.text import bind_once, tokens_col
from ..io import read_table

WINNOW_K = 5  # shingle length (tokens)
WINNOW_W = 4  # winnowing window (shingle hashes)
CONTAIN_SCALE = 1000  # containment in per-mille fixed point


def _shingle_hashes(text: F.Column, k: int = WINNOW_K) -> F.Column:
    """Ordered k-token shingle hashes of ``text`` — one md5 per shingle.
    The token array is bound once per row (``bind_once``): embedding the
    tokenize in the per-window lambda re-ran the regex split per window
    position, O(tokens²) per document (r12; the r10 hash-once fix caught
    the duplicated HASHING here but not the duplicated SPLIT)."""

    def body(toks: F.Column) -> F.Column:
        n = F.size(toks)
        return F.when(
            n >= k,
            F.transform(
                F.sequence(F.lit(1), n - (k - 1)),
                lambda i: F.concat_ws(" ", F.slice(toks, i, k)),
            ),
        ).otherwise(F.array(F.concat_ws(" ", toks)))

    return F.transform(
        bind_once(tokens_col(text), body),
        lambda s: F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long"),
    )


def winnowed_fp_rows(
    docs: DataFrame, key: str, k: int = WINNOW_K, w: int = WINNOW_W
) -> DataFrame:
    """Distinct ``(key, fp)`` winnowed fingerprints: min shingle-hash
    per w-window; short docs collapse to one whole-doc window.

    The hash array is materialized as its OWN projection before the
    window-min pass. Folding everything into one expression (the r9
    shape) inlined the hash-array subtree into every window lambda —
    Catalyst evaluates a higher-order function's captured subtrees per
    invocation, so every shingle was md5'd once per OVERLAPPING window
    (O(tokens·w) hashes per doc, the 221.6 s sf0.1 wall). Two projects
    survive optimization because CollapseProject refuses to inline a
    non-cheap alias referenced more than once — each shingle is hashed
    exactly once (measured A/B in the round-10 perf notes, in git history)."""
    hashed = docs.select(key, _shingle_hashes(F.col("text")).alias("hashes"))
    nh = F.size(F.col("hashes"))
    selected = F.when(
        nh >= w,
        F.transform(
            F.sequence(F.lit(1), nh - (w - 1)),
            lambda i: F.array_min(F.slice(F.col("hashes"), i, w)),
        ),
    ).otherwise(F.array(F.array_min(F.col("hashes"))))
    return (
        hashed.select(key, F.explode(F.array_distinct(selected)).alias("fp"))
        .distinct()
    )


def winnowed_duplicate_spans(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Registry entry: ``(source_a, source_b, n_shared_fp, n_fp_a,
    n_fp_b, containment_pm)`` — for every unordered source pair, how
    many distinct winnowed fingerprints the two corpora share, and the
    containment |A∩B| / min(|A|,|B|) in per-mille fixed point (floor).
    A high containment with a low MinHash similarity is the signature
    of a small corpus embedded verbatim inside a big one — exactly the
    case whole-document similarity misses. Ordered by (source_a,
    source_b)."""
    docs = read_table(spark, sf_dir, "documents", ["source", "text"])
    fps = winnowed_fp_rows(docs, "source")
    sizes = fps.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_fp")
    )
    a, b = fps.alias("a"), fps.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared_fp"))
    )
    return (
        shared.join(
            F.broadcast(
                sizes.select(
                    F.col("source").alias("source_a"),
                    F.col("n_fp").alias("n_fp_a"),
                )
            ),
            "source_a",
        )
        .join(
            F.broadcast(
                sizes.select(
                    F.col("source").alias("source_b"),
                    F.col("n_fp").alias("n_fp_b"),
                )
            ),
            "source_b",
        )
        .select(
            "source_a",
            "source_b",
            "n_shared_fp",
            "n_fp_a",
            "n_fp_b",
            F.expr(
                f"({CONTAIN_SCALE} * n_shared_fp)"
                " div least(n_fp_a, n_fp_b)"
            ).alias("containment_pm"),
        )
        .orderBy("source_a", "source_b")
    )
