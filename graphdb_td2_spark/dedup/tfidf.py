"""Sparse TF-IDF near-duplicate pairs via an inverted-index join
[extension] — the SPARSE similarity plan, complementing the dense
embedding paths (``similarity/ann.py`` brute force / LSH / IVF) and the
shingle paths (MinHash / SimHash / n-gram Jaccard).

Why a separate plan matters at 100 TB: dense cosine must touch every
(query, candidate) pair; the inverted index only joins documents that
SHARE a term, so the work is Σ_t df(t)² over the pruned vocabulary —
the classic sparse-similarity self-join (term-partitioned, perfectly
shuffle-keyed). The two standard levers are both here: a df cap prunes
stop-like terms from the vector space (they dominate join fan-out and
carry no discriminative weight), and per-term partial dot products are
map-side combined before the per-pair sum.

Fan-out bound (round-10 fix): the df prune is
``df <= least(n_docs div DF_FRACTION_DEN, TFIDF_DF_CAP)``. The relative
term keeps stop-like words out of small corpora; the ABSOLUTE term is
what makes the plan 100 TB-safe — without it a term in just under
N/``DF_FRACTION_DEN`` documents emits ~(N/10)²/2 pairs from the
term-keyed self-join, quadratic in corpus size. With it, no surviving
term can emit more than ``TFIDF_DF_CAP²/2`` pairs, so total join output
is ≤ \\|surviving vocabulary\\| · ``TFIDF_DF_CAP²/2`` — linear in vocab,
constant per term, at any corpus size (the ``BUCKET_CAP`` discipline
from ``dedup/minhash.py``). A term dropped by the cap is stop-like by
definition (it appears in ≥ ``TFIDF_DF_CAP`` documents), exactly the
mass the idf weight was already driving toward zero.

Cross-engine exactness (the decimal-sufficient-statistics discipline):
- idf is LINEAR inverse document frequency in fixed point,
  ``idf_fp = (N·IDF_SCALE) div df`` — exact integers; an ``ln``-based
  idf would hang the contract on libm bit-parity across engines.
- tf saturates at ``TF_CAP`` (sublinear-ish, deterministic).
- dot products and squared norms accumulate in DECIMAL(38,0) — exact
  and order-independent in both engines regardless of magnitude (the
  ADVICE-r8 remedy applied from the start instead of documenting an
  int64 headroom bound).
- cosine is the shared one-shape double expression over the exact
  statistics; ranking ties break on (doc_a, doc_b).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..functions.text import tokens_col
from ..io import read_table

IDF_SCALE = 16  # idf fixed-point scale
TF_CAP = 255  # saturating term frequency
DF_FRACTION_DEN = 10  # terms in more than N/10 docs leave the vector space
TFIDF_DF_CAP = 2000  # ABSOLUTE df ceiling: per-term self-join fan-out
# is bounded at TFIDF_DF_CAP²/2 pairs at any corpus size. Chosen above
# n_docs/10 at the contract scales (sf0.01: 50, sf0.1: 500) so the
# relative term binds there and the oracle hashes are unchanged, and
# below n_docs/10 from ~20k documents up, where it takes over.
TFIDF_TOPK = 30


def tfidf_weights(docs: DataFrame, df_cap: int = TFIDF_DF_CAP) -> DataFrame:
    """``(doc_id, w, wt)`` under the df-capped vocabulary — the sparse
    document vectors. Exposed so the sf1 cap A/B (``tools/tfidf_cap_ab.py``
    in git history) and adversarial fixtures can measure join fan-out on
    the shipped plan rather than a re-implementation."""
    n_docs = docs.select(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    tf = (
        docs.select("doc_id", F.explode(tokens_col(F.col("text"))).alias("w"))
        .groupBy("doc_id", "w")
        .agg(
            F.least(F.count(F.lit(1)), F.lit(TF_CAP))
            .cast("long")
            .alias("tf")
        )
    )
    df_counts = tf.groupBy("w").agg(
        F.count(F.lit(1)).cast("long").alias("df")
    )
    weights = (
        tf.join(df_counts, "w")
        .crossJoin(F.broadcast(n_docs))
        .filter(
            F.col("df")
            <= F.least(
                F.expr(f"n_docs div {DF_FRACTION_DEN}"), F.lit(df_cap)
            )
        )
        .select(
            "doc_id",
            "w",
            F.expr(f"tf * ((n_docs * {IDF_SCALE}) div df)")
            .cast("decimal(19,0)")
            .alias("wt"),
        )
    )
    return weights


def _dots_from_weights(weights: DataFrame) -> DataFrame:
    a, b = weights.alias("a"), weights.alias("b")
    return (
        a.join(
            b,
            (F.col("a.w") == F.col("b.w"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(
            F.sum(F.col("a.wt") * F.col("b.wt")).alias("dot"),
            F.count(F.lit(1)).cast("long").alias("n_shared_terms"),
        )
    )


def tfidf_pairs(docs: DataFrame, k: int = TFIDF_TOPK, df_cap: int = TFIDF_DF_CAP) -> DataFrame:
    """Core plan over a ``(doc_id, text)`` frame — see module doc for the
    ``least(n_docs div 10, df_cap)`` vocabulary prune and its fan-out
    bound. Exposed separately so adversarial fixtures can exercise a
    small ``df_cap`` (the ``tests/test_lsh_cap.py`` pattern)."""
    weights = tfidf_weights(docs, df_cap=df_cap)
    norms = weights.groupBy("doc_id").agg(
        F.sum(F.col("wt") * F.col("wt")).alias("norm2")
    )
    dots = _dots_from_weights(weights)
    scored = (
        dots.join(
            norms.select(
                F.col("doc_id").alias("doc_a"), F.col("norm2").alias("na")
            ),
            "doc_a",
        )
        .join(
            norms.select(
                F.col("doc_id").alias("doc_b"), F.col("norm2").alias("nb")
            ),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            "n_shared_terms",
            (
                F.col("dot").cast("double")
                / (
                    F.sqrt(F.col("na").cast("double"))
                    * F.sqrt(F.col("nb").cast("double"))
                )
            ).alias("cosine"),
        )
    )
    w = Window.orderBy(F.desc("cosine"), F.asc("doc_a"), F.asc("doc_b"))
    return (
        scored.orderBy(F.desc("cosine"), F.asc("doc_a"), F.asc("doc_b"))
        .limit(k)
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .select("rank", "doc_a", "doc_b", "n_shared_terms", "cosine")
        .orderBy("rank")
    )


def tfidf_neardup_pairs(
    spark: SparkSession, sf_dir: str, k: int = TFIDF_TOPK
) -> DataFrame:
    """Registry entry: ``(rank, doc_a, doc_b, n_shared_terms, cosine)``
    — the ``k`` most TF-IDF-cosine-similar document pairs under the
    df-capped vocabulary (ties → (doc_a, doc_b) ascending). Ordered by
    rank."""
    docs = read_table(spark, sf_dir, "documents", ["doc_id", "text"])
    return tfidf_pairs(docs, k=k)
