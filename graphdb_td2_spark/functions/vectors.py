"""Vector functions over ``embeddings.embedding`` (``array<float>``, dim 64)
— built-in higher-order functions only (SURVEY.md §2.K: zero Python UDFs for
anything expressible with ``F.aggregate`` / ``F.zip_with``).

Cross-engine determinism: floating dot products are summation-order
dependent, so the oracle-gated operators run on *quantized* vectors —
components mapped to exact integers via ``floor(x * 10^6)`` — making dot and
norm exact 64-bit sums (order-independent); the final cosine is
``dot / (sqrt(n1) * sqrt(n2))``, two deterministic IEEE ops. Quantization
error is ~1e-6 relative — negligible for ranking, and the operator contract
documents it. A float-native variant is provided for production use.

Scale notes: quantization and per-pair cosine are narrow projections; the
expensive part is pair *generation*, owned by the callers
(:mod:`graphdb_td2_spark.similarity`, :mod:`graphdb_td2_spark.dedup`).
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

_Q = 1_000_000  # quantization scale: 6 fractional digits

#: Corpus embedding dimension (schemas.py CORPUS["embeddings"]).
EMB_DIM = 64


def quantize_embedding(emb: Column) -> Column:
    """array<float> → array<long> with exact ``floor(x * 1e6)`` components."""
    return F.transform(emb, lambda x: F.floor(x.cast("double") * F.lit(_Q)).cast("long"))


def _lsum(arr: Column) -> Column:
    return F.aggregate(arr, F.lit(0).cast("long"), lambda a, x: a + x)


def dot_q(a: Column, b: Column) -> Column:
    """Exact integer dot product of two quantized vectors."""
    return _lsum(F.zip_with(a, b, lambda x, y: x * y))


def sqnorm_q(a: Column) -> Column:
    return _lsum(F.transform(a, lambda x: x * x))


def inv_norm_q(a: Column) -> Column:
    """``sqrt(sqnorm)`` as a double — the per-VECTOR half of the cosine.

    Per-pair cosine evaluates three higher-order aggregates (dot + two
    norms), and HOF eval is interpreted (never whole-stage-codegen'd) —
    so on pair-quadratic paths the norms must be computed once per
    vector and carried as a column, leaving only the dot per pair
    (``cosine_from_norms``; an r12 A/B measured a 64-term GetArrayItem
    unroll SLOWER than the HOF, so fewer-evals, not codegen, is the
    lever). Bit-identity: sqrt and the final divide are single IEEE
    ops, so precomputing changes no bits."""
    return F.sqrt(sqnorm_q(a).cast("double"))


def cosine_from_norms(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """Cosine given the two precomputed ``inv_norm_q`` columns — exactly
    ``cosine_similarity_q``'s bits with 1/3 of its per-pair HOF work."""
    return dot_q(a, b).cast("double") / (na * nb)


def cosine_similarity_q(a: Column, b: Column) -> Column:
    """Deterministic quantized cosine: exact integer dot / product of two
    IEEE square roots."""
    return dot_q(a, b).cast("double") / (
        F.sqrt(sqnorm_q(a).cast("double")) * F.sqrt(sqnorm_q(b).cast("double"))
    )
