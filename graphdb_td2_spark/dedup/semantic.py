"""SemDeDup-style semantic deduplication: trained k-means cells + within-cell
cosine pruning (Abbas et al., "SemDeDup: Data-efficient learning at web-scale
through semantic deduplication", 2023 — public arXiv 2303.09540).

The production recipe for pruning semantically-redundant training data:
cluster the embedding space with k-means, then compare vectors ONLY within
their cluster and drop all but one member of every near-duplicate group.
This is the trained-cell sibling of
:func:`graphdb_td2_spark.dedup.embedding.embedding_neardup_pairs` (which
blocks on the corpus ``label`` column): here the blocking key is LEARNED, so
the operator works on corpora with no label column at all — the common case
for web-scale training data.

Spark-first shape (no reference counterpart — the reference has no vector
tier; its nearest analogue is the co-occurrence dedup in app/etl.py):

- clustering reuses :func:`graphdb_td2_spark.similarity.ann.train_ivf_centroids`
  — deterministic md5 order-statistics init + exact-integer Lloyd steps, so
  the DuckDB oracle can unroll it as chained CTEs and value-hash exactly;
- cell assignment is the shared broadcast-centroids argmax scan
  (:func:`graphdb_td2_spark.similarity.ann._assign_cells`) — corpus-sized
  shuffle-free map + one n-row partial-agg shuffle;
- the quadratic term is bounded per cell: the self-join shuffles on ``cell``
  and compares ~ (n/k)² pairs per cell instead of n² overall. At 100 TB,
  k scales with the corpus (FAISS-style √n cells) to keep cells bounded;
  degenerate cells would be capped the same way the LSH bucket join caps
  hot buckets (dedup/minhash.py BUCKET_CAP).
- keep-policy is deterministic: within a cell, a vector is dropped iff a
  LOWER-id vector sits within ``threshold`` cosine — one semi-join, no
  iterative union-find needed (the transitive-closure variant is
  dedup/clusters.py; SemDeDup's published policy is this one-pass prune).

Cosine uses the quantized-exact formulation
(:mod:`graphdb_td2_spark.functions.vectors`) so Spark and DuckDB agree
bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..io import read_table
from ..functions.vectors import cosine_from_norms, inv_norm_q, quantize_embedding
from ..similarity.ann import KMEANS_ITER, N_CELLS, _assign_cells, train_ivf_centroids

# Same near-dup bar as the label-blocked variant (dedup/embedding.py), so the
# two operators are directly comparable on the corpus.
SEM_THRESHOLD = 0.35

# Candidate-panel cap for the within-cell prune (r12, the EMB_BLOCK_CAP
# playbook): with n_cells FIXED, cell membership grows linearly with the
# corpus and the within-cell join emitted O(Σ cell²) comparisons —
# n²/n_cells, the closed-form quadratic (at sf10's 200k vectors that is
# ~2.5G cosines; at 100 TB it is unrunnable). The defined semantics now
# compare each vector only against the ``SEM_CELL_CAP`` LOWEST-id
# members of its cell (the a-side panel), so total comparisons are
# ≤ n·cap at ANY scale — linear by construction — while every vector
# remains drop-ELIGIBLE (only the witness panel is capped). Chosen > the
# largest cell at the oracle scales (max 270 at sf0.1), so sf0.01/sf0.1
# results are byte-identical to the uncapped prune
# (tests/test_semantic_dedup.py pins both the no-op and the boundary
# semantics); the DuckDB oracle applies the SAME cap (QUALIFY
# row_number ≤ cap); the round-12 dedup scale report (in git history)
# carries the measured capped sf10 point. The no-approximation scale path remains growing n_cells
# with the corpus (FAISS-style), which keeps panels ≡ cells.
SEM_CELL_CAP = 1000


def semantic_cells(
    spark: SparkSession,
    sf_dir: str,
    n_cells: int = N_CELLS,
    n_iter: int = KMEANS_ITER,
) -> DataFrame:
    """(vec_id, qe, cell): every embedding assigned to its trained k-means
    cell. Shared by the stats entry and tests."""
    emb = read_table(spark, sf_dir, "embeddings", ["vec_id", "embedding"])
    corpus = emb.select(
        "vec_id", quantize_embedding(F.col("embedding")).alias("qe")
    )
    centroids = train_ivf_centroids(
        spark, corpus, n_cells, n_iter, cache_key=sf_dir
    )
    return _assign_cells(corpus, centroids)


def semantic_dropped(
    assigned: DataFrame,
    threshold: float = SEM_THRESHOLD,
    cell_cap: int = SEM_CELL_CAP,
) -> DataFrame:
    """(cell, vec_id) of vectors dropped by the one-pass SemDeDup policy:
    vec b is dropped iff some a < b among the ``cell_cap`` lowest-id
    members of b's cell has cos(a, b) ≥ τ (the candidate panel; see
    ``SEM_CELL_CAP`` — a no-op at every oracle scale).

    A left-semi join keeps the output linear in the number of dropped
    vectors (the pair set itself is never materialized past the join);
    the panel head is the salted two-stage top-k, so no task ever sorts
    a whole cell; vector norms are precomputed per SIDE so the per-pair
    predicate evaluates one interpreted HOF (the dot), not three
    (``functions/vectors.py:inv_norm_q`` — the r12 sf10 wall was this
    join's predicate eval)."""
    from .embedding import capped_label_blocks

    panel = capped_label_blocks(
        assigned, cap=cell_cap, id_col="vec_id", block_col="cell"
    )
    a = panel.select(
        F.col("cell").alias("a_cell"),
        F.col("vec_id").alias("a_id"),
        F.col("qe").alias("a_qe"),
        inv_norm_q(F.col("qe")).alias("a_n"),
    )
    b = assigned.select(
        F.col("cell"),
        F.col("vec_id").alias("b_id"),
        F.col("qe").alias("b_qe"),
        inv_norm_q(F.col("qe")).alias("b_n"),
    )
    return (
        b.join(
            a,
            (F.col("a_cell") == F.col("cell"))
            & (F.col("a_id") < F.col("b_id"))
            & (
                cosine_from_norms(
                    F.col("a_qe"), F.col("b_qe"), F.col("a_n"), F.col("b_n")
                )
                >= F.lit(threshold)
            ),
            "left_semi",
        )
        .select(F.col("cell"), F.col("b_id").alias("vec_id"))
    )


def semantic_dedup_stats(
    spark: SparkSession,
    sf_dir: str,
    n_cells: int = N_CELLS,
    n_iter: int = KMEANS_ITER,
    threshold: float = SEM_THRESHOLD,
    cell_cap: int = SEM_CELL_CAP,
) -> DataFrame:
    """Registry entry: per-cell SemDeDup summary — cluster size, vectors
    dropped by the one-pass capped-panel prune, vectors kept.

    Columns: cell, n_vecs, n_dropped, n_kept (all BIGINT; exact).

    The assignment feeds THREE plan legs (panel side, b side, n_vecs
    aggregate); it is persisted for the single collect and released
    before returning — the k-means argmax scan ran 3x otherwise (r12),
    and eager materialization of the ≤ n_cells result rows means the
    returned frame pins nothing (the pq/ann discipline)."""
    assigned = semantic_cells(spark, sf_dir, n_cells, n_iter).persist()
    try:
        dropped = (
            semantic_dropped(assigned, threshold, cell_cap)
            .groupBy("cell")
            .agg(F.count(F.lit(1)).alias("n_dropped"))
        )
        out = (
            assigned.groupBy("cell")
            .agg(F.count(F.lit(1)).alias("n_vecs"))
            .join(dropped, "cell", "left")
            .select(
                F.col("cell").cast("long").alias("cell"),
                F.col("n_vecs").cast("long").alias("n_vecs"),
                F.coalesce(F.col("n_dropped"), F.lit(0))
                .cast("long")
                .alias("n_dropped"),
                (F.col("n_vecs") - F.coalesce(F.col("n_dropped"), F.lit(0)))
                .cast("long")
                .alias("n_kept"),
            )
            .orderBy("cell")
        )
        rows = out.collect()
    finally:
        assigned.unpersist()
    return spark.createDataFrame(rows, out.schema).orderBy("cell")
