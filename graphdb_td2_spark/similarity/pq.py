"""Product-quantization (PQ) ANN over the ``embeddings`` table — the
memory-compression counterpart of the IVF index in :mod:`.ann`.

PQ (Jégou et al., "Product Quantization for Nearest Neighbor Search",
TPAMI 2011) splits each d-dim vector into ``M`` subvectors and quantizes
each subspace independently against a tiny per-subspace codebook: a vector
is stored as ``M`` small code ids instead of ``d`` floats (here 64
components → 4 codes, the canonical ~64× compression that lets a 100 TB
embedding corpus live in cluster memory as codes). Search is **ADC**
(asymmetric distance computation): the query precomputes a ``M × k_sub``
lookup table of exact subspace distances to every codeword, and each
candidate's distance is just the sum of ``M`` table entries — no decode.

Engine mapping (all Catalyst built-ins, zero UDFs):

- **codebook**: the ``k_sub`` lowest-id vectors' subvectors per subspace —
  the same deterministic, training-free quantizer as ``ann_topk_ivf``'s
  coarse centroids, so the DuckDB oracle reproduces the index exactly (a
  production index plugs per-subspace k-means into the identical plan;
  ``train_ivf_centroids`` shows the trainer shape).
- **encode**: explode each vector into its ``M`` subvectors (narrow),
  broadcast-join the codebook per subspace, argmin exact-integer squared
  L2 via ``min_by`` — the groupBy gets map-side partial aggregation.
- **ADC search**: the code table joins the broadcast LUT on
  ``(m, code)``; per (query, vector) the distance is ``sum(dist)`` over
  the M subspaces — an exact BIGINT (quantized components → integer
  squared L2 → integer sum), so ranking is bit-stable across engines and
  partitionings, and the whole scoring pass is one map-side-combined
  aggregation over the compressed codes.

Scale notes: the codes relation is the index — n·M tiny ints, the only
thing the scoring pass scans (the raw vectors are never touched at query
time, which is the point of PQ). LUT is q·M·k_sub rows, broadcast. The
only shuffle is the (query_id, vec_id) partial-agg sum and the per-query
top-k window (q partitions).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..caching import memo
from ..io import read_table
from ..functions.vectors import cosine_similarity_q, quantize_embedding

M_SUBSPACES = 4
SUB_DIM = 16  # 64-dim corpus vectors → 4 × 16
K_SUB = 8  # codewords per subspace
DEFAULT_K = 5
DEFAULT_N_QUERIES = 5


def _subvectors(df: DataFrame, vec_col: str, id_cols: list[str]) -> DataFrame:
    """Explode ``vec_col`` (array<long>, dim M·SUB_DIM) into one row per
    subspace: ``(*id_cols, m, sub)`` — a narrow projection, no shuffle."""
    subs = F.array(
        *[
            F.struct(
                F.lit(m).cast("long").alias("m"),
                F.slice(F.col(vec_col), m * SUB_DIM + 1, SUB_DIM).alias("sub"),
            )
            for m in range(M_SUBSPACES)
        ]
    )
    return df.select(*id_cols, F.explode(subs).alias("s")).select(
        *id_cols, F.col("s.m").alias("m"), F.col("s.sub").alias("sub")
    )


def _sq_l2(a, b):
    """Exact integer squared L2 between two quantized subvectors."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def pq_codebook(corpus: DataFrame, k_sub: int = K_SUB) -> DataFrame:
    """``(m, code_id, sub)`` — per-subspace codebook from the ``k_sub``
    lowest-id vectors (deterministic id-quantizer; see module docstring)."""
    return _subvectors(
        corpus.filter(F.col("vec_id") < k_sub), "qe", ["vec_id"]
    ).select("m", F.col("vec_id").alias("code_id"), "sub")


def pq_encode(corpus: DataFrame, codebook: DataFrame) -> DataFrame:
    """``(vec_id, m, code)`` — the compressed index: per subspace, the
    codeword minimizing exact squared L2 (ties → lowest code_id)."""
    return (
        _subvectors(corpus, "qe", ["vec_id"])
        .join(F.broadcast(codebook.withColumnRenamed("sub", "cw")), "m")
        .select(
            "vec_id",
            "m",
            "code_id",
            _sq_l2(F.col("sub"), F.col("cw")).alias("dist"),
        )
        .groupBy("vec_id", "m")
        .agg(
            F.min_by("code_id", F.struct(F.col("dist"), F.col("code_id"))).alias(
                "code"
            )
        )
    )


def pq_adc_topk(
    spark: SparkSession,
    sf_dir: str,
    k: int = DEFAULT_K,
    n_queries: int = DEFAULT_N_QUERIES,
    k_sub: int = K_SUB,
) -> DataFrame:
    """Registry entry: PQ/ADC approximate top-k —
    ``(query_id, rank, vec_id, adc_dist)``, nearest first.

    ``adc_dist`` is the exact-integer ADC squared L2 (sum of M codeword
    distances), so smaller is closer and the ranking is deterministic
    (ties → lowest vec_id)."""
    corpus = _cached_corpus(spark, sf_dir)
    codebook = pq_codebook(corpus, k_sub)
    return _adc_rank(_adc_scored(corpus, codebook, n_queries), k)


def _adc_scored(
    corpus: DataFrame,
    codebook: DataFrame,
    n_queries: int,
    queries: DataFrame | None = None,
) -> DataFrame:
    """Per-(query, candidate) exact-integer ADC distance under any
    ``(m, code_id, sub)`` codebook — the scoring chain shared by the
    id-codebook entry and the trained-codebook report. ``queries``
    overrides the default lowest-id query set (fixture tests)."""
    codes = pq_encode(corpus, codebook)
    if queries is None:
        queries = corpus.filter(F.col("vec_id") < n_queries).select(
            F.col("vec_id").alias("query_id"), F.col("qe").alias("query_qe")
        )
    lut = (
        _subvectors(queries, "query_qe", ["query_id"])
        .join(F.broadcast(codebook.withColumnRenamed("sub", "cw")), "m")
        .select(
            "query_id",
            "m",
            F.col("code_id").alias("code"),
            _sq_l2(F.col("sub"), F.col("cw")).alias("dist"),
        )
    )
    return (
        codes.join(F.broadcast(lut), ["m", "code"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(F.sum("dist").cast("long").alias("adc_dist"))
    )


def _adc_rank(scored: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(F.asc("adc_dist"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "vec_id", "adc_dist")
        .orderBy("query_id", "rank")
    )


# Quantized corpus: at 100 TB the quantized vector table is a lake
# artifact materialized once, and every PQ consumer (ivfpq, refined,
# recall/gain reports) serves from it. One persisted corpus-sized frame
# per (session, sf_dir) — bounded, unlike a per-call persist that pins
# one copy per invocation, and amortized, unlike a per-call
# persist/unpersist that re-quantizes the corpus on every query
# (measured at +3.5 s/call on ann_topk_ivfpq alone).
def _cached_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build():
        emb = read_table(spark, sf_dir, "embeddings", ["vec_id", "embedding"])
        return emb.select(
            "vec_id", quantize_embedding(F.col("embedding")).alias("qe")
        ).persist()

    return memo(spark, ("quantized_corpus", sf_dir.rstrip("/")), build)


def _ivfpq_scored(
    spark: SparkSession,
    sf_dir: str,
    n_queries: int,
    k_sub: int,
) -> tuple[DataFrame, DataFrame]:
    """Shared IVF-PQ candidate chain: returns ``(scored, corpus)`` where
    ``scored`` is the per-(query, candidate) ADC distance over the probed
    cell and ``corpus`` the SESSION-CACHED quantized vectors (shared by
    every PQ consumer; see ``_cached_corpus`` — callers must NOT
    unpersist it)."""
    from .ann import N_CELLS, _assign_cells

    corpus = _cached_corpus(spark, sf_dir)
    centroids = corpus.filter(F.col("vec_id") < N_CELLS).select(
        F.col("vec_id").alias("cent_id"), F.col("qe").alias("cent_qe")
    )
    cells = _assign_cells(corpus, centroids).select("vec_id", "cell")

    codebook = pq_codebook(corpus, k_sub)
    codes = pq_encode(corpus, codebook).join(cells, "vec_id")

    queries = corpus.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("qe").alias("query_qe")
    )
    query_cells = queries.join(
        cells.withColumnRenamed("vec_id", "query_id"), "query_id"
    )
    lut = (
        _subvectors(query_cells, "query_qe", ["query_id", "cell"])
        .join(F.broadcast(codebook.withColumnRenamed("sub", "cw")), "m")
        .select(
            "query_id",
            "cell",
            "m",
            F.col("code_id").alias("code"),
            _sq_l2(F.col("sub"), F.col("cw")).alias("dist"),
        )
    )
    scored = (
        codes.join(F.broadcast(lut), ["cell", "m", "code"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(F.sum("dist").cast("long").alias("adc_dist"))
    )
    return scored, corpus


def ann_topk_ivfpq(
    spark: SparkSession,
    sf_dir: str,
    k: int = DEFAULT_K,
    n_queries: int = DEFAULT_N_QUERIES,
    k_sub: int = K_SUB,
) -> DataFrame:
    """Registry entry: IVF-PQ — the production ANN composition (Jégou et
    al. §V: inverted lists prune WHICH codes are scanned, PQ compresses
    WHAT is scanned). The coarse quantizer is ``ann_topk_ivf``'s
    deterministic id-centroid cell (nprobe = 1); within the probed cell,
    candidates are ranked by the same exact-integer ADC distance as
    ``pq_adc_topk``.

    Plan shape: the scoring join keys on ``(cell, m, code)`` with the
    broadcast per-cell LUT — each query touches only its own inverted
    list's codes, and the raw vectors are still never read at query
    time. At 100 TB the codes table is partitioned by ``cell``, so the
    probe prunes physical partitions AND scans ~1/64th the bytes of an
    uncompressed IVF list.

    Session lifetime (ADVICE r10): the result (k·|queries| rows, ≤ a few
    hundred) is materialized eagerly so the returned frame pins nothing;
    the corpus persist lives in the BOUNDED session cache
    (``_cached_corpus``) shared by every PQ consumer, not accumulated
    per call."""
    scored, _corpus = _ivfpq_scored(spark, sf_dir, n_queries, k_sub)
    rows = _adc_rank(scored, k).collect()
    return spark.createDataFrame(
        rows, "query_id long, rank long, vec_id long, adc_dist long"
    ).orderBy("query_id", "rank")


REFINE_R = 20  # ADC shortlist size the exact rerank touches per query


def ann_topk_ivfpq_refined(
    spark: SparkSession,
    sf_dir: str,
    k: int = DEFAULT_K,
    n_queries: int = DEFAULT_N_QUERIES,
    k_sub: int = K_SUB,
    refine_r: int = REFINE_R,
) -> DataFrame:
    """Registry entry: IVF-PQ with EXACT re-ranking — the full production
    two-stage serving pattern (Jégou et al. §VI "re-ranking with source
    coding"; every FAISS/ScaNN deployment ships this shape): the ADC
    shortlist of ``refine_r`` candidates from the probed cell is re-scored
    against the TRUE (quantized) vectors and the top-``k`` returned by
    exact cosine — ``(query_id, rank, vec_id, cosine)``.

    Why this matters at 100 TB: the expensive stage (code scan) still
    never reads raw vectors; the refine stage fetches exactly
    ``refine_r · |queries|`` full vectors BY ID — a point-lookup join a
    production store serves from the by-id bucketed vector table
    (`sources/sinks.py` bucketed writes), not a scan. Accuracy recovers
    most of the ADC compression loss for the price of R point reads —
    the recall gain is certified by ``pq_refine_gain_report``.

    Determinism: the shortlist is the exact-integer ADC ranking (ties →
    lowest vec_id); the rerank is the shared quantized-cosine expression
    (one IEEE double per pair, bit-identical in DuckDB); final ties →
    lowest vec_id.

    Session lifetime: eager materialization over the bounded session
    corpus cache, same rationale as ``ann_topk_ivfpq`` (ADVICE r10)."""
    scored, corpus = _ivfpq_scored(spark, sf_dir, n_queries, k_sub)
    shortlist = _adc_rank(scored, refine_r).select("query_id", "vec_id")
    queries = corpus.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("qe").alias("query_qe")
    )
    rescored = (
        shortlist.join(corpus, "vec_id")
        .join(F.broadcast(queries), "query_id")
        .select(
            "query_id",
            "vec_id",
            cosine_similarity_q(F.col("query_qe"), F.col("qe")).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("vec_id")
    )
    rows = (
        rescored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "vec_id", "cosine")
        .collect()
    )
    return spark.createDataFrame(
        rows, "query_id long, rank long, vec_id long, cosine double"
    ).orderBy("query_id", "rank")


def pq_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry: one row ``(n_queries, k, n_hits, recall)`` —
    recall@k of the IVF-PQ index against the brute-force ground truth:
    the quantization-loss accounting that closes the index-health family
    (IVF recall: ``similarity/ann.py:ann_recall_report``; MinHash:
    ``dedup/minhash.py:minhash_accuracy_report``). IVF-PQ loses recall
    two ways — cell pruning (shared with IVF) and ADC code compression —
    so this number against the IVF-only recall isolates what the 64x
    memory compression actually costs in accuracy.

    Both sides are deterministic engine top-k, so recall is an exact
    ratio (one division). Scale: reuses both existing plans; the
    comparison joins two k·|queries|-sized frames.
    """
    from .ann import ann_topk_bruteforce

    truth = ann_topk_bruteforce(spark, sf_dir).select(
        "query_id", F.col("vec_id").alias("t_vec")
    )
    approx = ann_topk_ivfpq(spark, sf_dir).select(
        "query_id", F.col("vec_id").alias("t_vec"), F.lit(1).alias("hit")
    )
    # ONE action (r13): the old 3 counts each re-executed the brute-force
    # truth chain; fold every count into a single aggregate.
    row = (
        truth.join(approx, ["query_id", "t_vec"], "left")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_truth"),
            F.countDistinct("query_id").cast("long").alias("nq"),
            F.coalesce(F.sum("hit"), F.lit(0)).cast("long").alias("n_hits"),
        )
        .first()
    )
    nq, n_truth, n_hits = row["nq"], row["n_truth"], row["n_hits"]
    k = n_truth // max(nq, 1)
    return spark.createDataFrame(
        # n_truth == 0 (empty embeddings table): NULL recall row, not
        # a ZeroDivisionError — degenerate input still returns one row.
        [(nq, k, n_hits,
          float(n_hits) / float(n_truth) if n_truth else None)],
        "n_queries long, k long, n_hits long, recall double",
    )


def pq_refine_gain_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry: one row ``(n_queries, k, n_hits_adc,
    n_hits_refined, recall_adc, recall_refined)`` — what the exact
    rerank stage BUYS: recall@k of plain IVF-PQ (ADC ranking) and of
    IVF-PQ+refine against the brute-force truth, side by side. The
    refined recall is bounded above by the cell probe's own recall
    (``ann_recall_report``): rerank fixes quantization error, not a
    wrong cell. Both sides are deterministic engine top-k, so the
    recalls are exact ratios."""
    from .ann import ann_topk_bruteforce

    truth = ann_topk_bruteforce(spark, sf_dir).select(
        "query_id", F.col("vec_id").alias("t_vec")
    )
    adc = ann_topk_ivfpq(spark, sf_dir).select(
        "query_id", F.col("vec_id").alias("t_vec"), F.lit(1).alias("a_hit")
    )
    refined = ann_topk_ivfpq_refined(spark, sf_dir).select(
        "query_id", F.col("vec_id").alias("t_vec"), F.lit(1).alias("r_hit")
    )
    # ONE action (r13): the old 4 counts each re-executed the brute-force
    # truth chain; both hit flags ride along as left joins.
    row = (
        truth.join(adc, ["query_id", "t_vec"], "left")
        .join(refined, ["query_id", "t_vec"], "left")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_truth"),
            F.countDistinct("query_id").cast("long").alias("nq"),
            F.coalesce(F.sum("a_hit"), F.lit(0)).cast("long").alias("n_adc"),
            F.coalesce(F.sum("r_hit"), F.lit(0)).cast("long").alias("n_ref"),
        )
        .first()
    )
    nq, n_truth = row["nq"], row["n_truth"]
    n_adc, n_ref = row["n_adc"], row["n_ref"]
    k = n_truth // max(nq, 1)
    return spark.createDataFrame(
        [(nq, k, n_adc, n_ref,
          float(n_adc) / float(n_truth) if n_truth else None,
          float(n_ref) / float(n_truth) if n_truth else None)],
        "n_queries long, k long, n_hits_adc long, n_hits_refined long,"
        " recall_adc double, recall_refined double",
    )


PQ_TRAIN_ITER = 2  # Lloyd steps per subspace (unrolled in the oracle)
_CODEBOOK_SCHEMA = "m long, code_id long, sub array<long>"


def train_pq_codebook(
    spark: SparkSession,
    corpus: DataFrame,
    k_sub: int = K_SUB,
    n_iter: int = PQ_TRAIN_ITER,
    cache_key: str | None = None,
) -> DataFrame:
    """Deterministic per-subspace k-means codebook ``(m, code_id, sub)``
    — the TRAINED drop-in for the id-codebook (``pq_codebook``), closing
    the gap the module docstring names: production PQ trains sub-space
    codebooks with k-means (Jégou et al. §II.C); the repo's coarse
    quantizer already has its trained twin (``train_ivf_centroids``).

    Determinism (no rand(), retry/speculation-safe — the
    ``train_ivf_centroids`` discipline applied per subspace):

    - init: the subvectors of the ``k_sub`` vectors with smallest
      ``md5(vec_id)`` (order-statistics sample; ``code_id`` = rank in
      that order, so ids are dense 0..k_sub-1 per subspace);
    - Lloyd step: assignment is ``pq_encode`` against the current
      codebook (exact-integer squared-L2 argmin, ties → lowest code_id);
      the update is an element-wise integer mean (exact BIGINT sum, then
      ``div`` — associative, order-independent); empty codes keep their
      previous codeword.

    Scale notes: assignment is the same broadcast-codebook scan as the
    serving path; the update shuffles (m, code, pos) partial sums —
    M·k_sub·SUB_DIM rows, independent of corpus size. The tiny codebook
    (M·k_sub rows) round-trips through the driver per iteration, which
    is the classic k-means topology and the lineage truncation that
    keeps iteration plans O(1).

    With ``cache_key`` the trained rows (driver-side, no pinned Spark
    resource) are memoized per corpus key, the corpus plan's
    ``semanticHash`` — which ties the entry to the actual corpus argument
    — and the knobs, as ``train_ivf_centroids`` does."""
    if cache_key is None:
        rows = _pq_codebook_rows(spark, corpus, k_sub, n_iter)
    else:
        key = (
            "pq_codebook", cache_key.rstrip("/"), corpus.semanticHash(), k_sub, n_iter
        )
        rows = memo(
            spark, key, lambda: _pq_codebook_rows(spark, corpus, k_sub, n_iter)
        )
    return spark.createDataFrame(rows, schema=_CODEBOOK_SCHEMA)


def _pq_codebook_rows(
    spark: SparkSession, corpus: DataFrame, k_sub: int, n_iter: int
) -> list:
    init = (
        _subvectors(
            corpus.withColumn("h", F.md5(F.col("vec_id").cast("string")))
            .orderBy("h", "vec_id")
            .limit(k_sub)
            .select("vec_id", "h", "qe"),
            "qe",
            ["vec_id", "h"],
        )
        .collect()
    )
    order = sorted({(r["h"], r["vec_id"]) for r in init})
    rank = {vid: i for i, (_, vid) in enumerate(order)}
    cw: dict[tuple[int, int], list[int]] = {
        (int(r["m"]), rank[r["vec_id"]]): list(r["sub"]) for r in init
    }
    for _ in range(n_iter):
        cb_df = spark.createDataFrame(
            [(m, c, v) for (m, c), v in sorted(cw.items())],
            schema=_CODEBOOK_SCHEMA,
        )
        assigned = pq_encode(corpus, cb_df)
        new_rows = (
            assigned.join(_subvectors(corpus, "qe", ["vec_id"]), ["vec_id", "m"])
            .select("m", "code", F.posexplode("sub").alias("pos", "v"))
            .groupBy("m", "code", "pos")
            .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
            .withColumn("mean", F.expr("s div n"))
            .groupBy("m", "code")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "mean"))),
                    lambda x: x["mean"],
                ).alias("sub")
            )
            .collect()
        )
        updated = {
            (int(r["m"]), int(r["code"])): list(r["sub"]) for r in new_rows
        }
        cw = {k_: updated.get(k_, v) for k_, v in cw.items()}
    return [(m, c, v) for (m, c), v in sorted(cw.items())]


def pq_trained_recall_report(
    spark: SparkSession,
    sf_dir: str,
    k: int = DEFAULT_K,
    n_queries: int = DEFAULT_N_QUERIES,
    k_sub: int = K_SUB,
    n_iter: int = PQ_TRAIN_ITER,
) -> DataFrame:
    """Registry entry: one row ``(n_queries, k, n_hits_id,
    n_hits_trained, recall_id, recall_trained, recall_delta)`` — what
    TRAINING the sub-space codebooks buys over the deterministic
    id-codebook, measured as recall@k of each full-scan ADC ranking
    against the brute-force ground truth (the ``pq_refine_gain_report``
    side-by-side pattern). ``recall_delta`` is trained − id.

    Both rankings are deterministic engine top-k over exact-integer ADC
    distances, and the trainer is exact-integer Lloyd with md5
    order-statistics init — so the DuckDB oracle unrolls the identical
    ``n_iter`` iterations and reproduces codebook, ranking, and recall
    bit-exactly. ``tests/test_pq_trained.py`` proves the quality claim
    where it is provable (clustered fixture); on the isotropic corpus
    the report documents the (possibly ~zero) delta honestly.

    Scale notes: training cost is the assignment scan × ``n_iter``; both
    scoring chains reuse the session-cached quantized corpus; the
    comparison joins three k·|queries|-sized frames."""
    from .ann import ann_topk_bruteforce

    corpus = _cached_corpus(spark, sf_dir)
    truth = ann_topk_bruteforce(spark, sf_dir).select(
        "query_id", F.col("vec_id").alias("t_vec")
    )
    id_topk = _adc_rank(
        _adc_scored(corpus, pq_codebook(corpus, k_sub), n_queries), k
    ).select("query_id", F.col("vec_id").alias("i_vec"))
    trained_cb = train_pq_codebook(
        spark, corpus, k_sub, n_iter, cache_key=sf_dir
    )
    tr_topk = _adc_rank(
        _adc_scored(corpus, trained_cb, n_queries), k
    ).select("query_id", F.col("vec_id").alias("r_vec"))

    # ONE action for the whole report (r13, guide §1 job-count
    # discipline): the old 4 separate counts each re-executed the
    # brute-force truth chain (queries × corpus cosines + window). Both
    # hit flags ride along as left joins and every count folds into a
    # single aggregate over one truth evaluation.
    id_f = id_topk.select(
        "query_id", F.col("i_vec").alias("t_vec"), F.lit(1).alias("id_hit")
    )
    tr_f = tr_topk.select(
        "query_id", F.col("r_vec").alias("t_vec"), F.lit(1).alias("tr_hit")
    )
    row = (
        truth.join(id_f, ["query_id", "t_vec"], "left")
        .join(tr_f, ["query_id", "t_vec"], "left")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_truth"),
            F.countDistinct("query_id").cast("long").alias("nq"),
            F.coalesce(F.sum("id_hit"), F.lit(0)).cast("long").alias("n_id"),
            F.coalesce(F.sum("tr_hit"), F.lit(0)).cast("long").alias("n_tr"),
        )
        .first()
    )
    nq, n_truth = row["nq"], row["n_truth"]
    n_id, n_tr = row["n_id"], row["n_tr"]
    k_eff = n_truth // max(nq, 1)
    r_id = float(n_id) / float(n_truth) if n_truth else None
    r_tr = float(n_tr) / float(n_truth) if n_truth else None
    return spark.createDataFrame(
        [(nq, k_eff, n_id, n_tr, r_id, r_tr,
          (r_tr - r_id) if n_truth else None)],
        "n_queries long, k long, n_hits_id long, n_hits_trained long,"
        " recall_id double, recall_trained double, recall_delta double",
    )
