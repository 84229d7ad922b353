"""Approximate-nearest-neighbor search over the ``embeddings`` table.

Two strategies (the baseline/scale pair SURVEY.md §7 Stage 5 calls for):

- **Brute force**: broadcast the (small) query set against every vector,
  quantized-exact cosine, per-query top-k via row_number — exact recall,
  O(n·q·d), the correctness baseline and perfectly scalable when the query
  set is broadcast-able.
- **Sign-LSH bucketed**: every vector hashes to a bucket from the signs of
  ``n_planes`` fixed coordinate projections (a deterministic, engine-
  portable stand-in for random hyperplanes; an IVF cell id plays the same
  role with trained centroids). Queries probe only their own bucket →
  candidate set shrinks ~2^n_planes ×, recall < 1 by design.

Scale notes: brute force is a broadcast nested loop over a narrow
projection — embarrassingly parallel, no shuffle; top-k is a window over
query_id (q partitions). The LSH variant turns the scan into a bucket-
equi-join; bucket skew is data-dependent and AQE-split.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql import Window

from ..caching import memo
from ..io import read_table
from ..functions.vectors import cosine_similarity_q, quantize_embedding

DEFAULT_K = 5
DEFAULT_N_QUERIES = 5
N_PLANES = 4


def sign_lsh_bucket(qe: Column, n_planes: int = N_PLANES) -> Column:
    """Bucket id from the sign bits of the first ``n_planes`` components
    (deterministic hyperplane surrogate; exact integer math)."""
    bucket = F.lit(0)
    for i in range(n_planes):
        bucket = bucket + F.when(F.element_at(qe, i + 1) > 0, F.lit(1 << i)).otherwise(
            F.lit(0)
        )
    return bucket.cast("long")


def _queries_and_corpus(
    spark: SparkSession, sf_dir: str, n_queries: int
) -> tuple[DataFrame, DataFrame]:
    emb = read_table(spark, sf_dir, "embeddings", ["vec_id", "embedding"])
    q = emb.select("vec_id", quantize_embedding(F.col("embedding")).alias("qe"))
    queries = q.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("qe").alias("query_qe")
    )
    return queries, q


def _topk(scored: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "vec_id", "cosine")
        .orderBy("query_id", "rank")
    )


def ann_topk_bruteforce(
    spark: SparkSession,
    sf_dir: str,
    k: int = DEFAULT_K,
    n_queries: int = DEFAULT_N_QUERIES,
) -> DataFrame:
    """Exact cosine top-k: broadcast query set × full corpus scan."""
    queries, corpus = _queries_and_corpus(spark, sf_dir, n_queries)
    scored = (
        corpus.crossJoin(F.broadcast(queries))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            cosine_similarity_q(F.col("query_qe"), F.col("qe")).alias("cosine"),
        )
    )
    return _topk(scored, k)


def ann_topk_lsh(
    spark: SparkSession,
    sf_dir: str,
    k: int = DEFAULT_K,
    n_queries: int = DEFAULT_N_QUERIES,
    n_planes: int = N_PLANES,
) -> DataFrame:
    """Bucketed approximate top-k: compare only within the query's sign-LSH
    bucket."""
    queries, corpus = _queries_and_corpus(spark, sf_dir, n_queries)
    corpus_b = corpus.withColumn("bucket", sign_lsh_bucket(F.col("qe"), n_planes))
    queries_b = queries.withColumn("bucket", sign_lsh_bucket(F.col("query_qe"), n_planes))
    scored = (
        corpus_b.join(F.broadcast(queries_b), "bucket")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            cosine_similarity_q(F.col("query_qe"), F.col("qe")).alias("cosine"),
        )
    )
    return _topk(scored, k)


N_CELLS = 8


def _assign_cells(corpus: DataFrame, centroids: DataFrame) -> DataFrame:
    """Argmax-cosine cell per vector via ``max_by`` over a (cosine,
    -cent_id) order (ties → lowest centroid id). The groupBy gets map-side
    partial aggregation, so the shuffle carries n rows — a row_number
    window over the same cross join would shuffle n·n_cells."""
    return (
        corpus.crossJoin(F.broadcast(centroids))
        .select(
            "vec_id",
            "qe",
            "cent_id",
            cosine_similarity_q(F.col("cent_qe"), F.col("qe")).alias("cent_cos"),
        )
        .groupBy("vec_id")
        .agg(
            F.first("qe").alias("qe"),
            F.max_by(
                "cent_id", F.struct(F.col("cent_cos"), -F.col("cent_id"))
            ).alias("cell"),
        )
        .select("vec_id", "qe", "cell")
    )


def _probe_topk(
    assigned: DataFrame,
    queries: DataFrame,
    k: int,
    centroids: DataFrame | None = None,
    nprobe: int = 1,
) -> DataFrame:
    """Cell-equi-join search over an assigned corpus.

    With ``centroids``/``nprobe`` the query probes its ``nprobe``
    NEAREST cells (closest-centroid order, ties → lowest cent_id) —
    standard IVF multiprobe: recall climbs toward brute force while each
    query still touches ~nprobe/n_cells of the corpus. Without, the query
    probes only the cell it was itself assigned to (nprobe = 1; the two
    are identical for nprobe = 1 since assignment IS the top-1 centroid).
    Each corpus vector lives in exactly one cell and (query, cell) probes
    are distinct, so no candidate dedup is needed."""
    if centroids is None:
        query_cells = assigned.join(
            queries.select(F.col("query_id").alias("vec_id"), "query_qe"),
            "vec_id",
        ).select(F.col("vec_id").alias("query_id"), "query_qe", "cell")
    else:
        w = Window.partitionBy("query_id").orderBy(
            F.desc("cent_cos"), F.asc("cent_id")
        )
        query_cells = (
            queries.crossJoin(F.broadcast(centroids))
            .withColumn(
                "cent_cos",
                cosine_similarity_q(F.col("cent_qe"), F.col("query_qe")),
            )
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= nprobe)
            .select("query_id", "query_qe", F.col("cent_id").alias("cell"))
        )
    scored = (
        assigned.join(F.broadcast(query_cells), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            cosine_similarity_q(F.col("query_qe"), F.col("qe")).alias("cosine"),
        )
    )
    return _topk(scored, k)


def ann_topk_ivf(
    spark: SparkSession,
    sf_dir: str,
    k: int = DEFAULT_K,
    n_queries: int = DEFAULT_N_QUERIES,
    n_cells: int = N_CELLS,
) -> DataFrame:
    """IVF-style approximate top-k: a coarse quantizer partitions the corpus
    into ``n_cells`` inverted lists; each query probes only its own cell
    (nprobe = 1).

    Centroids here are the ``n_cells`` lowest-id vectors — a deterministic,
    training-free coarse quantizer so the DuckDB oracle is exact; a
    production index plugs k-means centroids into the same plan (the
    assignment/probe/search shape is identical, training is offline).

    Scale notes: assignment is a broadcast of n_cells centroids against a
    corpus scan (argmax over n_cells cosines per row, narrow); search is a
    cell-equi-join — each query touches ~1/n_cells of the corpus. Inverted
    lists are just a partitioning of the vector table; at 100 TB the cell id
    becomes the physical partition key so a probe prunes the scan itself.
    """
    queries, corpus = _queries_and_corpus(spark, sf_dir, n_queries)
    centroids = corpus.filter(F.col("vec_id") < n_cells).select(
        F.col("vec_id").alias("cent_id"), F.col("qe").alias("cent_qe")
    )
    return _probe_topk(_assign_cells(corpus, centroids), queries, k)


# --- trained coarse quantizer (deterministic Lloyd k-means) ------------------

KMEANS_ITER = 4
_CENTROID_SCHEMA = "cent_id long, cent_qe array<long>"


def train_ivf_centroids(
    spark: SparkSession,
    corpus: DataFrame,
    n_cells: int = N_CELLS,
    n_iter: int = KMEANS_ITER,
    cache_key: str | None = None,
) -> DataFrame:
    """Deterministic sampled k-means over quantized embeddings →
    ``(cent_id, cent_qe)`` — the trained drop-in for the id-quantizer in
    ``ann_topk_ivf`` (round-1 VERDICT item 5).

    Determinism (no rand(), retry/speculation-safe):
    - init: the ``n_cells`` vectors with smallest ``md5(vec_id)`` — an
      order-statistics sample, uniform over the corpus but reproducible;
    - Lloyd step: cell assignment is the shared exact-integer argmax plan
      (``_assign_cells``); the centroid update is an element-wise integer
      mean (exact sum, then ``div`` — associative, order-independent).

    Scale notes: assignment is the same broadcast-centroids corpus scan as
    the serving path; the update shuffles (cell, pos) partial sums —
    n_cells·dim rows, independent of corpus size. Centroids (n_cells·dim
    longs) round-trip through the driver each iteration, which is both the
    classic k-means topology (MLlib does the same) and the lineage
    truncation that keeps iteration plans O(1).

    Centroids are a deterministic function of the corpus and the knobs,
    so with ``cache_key`` the trained rows (n_cells x dim longs,
    driver-side, no pinned Spark resource) are memoized instead of
    re-running n_iter corpus scans per call.
    """
    if cache_key is None:
        rows = _ivf_centroid_rows(spark, corpus, n_cells, n_iter)
    else:
        # cache_key names the quantized corpus of one sf_dir; the plan's
        # semanticHash ties the entry to the ACTUAL corpus argument, so a
        # non-canonical corpus (filtered, fixture, re-quantized) can never
        # be served centroids trained on a different frame
        key = (
            "ivf_centroids",
            cache_key.rstrip("/"),
            corpus.semanticHash(),
            n_cells,
            n_iter,
        )
        rows = memo(
            spark, key, lambda: _ivf_centroid_rows(spark, corpus, n_cells, n_iter)
        )
    return spark.createDataFrame(rows, schema=_CENTROID_SCHEMA)


def _ivf_centroid_rows(
    spark: SparkSession, corpus: DataFrame, n_cells: int, n_iter: int
) -> list:
    dim_row = corpus.select(F.size("qe").alias("d")).first()
    dim = int(dim_row["d"])
    centroids = (
        corpus.withColumn("h", F.md5(F.col("vec_id").cast("string")))
        .orderBy("h", "vec_id")
        .limit(n_cells)
        .select("vec_id", "qe")
    )
    cent_rows = {
        i: list(r["qe"]) for i, r in enumerate(centroids.collect())
    }
    for _ in range(n_iter):
        cent_df = spark.createDataFrame(
            [(i, v) for i, v in sorted(cent_rows.items())], schema=_CENTROID_SCHEMA
        )
        assigned = _assign_cells(corpus, cent_df)
        # element-wise integer mean per cell: exact long sums via
        # posexplode → (cell, pos) partial agg, reassembled in pos order
        new_rows = (
            assigned.select("cell", F.posexplode("qe").alias("pos", "v"))
            .groupBy("cell", "pos")
            .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
            .withColumn("m", F.expr("s div n"))
            .groupBy("cell")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))),
                    lambda x: x["m"],
                ).alias("cent_qe")
            )
            .collect()
        )
        updated = {int(r["cell"]): list(r["cent_qe"]) for r in new_rows}
        for r in updated.values():
            assert len(r) == dim
        # empty cells keep their previous centroid
        cent_rows = {i: updated.get(i, v) for i, v in cent_rows.items()}
    return [(i, v) for i, v in sorted(cent_rows.items())]


NPROBE = 2


def ann_topk_ivf_trained(
    spark: SparkSession,
    sf_dir: str,
    k: int = DEFAULT_K,
    n_queries: int = DEFAULT_N_QUERIES,
    n_cells: int = N_CELLS,
    n_iter: int = KMEANS_ITER,
    nprobe: int = NPROBE,
) -> DataFrame:
    """Registry entry: IVF top-k with k-means-TRAINED centroids and
    MULTIPROBE (each query searches its ``nprobe`` nearest cells) behind
    the identical assignment/probe plan as ``ann_topk_ivf``. Training is
    fully deterministic (md5 order-statistics init + exact-integer Lloyd
    steps), so the DuckDB oracle unrolls the same ``n_iter`` iterations
    and reproduces the index — and therefore the search result —
    bit-exactly.

    ``tests/test_ann_trained.py`` proves the recall claim where it is
    provable: on a clustered fixture the trained quantizer beats the
    id-quantizer by a wide margin, while on the corpus — whose embeddings
    are isotropic (measured intra-label avg cosine ~ inter-label ~ 0, so
    there is no structure for ANY quantizer to exploit) — it is held to
    the above-random-cell-baseline bar; multiprobe recall is additionally
    pinned ≥ single-probe on the clustered fixture."""
    queries, corpus = _queries_and_corpus(spark, sf_dir, n_queries)
    corpus = corpus.persist()
    centroids = train_ivf_centroids(
        spark, corpus, n_cells, n_iter, cache_key=sf_dir
    )
    return _probe_topk(
        _assign_cells(corpus, centroids),
        queries,
        k,
        centroids=centroids,
        nprobe=nprobe,
    )


def ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry: one row ``(n_queries, k, n_hits, recall)`` —
    recall@k of the IVF index against the brute-force ground truth over
    the same query set: the accuracy-vs-cost accounting every ANN
    deployment publishes next to its latency numbers. Both sides are
    the engine's own deterministic top-k, so recall is an exact integer
    ratio (one division).

    Scale notes: reuses both existing plans; the comparison is a
    (query, vec) equi-join of two k·|queries|-sized frames.
    """
    truth = ann_topk_bruteforce(spark, sf_dir).select(
        "query_id", F.col("vec_id").alias("t_vec")
    )
    approx = ann_topk_ivf(spark, sf_dir).select(
        "query_id", F.col("vec_id").alias("t_vec"), F.lit(1).alias("hit")
    )
    # ONE action (r13): the old 3 counts each re-executed the brute-force
    # truth chain; the hit flag rides along as a left join and every
    # count folds into a single aggregate over one truth evaluation.
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


def ivf_cell_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry: ``(cell, n_vecs, share)`` — inverted-list size
    balance of the IVF coarse quantizer (the quantizer-health report: a
    hot cell means probe cost concentrates and recall degrades for its
    residents). Ordered by cell.

    Exactness: assignment is the engine's deterministic quantized-cosine
    argmax (same CTE the ANN oracle unrolls); share is one integer
    division. Scale: the assignment scan is the index build itself; the
    rollup is |cells|-bounded.
    """
    queries, corpus = _queries_and_corpus(spark, sf_dir, DEFAULT_N_QUERIES)
    centroids = corpus.filter(F.col("vec_id") < N_CELLS).select(
        F.col("vec_id").alias("cent_id"), F.col("qe").alias("cent_qe")
    )
    assigned = _assign_cells(corpus, centroids)
    counts = assigned.groupBy("cell").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs")
    )
    total = counts.agg(F.sum("n_vecs").cast("long").alias("t"))
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            "cell",
            "n_vecs",
            (F.col("n_vecs").cast("double") / F.col("t").cast("double")).alias(
                "share"
            ),
        )
        .orderBy("cell")
    )


KNN_K = 5
KNN_N_EVAL = 200  # leave-one-out eval sample: the vec_id < 200 prefix


def knn_loo_label_accuracy(
    spark: SparkSession,
    sf_dir: str,
    k: int = KNN_K,
    n_eval: int = KNN_N_EVAL,
) -> DataFrame:
    """Registry entry: ``(label, n_examples, n_correct_1nn,
    n_correct_knn, acc_1nn, acc_knn)`` — leave-one-out k-NN label
    classification over the embedding corpus: for each eval vector
    (the deterministic ``vec_id < n_eval`` prefix), rank every OTHER
    vector by quantized cosine (ties → lowest vec_id), predict with the
    single nearest neighbor's label (1-NN) and with the majority label
    of the top ``k`` (ties → smallest label), and score both against
    the true label, per label class. The standard embedding-quality
    probe: if labels aren't recoverable from neighborhoods, the vectors
    won't power dedup/search either. Ordered by label.

    No reference counterpart [extension]; the classification twin of
    ``ann_recall_report`` (retrieval) and ``label_centroid_distances``
    (geometry).

    Shape: the eval prefix is BROADCAST against one narrow corpus scan —
    O(corpus · n_eval · dim) multiply-adds, no shuffle on the corpus
    side (the production posture: the eval set is a bounded sample, the
    corpus is the big side); then two windows over query_id (n_eval
    partitions) and one |labels|-bounded hash agg. Cosine is the shared
    quantized-exact form; accuracies are single IEEE divisions of exact
    longs.
    """
    emb = read_table(spark, sf_dir, "embeddings", ["vec_id", "embedding", "label"])
    q = emb.select(
        "vec_id",
        quantize_embedding(F.col("embedding")).alias("qe"),
        F.col("label").cast("long").alias("label"),
    )
    evals = q.filter(F.col("vec_id") < n_eval).select(
        F.col("vec_id").alias("query_id"),
        F.col("qe").alias("query_qe"),
        F.col("label").alias("true_label"),
    )
    scored = (
        q.crossJoin(F.broadcast(evals))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "true_label",
            F.col("label").alias("neigh_label"),
            "vec_id",
            cosine_similarity_q(F.col("query_qe"), F.col("qe")).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    top = scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )
    pred1 = top.filter(F.col("rank") == 1).select(
        "query_id", "true_label", F.col("neigh_label").alias("pred_1nn")
    )
    vote_rank = Window.partitionBy("query_id").orderBy(
        F.desc("votes"), F.asc("neigh_label")
    )
    predk = (
        top.groupBy("query_id", "neigh_label")
        .agg(F.count(F.lit(1)).cast("long").alias("votes"))
        .withColumn("vr", F.row_number().over(vote_rank))
        .filter(F.col("vr") == 1)
        .select("query_id", F.col("neigh_label").alias("pred_knn"))
    )
    per_query = pred1.join(predk, "query_id")
    return (
        per_query.groupBy(F.col("true_label").alias("label"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_examples"),
            F.sum((F.col("pred_1nn") == F.col("true_label")).cast("long"))
            .cast("long")
            .alias("n_correct_1nn"),
            F.sum((F.col("pred_knn") == F.col("true_label")).cast("long"))
            .cast("long")
            .alias("n_correct_knn"),
        )
        .select(
            "label",
            "n_examples",
            "n_correct_1nn",
            "n_correct_knn",
            (F.col("n_correct_1nn").cast("double") / F.col("n_examples")).alias(
                "acc_1nn"
            ),
            (F.col("n_correct_knn").cast("double") / F.col("n_examples")).alias(
                "acc_knn"
            ),
        )
        .orderBy("label")
    )


PROBE_CURVE = (1, 2, 4)


def ann_nprobe_tradeoff_report(
    spark: SparkSession,
    sf_dir: str,
    k: int = DEFAULT_K,
    n_queries: int = DEFAULT_N_QUERIES,
    n_cells: int = N_CELLS,
    probes: tuple[int, ...] = PROBE_CURVE,
) -> DataFrame:
    """Registry entry: ``(nprobe, n_candidates, n_hits, recall)`` — the
    IVF nprobe tuning curve (the accuracy-vs-cost knob every IVF
    deployment publishes: FAISS's nprobe sweep). For each ``nprobe`` in
    ``probes``, the number of candidate vectors the probe scans and the
    recall@k of its top-k against the brute-force ground truth, over the
    same deterministic id-centroid quantizer as ``ann_topk_ivf`` so the
    DuckDB oracle reproduces the index exactly.

    One pass builds everything: the query→centroid ranking is computed
    once to ``max(probes)`` and each curve point filters
    ``cent_rank <= nprobe`` — the nprobe=p candidate set is by
    construction a superset of p'<p, so recall is monotone in nprobe and
    the report certifies it. Candidate counts exclude the query itself,
    matching the search path.

    Session lifetime: the candidate frame is persisted for the |probes|
    passes and unpersisted before returning; the result is |probes| rows,
    materialized eagerly (the ``ann_topk_ivfpq`` discipline).

    Scale notes: candidates ≈ |queries|·(nprobe/n_cells)·|corpus| — the
    whole report costs about one ``nprobe = Σprobes`` search, not
    |probes| separate index scans.
    """
    queries, corpus = _queries_and_corpus(spark, sf_dir, n_queries)
    centroids = corpus.filter(F.col("vec_id") < n_cells).select(
        F.col("vec_id").alias("cent_id"), F.col("qe").alias("cent_qe")
    )
    assigned = _assign_cells(corpus, centroids)
    max_probe = max(probes)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cent_cos"), F.asc("cent_id")
    )
    qcells = (
        queries.crossJoin(F.broadcast(centroids))
        .withColumn(
            "cent_cos",
            cosine_similarity_q(F.col("cent_qe"), F.col("query_qe")),
        )
        .withColumn("cent_rank", F.row_number().over(w))
        .filter(F.col("cent_rank") <= max_probe)
        .select("query_id", "query_qe", F.col("cent_id").alias("cell"), "cent_rank")
    )
    cand = (
        assigned.join(F.broadcast(qcells), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            "cent_rank",
            cosine_similarity_q(F.col("query_qe"), F.col("qe")).alias("cosine"),
        )
        .persist()
    )
    try:
        # persisted: n_truth and the hits join would otherwise each
        # re-execute the brute-force chain (queries × corpus + window)
        truth = (
            ann_topk_bruteforce(spark, sf_dir, k, n_queries)
            .select("query_id", F.col("vec_id").alias("t_vec"))
            .persist()
        )
        n_truth = truth.count()
        # ONE action for every curve point (r13, guide §1 job-count
        # discipline — the per-p loop spent ~3 driver actions × |probes|):
        # candidate counts fold into a single conditional-sum aggregate,
        # and the per-p top-k ranks compute in one window pass over the
        # union of the prefix candidate sets (each tagged with its nprobe
        # — same _topk ordering per (nprobe, query) group, so the hit
        # sets are identical row-for-row to the per-p loop's).
        n_cand_row = cand.agg(
            *[
                F.coalesce(
                    F.sum(F.when(F.col("cent_rank") <= p, 1)), F.lit(0)
                ).cast("long").alias(f"c{p}")
                for p in sorted(probes)
            ]
        ).first()
        n_cands = {p: n_cand_row[f"c{p}"] for p in sorted(probes)}
        import functools

        from pyspark.sql import DataFrame as _DF

        tagged = functools.reduce(
            _DF.unionByName,
            [
                cand.filter(F.col("cent_rank") <= p)
                .select("query_id", "vec_id", "cosine")
                .withColumn("nprobe", F.lit(p).cast("long"))
                for p in sorted(probes)
            ],
        )
        wp = Window.partitionBy("nprobe", "query_id").orderBy(
            F.desc("cosine"), F.asc("vec_id")
        )
        topk_all = tagged.withColumn("rank", F.row_number().over(wp)).filter(
            F.col("rank") <= k
        )
        hit_rows = (
            truth.join(
                topk_all,
                (truth["query_id"] == topk_all["query_id"])
                & (truth["t_vec"] == topk_all["vec_id"]),
            )
            .groupBy("nprobe")
            .agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
            .collect()
        )
        hits = {r["nprobe"]: r["n_hits"] for r in hit_rows}
        rows = [
            (
                p,
                n_cands[p],
                hits.get(p, 0),
                float(hits.get(p, 0)) / float(n_truth) if n_truth else None,
            )
            for p in sorted(probes)
        ]
    finally:
        cand.unpersist()
        try:
            truth.unpersist()
        except NameError:
            pass
    return spark.createDataFrame(
        rows, "nprobe long, n_candidates long, n_hits long, recall double"
    ).orderBy("nprobe")
