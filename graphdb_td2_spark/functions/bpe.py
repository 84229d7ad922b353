"""Distributed BPE tokenizer training — learn byte-pair-encoding merges on
the cluster (Sennrich et al., "Neural Machine Translation of Rare Words with
Subword Units", 2016 — the subword-nmt algorithm every production tokenizer
pipeline descends from).

The classic algorithm is driver-shaped (a dict of word counts, a loop of
argmax + in-place rewrites); the Spark-first decomposition keeps every
corpus-sized step distributed and makes the per-round state VOCABULARY-sized:

1. one corpus scan → (word, cnt) — the only corpus-sized shuffle;
2. per round: adjacent-pair counts weighted by cnt (explode + partial-agged
   groupBy over the vocab frame), argmax with a deterministic tie-break
   (count DESC, then lexicographic pair — both engines' default binary
   collation), ONE row to the driver — the same O(1)-per-round driver
   round-trip topology as the k-means trainer;
3. the merge is applied vocab-wide as a left-to-right fold (``F.aggregate``
   with a string accumulator — matches subword-nmt's non-overlapping
   first-occurrence-scan semantics, pinned by property test), a narrow
   projection with no shuffle. Lineage is truncated every few rounds
   (``localCheckpoint``) so the 24-round plan stays O(1).

At 100 TB nothing changes shape: the vocab frame is bounded (heavy-tailed
corpora have sub-linear distinct-word growth), rounds cost one vocab-frame
aggregation each, and the corpus is touched exactly once.

Character alphabet uses code-point extraction (``regexp_extract_all(word,
'.')``) rather than ``split(word, '')`` — Java's empty-pattern split cuts
UTF-16 surrogate pairs in half; ``.`` is code-point-safe in both engines.

The DuckDB oracle unrolls the rounds as chained CTEs (the LPA/k-means
pattern) with the identical fold expressed via ``list_reduce`` on a
``chr(1)``-delimited accumulator string.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from ..caching import memo
from ..io import read_table
from .text import tokens_col

N_MERGES = 24
_DELIM = "\x01"  # symbol separator in the fold accumulator; never appears
                 # in whitespace-tokenized words of the corpus (asserted in
                 # tests); a production run would byte-escape it


def chars_col(word: Column) -> Column:
    """Code-point symbol array of a word (surrogate-safe)."""
    return F.regexp_extract_all(word, F.lit("."), 0)


def apply_merge(syms: Column, left: str, right: str) -> Column:
    """Replace every left-to-right non-overlapping adjacent (left, right)
    pair in ``syms`` with the concatenated symbol — subword-nmt's merge
    application as a fold: accumulate a chr(1)-delimited string; when the
    accumulator's last symbol is ``left`` and the next element is
    ``right``, append WITHOUT the delimiter (i.e. merge)."""
    al, bl, d = F.lit(left), F.lit(right), F.lit(_DELIM)
    folded = F.aggregate(
        syms,
        F.lit(""),
        lambda acc, x: F.when(acc == F.lit(""), x).otherwise(
            F.when(
                ((acc == al) | acc.endswith(F.concat(d, al))) & (x == bl),
                F.concat(acc, bl),
            ).otherwise(F.concat(acc, d, x))
        ),
    )
    return F.split(folded, _DELIM)


def word_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents", ["text"])
    return (
        docs.select(F.explode(tokens_col(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


# Checkpointed (word, cnt, syms) base vocabulary per (session, corpus) —
# the cached_doc_shingles policy: the corpus scan + tokenize + explode +
# count shuffle is a pure function of the documents table, and every
# train_bpe call re-ran it (3 bench runs × the full corpus pass).
def _cached_base_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build():
        w = word_counts(spark, sf_dir).select(
            "word", "cnt", chars_col(F.col("word")).alias("syms")
        )
        return w.localCheckpoint()  # truncate the corpus scan out of round lineage

    return memo(spark, ("base_vocab", sf_dir.rstrip("/")), build)


_PAIRS_EXPR = (
    "transform(sequence(1, size(syms) - 1),"
    " i -> struct(element_at(syms, i) AS a, element_at(syms, i + 1) AS b))"
)


def train_bpe(
    spark: SparkSession, sf_dir: str, n_merges: int = N_MERGES
) -> tuple[list[tuple[int, str, str, str, int]], DataFrame]:
    """Learn ``n_merges`` BPE merges over the corpus word counts.

    Returns (merges, final_vocab): merges as
    ``(rank, lhs, rhs, merged, pair_count)`` tuples in training order, and
    the vocab frame ``(word, cnt, syms)`` AFTER all merges — the trained
    segmentation of every corpus word, free of charge."""
    w = _cached_base_vocab(spark, sf_dir)
    merges: list[tuple[int, str, str, str, int]] = []
    for r in range(1, n_merges + 1):
        top = (
            w.filter(F.size("syms") >= 2)
            .select("cnt", F.explode(F.expr(_PAIRS_EXPR)).alias("p"))
            .groupBy("p.a", "p.b")
            .agg(F.sum("cnt").alias("total"))
            .orderBy(F.desc("total"), "a", "b")
            .limit(1)
            .collect()
        )
        if not top:
            break
        a, b, total = top[0]["a"], top[0]["b"], int(top[0]["total"])
        merges.append((r, a, b, a + b, total))
        w = w.withColumn("syms", apply_merge(F.col("syms"), a, b))
        # cadence 12 (r13 A/B over {3, 6, 12} at sf0.1: 5.0/4.9/4.4 s
        # warm): each checkpoint costs a vocab materialization, and on
        # this vocab that is MORE than the chained interpreted folds it
        # saves — the cadence exists to bound plan depth, not to shave
        # fold passes, so the longest cadence that keeps analysis flat
        # wins
        if r % 12 == 0:
            w = w.localCheckpoint()
    return merges, w


def bpe_merge_table(
    spark: SparkSession, sf_dir: str, n_merges: int = N_MERGES
) -> DataFrame:
    """Registry entry: the learned merge table — rank, lhs, rhs, merged
    symbol, and the weighted pair count that won the round. Deterministic
    (count-desc + lexicographic tie-break), exactly mirrored by the
    unrolled-CTE DuckDB oracle."""
    merges, _ = train_bpe(spark, sf_dir, n_merges)
    return spark.createDataFrame(
        merges, "rank long, lhs string, rhs string, merged string, pair_count long"
    ).orderBy("rank")


def bpe_encode(words: DataFrame, merges: list[tuple[int, str, str, str, int]]) -> DataFrame:
    """Segment ``words`` (a ``word`` column) with a learned merge list —
    the serving path: apply the merges in rank order (chained narrow
    folds, no shuffle)."""
    out = words.withColumn("syms", chars_col(F.col("word")))
    for _, a, b, _, _ in merges:
        out = out.withColumn("syms", apply_merge(F.col("syms"), a, b))
    return out


def reference_bpe(
    word_cnt: dict[str, int], n_merges: int
) -> list[tuple[int, str, str, str, int]]:
    """Pure-Python subword-nmt reference for the property tests."""
    vocab = {w: (list(w), c) for w, c in word_cnt.items()}
    merges = []
    for r in range(1, n_merges + 1):
        counts: dict[tuple[str, str], int] = {}
        for syms, c in vocab.values():
            for x, y in zip(syms, syms[1:]):
                counts[(x, y)] = counts.get((x, y), 0) + c
        if not counts:
            break
        (a, b), total = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((r, a, b, a + b, total))
        for w, (syms, c) in vocab.items():
            out: list[str] = []
            i = 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            vocab[w] = (out, c)
    return merges


def bpe_encoded_stats(
    spark: SparkSession, sf_dir: str, n_merges: int = N_MERGES
) -> DataFrame:
    """Registry entry: ``(n_subwords, n_word_types, n_occurrences)`` —
    the segmentation-length histogram of the corpus vocabulary AFTER the
    trained merges: how many subword pieces each word type splits into,
    weighted by corpus frequency. The compression curve a tokenizer
    team reads before shipping a vocab. Ordered by n_subwords.

    Free of charge from training: ``train_bpe`` maintains the merged
    vocab as it learns, so the encode pass IS the trainer's final state
    (the oracle likewise reuses the unrolled trainer's last CTE).
    Scale notes: identical cost envelope to ``bpe_merge_table``; the
    histogram adds one bounded hash agg.
    """
    _, vocab = train_bpe(spark, sf_dir, n_merges)
    return (
        vocab.groupBy(F.size("syms").cast("long").alias("n_subwords"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_word_types"),
            F.sum("cnt").cast("long").alias("n_occurrences"),
        )
        .orderBy("n_subwords")
    )
