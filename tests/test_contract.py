"""Driver-contract invariants (the round-1 review, items 1 & 8; in git history).

The driver verifies only the first ``DRIVER_QUERY_CAP`` dict entries of
``queries()`` against the DuckDB oracle — round 1 proved this empirically
(its correctness report held exactly the first 50 entries in dict order, so
the trailing streaming/ANN/multimodal capabilities got no correctness row).
These tests pin the registry layout so later rounds can't silently push a
capability past the verification window again.
"""

from __future__ import annotations

import __spark_entry__ as entry

# One query per distinct capability; each MUST receive a driver correctness
# row, i.e. sit within the first DRIVER_QUERY_CAP registry entries.
CAPABILITY_QUERIES = (
    # reference parity
    "recs_product_cooccurrence",
    "recs_product_same_brand",
    "recs_customer_cf",
    "recs_customer_brand_fallback",
    "graph_vertex_counts",
    "graph_edge_counts",
    "graph_constraint_checks",
    "event_edge_dedup_counts",
    # graph algorithms
    "pagerank_top20",
    "ppr_top20",
    "component_sizes",
    "triangle_stats",
    # relational / window / json / timeseries
    "pricing_summary",
    "returnflag_cube",
    "value_percentiles",
    "customer_activity_setops",
    "events_asof_last_order",
    "event_burst_pairs",
    "hourly_event_rollup",
    "user_event_pivot",
    "sessionize",
    "event_value_ranks",
    "event_type_stats",
    # text analysis + sampling
    "token_stats",
    "text_quality",
    "quality_filter_stats",
    "language_id",
    "doc_fingerprints",
    "sampled_event_stats",
    # dedup
    "exact_dedup_stats",
    "minhash_lsh_pairs",
    "simhash_docs",
    "ngram_jaccard_pairs",
    "embedding_neardup_pairs",
    "dedup_clusters",
    # similarity search
    "ann_topk_bruteforce",
    "ann_topk_lsh",
    "ann_topk_ivf",
    # multimodal + streaming
    "multimodal_feature_stats",
    "streaming_event_windows",
    "streaming_sliding_windows",
    "streaming_enriched_windows",
)


def test_every_capability_inside_driver_window():
    names = list(entry._raw_queries())
    positions = {n: i for i, n in enumerate(names)}
    missing = [q for q in CAPABILITY_QUERIES if q not in positions]
    assert not missing, f"capability queries vanished from registry: {missing}"
    beyond = [
        q for q in CAPABILITY_QUERIES if positions[q] >= entry.DRIVER_QUERY_CAP
    ]
    assert not beyond, (
        f"capability queries past the driver's {entry.DRIVER_QUERY_CAP}-entry "
        f"verification window (would get NO correctness row): {beyond}"
    )


def test_demoted_tail_is_last_and_documented():
    names = list(entry._raw_queries())
    assert tuple(names[-len(entry.DEMOTED_TAIL):]) == entry.DEMOTED_TAIL
    # demoted entries must be variants, never the sole carrier of a capability
    assert not set(entry.DEMOTED_TAIL) & set(CAPABILITY_QUERIES)


def test_wrapped_registry_matches_raw():
    assert list(entry.queries()) == list(entry._raw_queries())


def test_oracles_align_with_registry():
    q = set(entry._raw_queries())
    o = set(entry.oracle_sql())
    assert not o - q, f"oracles without a query: {o - q}"
    # since round 2 every query — including the iterative graph algorithms,
    # via the integer fixed-point formulation — has an exact oracle
    assert not q - o, f"queries without an oracle: {q - o}"


def test_queries_self_heal_foreign_session_timezone(spark, sf_dir):
    """The driver harness builds its own SparkSession with its own confs.
    A non-UTC session timezone silently shifts hour bucketing —
    configure_existing (applied by the queries() wrapper) must reset it,
    so results are identical to a UTC session's."""
    utc_rows = entry.queries()["hourly_event_rollup"](spark, sf_dir).collect()

    foreign = spark.newSession()
    foreign.conf.set("spark.sql.session.timeZone", "America/New_York")
    got_rows = entry.queries()["hourly_event_rollup"](foreign, sf_dir).collect()
    assert foreign.conf.get("spark.sql.session.timeZone") == "UTC"
    assert got_rows == utc_rows


def test_repeated_invocation_is_idempotent(spark, sf_dir):
    """Session caches (graph, adjacency views, shingle table) must yield
    identical results on repeat invocation within one session."""
    q = entry.queries()
    for name in ("recs_product_cooccurrence", "graph_edge_counts",
                 "minhash_lsh_pairs", "dataset_splits"):
        first = q[name](spark, sf_dir).collect()
        second = q[name](spark, sf_dir).collect()
        assert first == second, name


def test_cli_list_matches_registry(capsys):
    from graphdb_td2_spark.__main__ import main

    assert main(["list"]) == 0
    out = capsys.readouterr().out.strip().splitlines()
    assert out == list(entry.queries())


def test_cli_explain_prints_plan(spark, capsys):
    from graphdb_td2_spark.__main__ import main

    rc = main(["explain", "pricing_summary", "--sf-dir", "/root/testdata/sf0.001"])
    out = capsys.readouterr().out
    assert rc == 0
    assert "Physical Plan" in out or "AdaptiveSparkPlan" in out
