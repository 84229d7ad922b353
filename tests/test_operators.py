"""Unit tests for operator building blocks on tiny in-memory data (the
corpus-level cross-checks live in tools/oracle_check.py and the driver's t2
harness)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from graphdb_td2_spark.dedup.exact import content_digest, dedup_exact
from graphdb_td2_spark.dedup.minhash import minhash_signatures
from graphdb_td2_spark.dedup.simhash import hamming_distance
from graphdb_td2_spark.functions.vectors import (
    cosine_similarity_q,
    quantize_embedding,
)
from graphdb_td2_spark.functions.text import fingerprint_col


def test_exact_dedup_keeps_lowest_id(spark):
    docs = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world"), (3, "other text")],
        "doc_id long, text string",
    )
    kept = sorted(r["doc_id"] for r in dedup_exact(docs).collect())
    assert kept == [1, 3]  # normalization collapses 1 and 2; lowest id wins


def test_content_digest_normalizes_whitespace_and_case(spark):
    df = spark.createDataFrame([("A  b\tC",), ("a b c",)], "text string")
    d = df.select(content_digest(F.col("text")).alias("d")).collect()
    assert d[0]["d"] == d[1]["d"]


def test_minhash_identical_texts_share_signature(spark):
    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "the quick brown fox jumps over the lazy dog"),
         (3, "a completely different sentence with no overlap at all")],
        "doc_id long, text string",
    )
    sigs = minhash_signatures(docs).collect()
    by_id = {r["doc_id"]: tuple(r[f"sig_{j}"] for j in range(16)) for r in sigs}
    assert by_id[1] == by_id[2]
    assert by_id[1] != by_id[3]


def test_quantized_cosine_identity_and_orthogonal(spark):
    df = spark.createDataFrame(
        [([1.0, 0.0, 0.0], [1.0, 0.0, 0.0]), ([1.0, 0.0, 0.0], [0.0, 1.0, 0.0])],
        "a array<float>, b array<float>",
    )
    out = df.select(
        cosine_similarity_q(
            quantize_embedding(F.col("a")), quantize_embedding(F.col("b"))
        ).alias("c")
    ).collect()
    assert out[0]["c"] == pytest.approx(1.0)
    assert out[1]["c"] == pytest.approx(0.0)


def test_fingerprint_deterministic_and_order_sensitive(spark):
    df = spark.createDataFrame(
        [("a b c",), ("a b c",), ("c b a",)], "text string"
    )
    fps = [r["f"] for r in df.select(fingerprint_col(F.col("text")).alias("f")).collect()]
    assert fps[0] == fps[1]
    assert fps[0] != fps[2]  # rolling hash is order-sensitive


def test_hamming_distance(spark):
    df = spark.createDataFrame([(0b1010, 0b0011)], "a long, b long")
    out = df.select(hamming_distance(F.col("a"), F.col("b")).alias("h")).collect()
    assert out[0]["h"] == 2


def test_recommend_shape(spark, sf_dir):
    from graphdb_td2_spark.recs import recommend

    out = recommend(spark, sf_dir, product_id=1)
    assert set(out) == {"items", "took_ms"}
    assert isinstance(out["took_ms"], int)
    assert out["items"], "seed part 1 must have co-occurrences"
    first = out["items"][0]
    assert set(first) == {"product_id", "score", "reason"}
    assert first["reason"] == "co-occurrence"
    # precedence: product_id wins when both are passed (app/main.py:49,86)
    both = recommend(spark, sf_dir, product_id=1, customer_id=1)
    assert [i["product_id"] for i in both["items"]] == [
        i["product_id"] for i in out["items"]
    ]
    # neither → empty (app/main.py:124)
    assert recommend(spark, sf_dir)["items"] == []


def test_safe_read_missing_table_yields_empty(spark):
    from graphdb_td2_spark.io import safe_read_table

    df = safe_read_table(spark, "/root/testdata/does-not-exist", "events")
    assert df.count() == 0
    assert "event_type" in df.columns


def test_asof_join_semantics(spark):
    from datetime import datetime

    from graphdb_td2_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, datetime(2024, 1, 1, 10, 0), "e1"),
         (1, datetime(2024, 1, 1, 12, 0), "e2"),
         (2, datetime(2024, 1, 1, 9, 0), "e3")],
        "k long, ts timestamp, ev string",
    )
    right = spark.createDataFrame(
        [(1, datetime(2024, 1, 1, 9, 30), 100),
         (1, datetime(2024, 1, 1, 12, 0), 200),  # equal ts: inclusive
         (2, datetime(2024, 1, 1, 9, 30), 300)],  # after e3: no match
        "k long, rts timestamp, payload long",
    )
    out = {
        r.ev: r.payload
        for r in asof_join(
            left, right, on=["k"], left_ts="ts", right_ts="rts",
            right_payload=["payload"],
        ).collect()
    }
    assert out == {"e1": 100, "e2": 200, "e3": None}


def test_salted_join_matches_plain_join(spark):
    from graphdb_td2_spark.operators.skew import salted_join

    # hot key: 90% of big rows share key 1
    big = spark.createDataFrame(
        [(1 if i % 10 else 2, i) for i in range(1000)], "k long, row_id long"
    )
    small = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k long, tag string")
    got = salted_join(big, small, "k", n_salts=8, big_salt_expr=F.col("row_id"))
    want = big.join(small, "k")
    assert got.count() == want.count() == 1000
    assert (
        got.groupBy("k", "tag").count().orderBy("k").collect()
        == want.groupBy("k", "tag").count().orderBy("k").collect()
    )
    # deterministic: same salt assignment on re-run
    again = salted_join(big, small, "k", n_salts=8, big_salt_expr=F.col("row_id"))
    assert sorted(r.row_id for r in got.collect()) == sorted(
        r.row_id for r in again.collect()
    )


def test_banded_range_join_matches_naive(spark):
    from graphdb_td2_spark.operators.range_join import banded_range_self_pairs

    # crafted: cross-bin pairs (t=299/301), exact-gap pair (0,300), equal-ts
    # tie (ids 7/8), and an out-of-range pair (>300s)
    rows = [
        (1, 1, 0.0), (1, 2, 299.0), (1, 3, 301.0), (1, 4, 300.0),
        (1, 7, 650.0), (1, 8, 650.0), (2, 5, 0.0), (2, 6, 10_000.0),
    ]
    df = spark.createDataFrame(
        [(u, i, float(s)) for u, i, s in rows], "user_id long, event_id long, secs double"
    ).selectExpr("user_id", "event_id", "timestamp_seconds(secs) AS ts")

    got = {
        (r.user_id, r.id_a, r.id_b, r.gap_us)
        for r in banded_range_self_pairs(
            df, key="user_id", ts="ts", id_col="event_id", gap_seconds=300
        ).collect()
    }
    a, b = df.alias("a"), df.alias("b")
    from pyspark.sql import functions as F

    ua, ub = F.unix_micros(F.col("a.ts")), F.unix_micros(F.col("b.ts"))
    naive = {
        (r["user_id"], r["id_a"], r["id_b"], r["gap_us"])
        for r in a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & ((ua < ub) | ((ua == ub) & (F.col("a.event_id") < F.col("b.event_id"))))
            & (ub - ua <= 300_000_000),
        )
        .select(
            F.col("a.user_id").alias("user_id"),
            F.col("a.event_id").alias("id_a"),
            F.col("b.event_id").alias("id_b"),
            (ub - ua).alias("gap_us"),
        )
        .collect()
    }
    assert got == naive
    assert (1, 1, 2, 299_000_000) in got and (1, 1, 4, 300_000_000) in got
    assert (1, 7, 8, 0) in got and (1, 2, 3, 2_000_000) in got
    assert not any(u == 2 for (u, *_rest) in got)


def test_connected_components_two_islands(spark):
    from graphdb_td2_spark.graph.components import connected_components

    vertices = spark.createDataFrame(
        [(v,) for v in ["a", "b", "c", "d", "e", "x", "y", "lone"]], "id string"
    )
    # chain a-b-c-d-e (diameter 4) and pair x-y; 'lone' is isolated
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"), ("y", "x")],
        "src string, dst string",
    )
    got = {
        r.id: r.component for r in connected_components(vertices, edges).collect()
    }
    assert got == {
        "a": "a", "b": "a", "c": "a", "d": "a", "e": "a",
        "x": "x", "y": "x", "lone": "lone",
    }


def test_triangle_stats_fixture(spark):
    from graphdb_td2_spark.graph.triangles import cooccurrence_edges

    # orders: o1..o3 contain {1,2,3}; o4 contains {1,2}; o5 contains {4,5}
    rows = []
    for o in (1, 2, 3):
        rows += [(o, 1), (o, 2), (o, 3)]
    rows += [(4, 1), (4, 2), (5, 4), (5, 5)]
    li = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    edges = {
        (r.pa, r.pb): r.weight
        for r in cooccurrence_edges(li, min_weight=2).collect()
    }
    # pairs within {1,2,3} co-occur 3x (4x for 1-2); {4,5} only once -> cut
    assert edges == {(1, 2): 4, (1, 3): 3, (2, 3): 3}


def test_hash_sample_deterministic_and_partition_invariant(spark):
    from graphdb_td2_spark.functions.sampling import hash_sample

    df = spark.createDataFrame([(i,) for i in range(2000)], "id long")
    a = sorted(r.id for r in hash_sample(df, "id", 0.1).collect())
    b = sorted(r.id for r in hash_sample(df.repartition(13), "id", 0.1).collect())
    assert a == b and len(a) > 0
    # md5-uniformity: 10% ±3pp on 2000 keys
    assert 0.07 < len(a) / 2000 < 0.13
    # monotone: a smaller rate selects a subset
    c = set(r.id for r in hash_sample(df, "id", 0.05).collect())
    assert c <= set(a)


def test_asof_join_tolerance(spark):
    from datetime import datetime

    from pyspark.sql import functions as F

    from graphdb_td2_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, datetime(2024, 1, 1, 12, 0, 0), "e1"),
         (1, datetime(2024, 1, 1, 13, 0, 0), "e2"),
         (2, datetime(2024, 1, 1, 12, 0, 0), "e3")],
        schema="k long, ts timestamp, ev string",
    )
    right = spark.createDataFrame(
        [(1, datetime(2024, 1, 1, 11, 59, 0), 100),
         (2, datetime(2024, 1, 1, 9, 0, 0), 200)],
        schema="k long, rts timestamp, payload long",
    )
    args = dict(on=["k"], left_ts="ts", right_ts="rts", right_payload=["payload"])
    no_tol = {
        (r["k"], r["ev"]): r["payload"]
        for r in asof_join(left, right, **args).collect()
    }
    assert no_tol == {(1, "e1"): 100, (1, "e2"): 100, (2, "e3"): 200}
    # 30-minute staleness bound: e1 matches (1 min behind), e2 stale (61 min),
    # e3 stale (3 h)
    tol = {
        (r["k"], r["ev"]): r["payload"]
        for r in asof_join(left, right, tolerance_secs=1800, **args).collect()
    }
    assert tol == {(1, "e1"): 100, (1, "e2"): None, (2, "e3"): None}


def test_asof_join_tolerance_stale_payload_not_resurrected(spark):
    """A NULL payload on the matched (fresh) row must NOT fall back to an
    older row's stale value — the match is row-atomic."""
    from datetime import datetime

    from graphdb_td2_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, datetime(2024, 1, 1, 12, 0, 0), "e1")],
        schema="k long, ts timestamp, ev string",
    )
    right = spark.createDataFrame(
        [(1, datetime(2024, 1, 1, 9, 0, 0), 5),
         (1, datetime(2024, 1, 1, 11, 59, 0), None)],
        schema="k long, rts timestamp, payload long",
    )
    rows = asof_join(
        left, right, on=["k"], left_ts="ts", right_ts="rts",
        right_payload=["payload"], tolerance_secs=1800,
    ).collect()
    # 11:59 row matches and is fresh, but ITS payload is NULL; the 09:00
    # value 5 is 3 h stale and must not leak through
    assert rows[0]["payload"] is None


def test_bfs_distances_on_known_graph(spark):
    from pyspark.sql import functions as F

    from graphdb_td2_spark.graph.bfs import bfs_distances

    # path a-b-c-d plus isolated e; undirected hops from a
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d")], schema="src string, dst string"
    )
    verts = spark.createDataFrame([("a",), ("b",), ("c",), ("d",), ("e",)], "id string")
    got = {
        r["id"]: r["distance"]
        for r in bfs_distances(verts, edges, seed="a", max_hops=6).collect()
    }
    assert got == {"a": 0, "b": 1, "c": 2, "d": 3, "e": None}
    # hop cap truncates, matching the oracle's fixed-round semantics
    capped = {
        r["id"]: r["distance"]
        for r in bfs_distances(verts, edges, seed="a", max_hops=2).collect()
    }
    assert capped == {"a": 0, "b": 1, "c": 2, "d": None, "e": None}


def test_shipping_latency_nonneg(spark, sf_dir):
    from graphdb_td2_spark.operators.relational import shipping_latency_quantiles

    rows = shipping_latency_quantiles(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r["p50_days"] <= r["p90_days"]


def test_supplier_concentration_bounds(spark, sf_dir):
    from graphdb_td2_spark.operators.relational import supplier_concentration_topk

    rows = supplier_concentration_topk(spark, sf_dir).collect()
    assert rows
    hhis = [r["hhi"] for r in rows]
    assert hhis == sorted(hhis, reverse=True)
    for r in rows:
        assert r["n_suppliers"] >= 2
        # HHI of n equal suppliers is 1/n ≤ hhi < 1 for n ≥ 2
        assert 1.0 / r["n_suppliers"] <= r["hhi"] < 1.0 + 1e-12


def test_nation_trade_flows_topk(spark, sf_dir):
    from graphdb_td2_spark.operators.relational import nation_trade_flows

    rows = nation_trade_flows(spark, sf_dir).collect()
    assert 0 < len(rows) <= 25
    revs = [r["revenue_cents"] for r in rows]
    assert revs == sorted(revs, reverse=True)
    assert all(r["n_items"] > 0 for r in rows)


def test_market_share_bounds(spark, sf_dir):
    from graphdb_td2_spark.operators.relational import brand_market_share_by_year

    rows = brand_market_share_by_year(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r["brand_cents"] <= r["total_cents"]
        assert 0.0 <= r["mkt_share"] <= 1.0


def test_churn_buckets_partition(spark, sf_dir):
    from graphdb_td2_spark.operators.relational import segment_churn_rates

    rows = segment_churn_rates(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["n_active"] + r["n_churned"] + r["n_never"] == r["n_customers"]
        assert 0.0 <= r["churn_rate"] <= 1.0


def test_weighted_median_hand_computed(spark, tmp_path):
    import datetime as dt

    from graphdb_td2_spark.operators.relational import weighted_median_price

    d = tmp_path / "fx"
    # flag N: price 1.00 weight 1, price 2.00 weight 1, price 3.00 weight 10
    # → total 12, first price with 2·cum ≥ 12 is 3.00
    li = [(1, 1, 1.0, 1.0), (2, 1, 1.0, 2.0), (3, 10, 10.0, 3.0)]
    spark.createDataFrame(
        [
            (ok, 1, 1, 1, float(q), p, 0.0, 0.0, "N", "O", dt.datetime(2024, 1, 1))
            for ok, q, _, p in [(a, b, b, c) for a, b, c in [(x[0], x[1], x[3]) for x in li]]
        ],
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, l_quantity double, l_extendedprice double, l_discount double, l_tax double, l_returnflag string, l_linestatus string, l_shipdate timestamp",
    ).write.parquet(str(d / "lineitem.parquet"))
    (r,) = weighted_median_price(spark, str(d)).collect()
    assert r["median_price_cents"] == 300
    assert r["total_weight"] == 1200


def test_diurnal_shares_sum(spark, sf_dir):
    from graphdb_td2_spark.operators.timeseries import diurnal_profile

    rows = diurnal_profile(spark, sf_dir).collect()
    assert all(0 <= r["hour_of_day"] <= 23 for r in rows)
    assert abs(sum(r["share"] for r in rows) - 1.0) < 1e-9


def test_brand_pairs_sorted(spark, sf_dir):
    from graphdb_td2_spark.recs.linkpred import brand_cooccurrence_topk

    rows = brand_cooccurrence_topk(spark, sf_dir).collect()
    assert rows
    counts = [r["n_orders"] for r in rows]
    assert counts == sorted(counts, reverse=True)
    assert all(r["brand_a"] < r["brand_b"] for r in rows)


def test_brand_return_rates_bounds(spark, sf_dir):
    from graphdb_td2_spark.operators.relational import brand_return_rates

    rows = brand_return_rates(spark, sf_dir).collect()
    assert rows
    rates = [r["return_rate"] for r in rows]
    assert rates == sorted(rates, reverse=True)
    for r in rows:
        assert r["n_items"] >= 100
        assert 0.0 <= r["return_rate"] <= 1.0
