"""Lake graph-stats sidecar (round-10 VERDICT task #6): |V|/|E| of the
co-purchase graph persist next to the lake tables so HyperBall's
broadcast-vs-shuffle dispatch is a FREE read, not a ~20 s count job at
sf10. Pins: sidecar values match direct counts; a second reader gets
them without re-deriving the adjacency; the dispatch switch honors the
supplied |V| (smallint+broadcast below the bar, long+shuffle above)."""

from __future__ import annotations

import pytest

from graphdb_td2_spark import caching, lake
from graphdb_td2_spark.graph.hyperball import (
    _BROADCAST_STATE_MAX,
    _REG_COLS,
    _hyperball_rounds,
)
from graphdb_td2_spark.graph.walks import copurchase_adjacency


def test_stats_match_direct_counts_and_sidecar_roundtrips(
    spark, sf_dir, monkeypatch
):
    stats = lake.copurchase_stats(spark, sf_dir)
    adj = copurchase_adjacency(spark, sf_dir)
    assert stats["n_vertices"] == adj.select("src").distinct().count()
    assert stats["n_edges"] == adj.count()

    # a fresh process (memo cleared) must read the sidecar, not recompute:
    # poison the compute path and ask again
    monkeypatch.setattr(caching, "_STORE", {})

    def boom(*a, **k):  # pragma: no cover - must not run
        raise AssertionError("stats sidecar missed — adjacency recomputed")

    import graphdb_td2_spark.graph.walks as walks

    monkeypatch.setattr(walks, "copurchase_adjacency", boom)
    assert lake.copurchase_stats(spark, sf_dir) == stats


@pytest.mark.parametrize(
    "n_vertices,expect_small",
    [(50, True), (_BROADCAST_STATE_MAX + 1, False)],
)
def test_dispatch_honors_supplied_vertex_count(
    spark, sf_dir, n_vertices, expect_small
):
    """The register dtype is the dispatch witness: the sub-bar path casts
    to SMALLINT, the shuffle path keeps LONG (both measured winners,
    round-9 perf notes §8, in git history) — so the supplied |V| visibly drives the switch
    without running any probe job."""
    adj = copurchase_adjacency(spark, sf_dir)
    _, state, _ = next(_hyperball_rounds(adj, n_vertices=n_vertices))
    dtype = dict(state.dtypes)[_REG_COLS[0]]
    assert dtype == ("smallint" if expect_small else "bigint")
    adj.unpersist()
