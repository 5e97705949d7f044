"""Empty-input degradation: every operator family must return an EMPTY
result (or a well-defined neutral value) on empty tables — never raise.
At corpus scale a filter chain routinely empties a partition-stage input
(a day with no events, a shard with no matches), and an iterative
operator that indexes into a driver-side collect()[0] or divides by a
zero count would fail the whole job."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def empties(spark):
    return {
        "docs": spark.createDataFrame([], "doc_id long, text string"),
        "edges": spark.createDataFrame([], "src long, dst long"),
        "vals": spark.createDataFrame([], "g string, s int, y long"),
        "pairs": spark.createDataFrame([], "id_a long, id_b long"),
    }


def test_graph_family_empty(spark, empties):
    from datapipeline_spark.operators.graph import (
        bfs_distances,
        kcore_nodes,
        label_propagation,
        pagerank,
        sssp_distances,
        triangle_counts,
    )

    e = empties["edges"]
    assert pagerank(e, iterations=2).count() == 0
    assert triangle_counts(e).count() == 0
    assert kcore_nodes(e, k=2).count() == 0
    assert label_propagation(e, rounds=2).count() == 0
    src = spark.createDataFrame([], "node long")
    assert bfs_distances(e, src, max_hops=2).count() == 0
    we = spark.createDataFrame([], "src long, dst long, w long")
    assert sssp_distances(we, src, rounds=2).count() == 0


def test_stats_family_empty(spark, empties):
    from datapipeline_spark.operators.stats import spearman_corr, welch_ttest

    v = empties["vals"]
    assert welch_ttest(v, "y", "s", ["g"]).count() == 0
    assert spearman_corr(v, "y", "s", ["g"]).count() == 0


def test_dedup_family_empty(spark, empties):
    from datapipeline_spark.dedup import ppjoin_pairs
    from datapipeline_spark.dedup.cluster import connected_components

    assert ppjoin_pairs(empties["docs"], threshold=0.5).count() == 0
    assert (
        connected_components(empties["pairs"], src="id_a", dst="id_b").count()
        == 0
    )


def test_profiling_and_basket_empty(spark, empties):
    from datapipeline_spark.operators.basket import frequent_pairs
    from datapipeline_spark.operators.skewprof import skew_profile

    v = empties["vals"]
    assert skew_profile(v, ["g", "s"]).count() == 0
    assert frequent_pairs(v, "g", "s", min_item_support=2).count() == 0


def test_adjacency_operators_survive_hub_degree(spark):
    """The adjacency-list graph operators carry a documented per-node
    degree bound (one out-list per row). Pin that a 10k-degree hub — far
    beyond any co-purchase degree at the demo SFs — flows through
    pagerank, LPA and BFS with correct structure: star graphs have a
    closed-form shape (hub rank dominates, every leaf is one hop out)."""
    from datapipeline_spark.operators.graph import (
        bfs_distances,
        label_propagation,
        pagerank,
    )

    n = 10_000
    leaves = spark.range(1, n + 1).select(F.col("id").alias("leaf"))
    edges = leaves.select(
        F.lit(0).alias("src"), F.col("leaf").alias("dst")
    ).union(leaves.select(F.col("leaf").alias("src"), F.lit(0).alias("dst")))

    ranks = {r.node: r.rank for r in pagerank(edges, iterations=2).collect()}
    assert len(ranks) == n + 1
    assert ranks[0] > max(v for k, v in ranks.items() if k != 0)

    labs = {
        r.node: r.community
        for r in label_propagation(edges, rounds=2).collect()
    }
    # round 1: hub adopts min leaf label (1), leaves adopt hub label (0);
    # round 2: hub hears only 0s -> 0, leaves hear the hub's 1 -> 1
    assert labs[0] == 0 and labs[1] == 1

    src = spark.createDataFrame([(0,)], "node long")
    dist = {
        r.node: r.dist
        for r in bfs_distances(edges, src, max_hops=2).collect()
    }
    assert dist[0] == 0 and all(dist[leaf] == 1 for leaf in (1, 2, n))


def test_bloom_empty_is_all_zero_bitmap(spark, empties):
    """An empty build side yields the all-zero bitmap — and the filter
    against it keeps NO probe rows (no false positives from emptiness)."""
    from datapipeline_spark.operators.bloom import bloom_build, bloom_filter_keys

    words = bloom_build(empties["vals"], "y")
    assert all(w == 0 for w in words)
    probe = spark.createDataFrame([(1,), (2,)], "y long")
    assert bloom_filter_keys(probe, "y", words).count() == 0


def test_ppjoin_guard_on_empty_corpus(spark, empties):
    """Both guard modes degrade cleanly on an empty corpus: the error
    pre-flight sees no groups (max None -> 0) and proceeds to an empty
    result instead of raising."""
    from datapipeline_spark.dedup import ppjoin_pairs

    for mode in ("error", "drop"):
        out = ppjoin_pairs(
            empties["docs"], threshold=0.5, max_prefix_group=10, on_exceed=mode
        )
        assert out.count() == 0
