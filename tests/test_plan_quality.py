"""Physical-plan assertions for the headline analytical queries: filters
reach the parquet scans, small dims broadcast, top-k never global-sorts, and
rollup expands inside a single aggregation exchange. These pin the *shape*
that must survive a 100× scale-up, not timings."""

from __future__ import annotations

import re

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _shuffles(plan: str) -> int:
    return len(re.findall(r"(?<!Broadcast)Exchange", plan))


def test_q3_plan(spark):
    from datapipeline_spark.queries_core import q3_shipping_priority

    plan = _plan(q3_shipping_priority(spark, SF))
    assert "TakeOrderedAndProject" in plan  # partial top-k, no global Sort
    assert "GreaterThan(l_shipdate" in plan  # filter pushed into lineitem scan
    assert "LessThan(o_orderdate" in plan  # filter pushed into orders scan
    assert "EqualTo(c_mktsegment,BUILDING)" in plan  # dim filter pushed
    assert "BroadcastHashJoin" in plan
    assert _shuffles(plan) <= 1  # at most the final aggregation exchange


def test_rollup_plan(spark):
    from datapipeline_spark.queries_core import rollup_revenue

    plan = _plan(rollup_revenue(spark, SF))
    assert "Expand" in plan  # grouping-set expansion inside the agg
    assert plan.count("BroadcastHashJoin") == 3  # all three dims broadcast
    assert _shuffles(plan) == 1  # one hash-agg exchange, no join shuffle


def test_set_ops_plan(spark):
    from datapipeline_spark.queries_core import set_ops_users

    plan = _plan(set_ops_users(spark, SF))
    # distinct set algebra compiles to semi/anti hash joins over aggregates
    assert "LeftSemi" in plan and "LeftAnti" in plan


def test_cube_plan(spark):
    from datapipeline_spark.queries_core import cube_revenue

    plan = _plan(cube_revenue(spark, SF))
    assert "Expand" in plan  # full grouping-set lattice inside the agg
    assert plan.count("BroadcastHashJoin") == 3
    assert _shuffles(plan) == 1


def test_ranking_plan(spark):
    from datapipeline_spark.queries_core import ranking_functions

    plan = _plan(ranking_functions(spark, SF))
    assert "Window" in plan
    assert _shuffles(plan) == 1  # one partition exchange feeds every rank fn
    assert plan.count("Sort") <= 2  # a single per-partition sort (± AQE copy)


def test_percentile_distinct_plans(spark):
    from datapipeline_spark.queries_core import distinct_daily_users, percentile_stats

    plan = _plan(percentile_stats(spark, SF))
    assert "percentile" in plan
    assert _shuffles(plan) == 1

    plan = _plan(distinct_daily_users(spark, SF))
    # count(DISTINCT) plans as partial dedup below the exchange: the shuffle
    # carries (day, type, user) already deduped per map task
    assert "partial_count(distinct user_id" in plan
    assert "HashAggregate" in plan


def test_ranking_values(spark):
    from datapipeline_spark.queries_core import ranking_functions

    out = ranking_functions(spark, SF)
    one_user = out.filter("user_id = 1").orderBy("rnk", "event_id").collect()
    n = len(one_user)
    assert n > 0
    assert one_user[0].rnk == 1 and one_user[0].pct_rank == 0.0
    assert one_user[-1].cdist == 1.0
    assert {r.quartile for r in one_user} == {1, 2, 3, 4}
    # rank ties share rnk but drnk stays dense
    assert all(r.drnk <= r.rnk for r in one_user)


def test_sampling_plans(spark):
    from datapipeline_spark.queries_data import (
        q_balance_labels,
        q_corpus_sample,
        q_corpus_shuffle,
    )

    # hash-membership sampling is a pure map: filter beside the scan, 0 shuffles
    plan = _plan(q_corpus_sample(spark, SF))
    assert _shuffles(plan) == 0 and "Exchange" not in plan

    # balanced downsampling keeps local top-n per label before the exchange
    plan = _plan(q_balance_labels(spark, SF))
    assert "WindowGroupLimit" in plan

    # reproducible shuffle = one global sort (range partition at scale)
    plan = _plan(q_corpus_shuffle(spark, SF))
    assert "Sort" in plan


def test_corpus_pipeline_plan(spark):
    from datapipeline_spark.queries_data import q_corpus_pipeline

    plan = _plan(q_corpus_pipeline(spark, SF))
    # dedup keeps one row per content fingerprint below the exchange
    assert "WindowGroupLimit" in plan
    # the final training order comes from the two-phase bucketed rank, NOT a
    # global sort: no range partitioning anywhere, offsets broadcast back
    assert "rangepartitioning" not in plan.lower().replace(" ", "")
    assert "BroadcastExchange" in plan
    # exchanges: dedup hash-partition, bucket-count agg (+ its single-row
    # offsets window over <=256 aggregate rows), per-bucket rank partition
    assert _shuffles(plan) <= 5


def test_q5_plan(spark):
    from datapipeline_spark.queries_core import q5_regional_revenue

    plan = _plan(q5_regional_revenue(spark, SF))
    # region filter + date range pushed into the scans
    assert "EqualTo(r_name,ASIA)" in plan
    assert "GreaterThanOrEqual(o_orderdate" in plan
    # supplier→nation→region chain and customer all broadcast: the only
    # non-broadcast exchanges are lineitem⋈orders (if not broadcast) + agg
    assert plan.count("BroadcastHashJoin") >= 3
    assert _shuffles(plan) <= 2


def test_q18_plan(spark):
    from datapipeline_spark.queries_core import q18_large_orders

    plan = _plan(q18_large_orders(spark, SF))
    # HAVING runs as a filter on the aggregate BEFORE any join
    assert re.search(r"Filter.*\(qty#\d+ > 250", plan)
    assert "BroadcastHashJoin" in plan  # customer broadcast


def test_salted_agg_plan(spark):
    from datapipeline_spark.queries_core import skew_salted_agg

    plan = _plan(skew_salted_agg(spark, SF))
    # two-phase: partial agg keyed by (event_type, salt), merge by event_type
    assert "__salt__" in plan
    assert plan.count("HashAggregate") >= 4  # partial+final per phase


def test_quality_band_plan(spark):
    from datapipeline_spark.queries_data import q_quality_band_filter

    plan = _plan(q_quality_band_filter(spark, SF))
    # thresholds come back as broadcast joins onto the corpus scan — the
    # corpus itself is never globally sorted
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "rangepartitioning" not in plan.lower().replace(" ", "")


def test_pack_sequences_plan(spark):
    from datapipeline_spark.queries_data import q_pack_sequences

    plan = _plan(q_pack_sequences(spark, SF))
    # the global exclusive scan must NOT range-partition the corpus: the
    # only exchanges are the 256-bucket hash partition + the tiny totals agg
    assert "rangepartitioning" not in plan.lower().replace(" ", "")
    assert "BroadcastExchange" in plan  # bucket offsets broadcast back


def test_mixture_sample_plan(spark):
    from datapipeline_spark.queries_data import q_mixture_sample

    plan = _plan(q_mixture_sample(spark, SF))
    assert "Exchange" not in plan  # pure map-side filter at any scale


def test_winsorize_plan(spark):
    from datapipeline_spark.queries_core import winsorize_values

    plan = _plan(winsorize_values(spark, SF))
    # thresholds come back via broadcast joins; the fact rows never sort
    assert plan.count("BroadcastHashJoin") >= 2
    assert "rangepartitioning" not in plan.lower().replace(" ", "")


def test_bucketed_join_query_plan(spark):
    from datapipeline_spark.queries_core import bucketed_join_revenue

    # at tiny SF the planner correctly broadcasts (also shuffle-free);
    # disable broadcast to expose the bucketed sort-merge path that carries
    # the 100 TB case
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(bucketed_join_revenue(spark, SF))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert plan.count("Bucketed: true") == 2
    assert "SortMergeJoin" in plan
    # co-bucketed scans join with no shuffle on either side — the only
    # Exchange left is the final 3-row aggregation
    assert _shuffles(plan) <= 1


def test_q6_plan(spark):
    from datapipeline_spark.queries_core import q6_forecast_revenue

    plan = _plan(q6_forecast_revenue(spark, SF))
    # every predicate reaches the scan (PushedFilters is truncated in
    # toString, so check the Filter node + the pushed-filter prefix)
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan
    assert re.search(r"l_shipdate#\d+ >= 1997-01-01", plan)
    assert re.search(r"l_quantity#\d+ < 24", plan)
    # 4 of 11 lineitem columns read
    assert re.search(
        r"ReadSchema: struct<l_quantity:double,l_extendedprice:double,"
        r"l_discount:double,l_shipdate", plan
    )
    assert _shuffles(plan) <= 1


def test_q21_plan(spark):
    from datapipeline_spark.queries_core import q21_late_supplier

    plan = _plan(q21_late_supplier(spark, SF))
    # exists/not-exists rewritten as a per-order aggregate joined back on
    # l_orderkey: the fact table is shuffled on orderkey once and the
    # aggregate + join reuse that partitioning (no second fact exchange);
    # supplier is broadcast
    assert "BroadcastHashJoin" in plan
    assert "o_orderstatus" in plan and "EqualTo(o_orderstatus,F)" in plan


def test_q17_plan(spark):
    from datapipeline_spark.queries_core import q17_small_qty_revenue

    plan = _plan(q17_small_qty_revenue(spark, SF))
    # selective part filter pushed to the part scan and applied to the fact
    # rows FIRST via broadcast join — the per-part average never sees
    # unselected parts
    assert "EqualTo(p_brand,Brand#1)" in plan
    assert "EqualTo(p_type,ECONOMY)" in plan
    assert "BroadcastHashJoin" in plan


def test_q15_plan(spark):
    from datapipeline_spark.queries_core import q15_top_supplier

    plan = _plan(q15_top_supplier(spark, SF))
    # date range pushed into the lineitem scan; the scalar max arrives as a
    # 1-row broadcast, not a collect
    assert "GreaterThanOrEqual(l_shipdate" in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_q15_reuses_revenue_aggregate(spark):
    from datapipeline_spark.queries_core import q15_top_supplier

    df = q15_top_supplier(spark, SF)
    df.collect()
    plan = _plan(df)
    assert "isFinalPlan=true" in plan
    # the scalar-max branch reuses the quarterly revenue aggregate's shuffle
    # stage instead of re-scanning + re-aggregating lineitem (requires the
    # explicit l_suppkey IsNotNull in the shared subtree — the supplier join
    # branch infers it, and the constraint asymmetry otherwise breaks
    # canonical equality between the two branches)
    assert "ReusedExchange" in plan


def test_q2_plan(spark):
    from datapipeline_spark.queries_core import q2_min_cost_supplier

    plan = _plan(q2_min_cost_supplier(spark, SF))
    # part-class filter pushed to the part scan and broadcast into the fact
    # scan before the offer aggregate; groupwise min is a window over the
    # part key — no duplicated offers subtree, no (part, cost) re-shuffle
    assert "EqualTo(p_type,STANDARD)" in plan
    assert "LessThanOrEqual(p_size,15)" in plan
    assert "Window" in plan
    assert "BroadcastHashJoin" in plan
    assert _shuffles(plan) <= 4


def test_q9_plan(spark):
    from datapipeline_spark.queries_core import q9_product_profit

    plan = _plan(q9_product_profit(spark, SF))
    # name-substring part filter pushed to the part scan; every dim join
    # broadcast; ONE shuffle total (the final nation×year aggregate)
    assert "StringContains(p_name,gear)" in plan
    assert plan.count("BroadcastHashJoin") == 4
    assert _shuffles(plan) == 1


def test_q11_plan(spark):
    from datapipeline_spark.queries_core import q11_part_value

    plan = _plan(q11_part_value(spark, SF))
    # nation filter pushed; the 0.1% threshold arrives as a 1-row broadcast
    # (scalar grand total), never a driver collect
    assert "EqualTo(n_name,NATION_7)" in plan
    assert "BroadcastNestedLoopJoin" in plan
    assert _shuffles(plan) <= 3


def test_q11_reuses_part_aggregate(spark):
    from datapipeline_spark.queries_core import q11_part_value

    # sf0.001 has no NATION_7 lineitem rows: AQE propagates EmptyRelation
    # before stage reuse can appear, so assert at sf0.01 where the branch
    # is real
    df = q11_part_value(spark, "/root/testdata/sf0.01")
    df.collect()
    plan = _plan(df)
    assert "isFinalPlan=true" in plan
    # the grand-total branch reuses the per-part aggregate's shuffle stage
    # instead of re-scanning the fact subtree
    assert "ReusedExchange" in plan


def test_q16_plan(spark):
    from datapipeline_spark.queries_core import q16_parts_supplier_count

    plan = _plan(q16_parts_supplier_count(spark, SF))
    # complaint-supplier exclusion is a broadcast anti join; the distinct
    # supplier count is a two-level aggregate (distinct pairs then count),
    # never a distinct-agg Expand
    assert "LeftAnti" in plan
    assert "LessThan(s_acctbal,0.0)" in plan
    assert "Expand" not in plan
    assert _shuffles(plan) <= 2


def test_q20_plan(spark):
    from datapipeline_spark.queries_core import q20_dominant_suppliers

    plan = _plan(q20_dominant_suppliers(spark, SF))
    # ship-date range pushed into the fact scan; the per-part total is a
    # window over the part key, so the per-(part,supplier) aggregate subtree
    # is never duplicated
    assert "GreaterThanOrEqual(l_shipdate,1997-01-01" in plan
    assert "Window" in plan
    assert _shuffles(plan) <= 3


def test_q22_plan(spark):
    from datapipeline_spark.queries_core import q22_dormant_customers

    plan = _plan(q22_dormant_customers(spark, SF))
    # dormancy = anti join against the date-filtered orders scan
    assert "LeftAnti" in plan
    assert "GreaterThanOrEqual(o_orderdate" in plan


def test_multi_res_rollup_reuses_minute_level(spark):
    from datapipeline_spark.queries_core import multi_res_rollup

    df = multi_res_rollup(spark, SF)
    df.collect()  # AQE exchange reuse only appears in the executed final plan
    plan = _plan(df)
    assert "isFinalPlan=true" in plan
    # hour and day branches reuse the minute aggregate's shuffle instead of
    # re-scanning + re-aggregating the raw events
    assert plan.count("ReusedExchange") >= 2


def test_scd2_plan(spark):
    from datapipeline_spark.queries_core import scd2_user_segments

    plan = _plan(scd2_user_segments(spark, SF))
    # lag + running change count + run aggregate + interval lead all ride
    # ONE user_id exchange: hashpartitioning(user_id) satisfies the
    # (user_id, run_id) clustering of the aggregate and the lead window
    assert "Window" in plan
    assert _shuffles(plan) == 1


def test_pii_redact_plan(spark):
    from datapipeline_spark.queries_data import REGISTRY

    plan = _plan(REGISTRY["pii_redact"][0](spark, SF))
    # scrubbing is a fused map-only projection: zero shuffles, no Python
    assert _shuffles(plan) == 0
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_fuzzy_match_plan(spark):
    from datapipeline_spark.queries_data import REGISTRY

    plan = _plan(REGISTRY["fuzzy_match_customers"][0](spark, SF))
    # pair generation is an equi-join on the blocking key with the distance
    # threshold as a residual — never an all-pairs cartesian
    assert "CartesianProduct" not in plan
    assert "levenshtein" in plan


def test_pagerank_materializes_edges_once(spark):
    from datapipeline_spark.queries_core import pagerank_parts

    df = pagerank_parts(spark, SF)
    plan = _plan(df)
    # the static (src, dst, outdeg) relation is eagerly checkpointed inside
    # pagerank: the returned plan must hold NO edge-construction subtree —
    # no lineitem scan, no co-occurrence self-join — only checkpoint scans,
    # regardless of iteration count (structural, unlike AQE exchange reuse)
    assert "FileScan" not in plan
    assert "ExistingRDD" in plan
    assert "CartesianProduct" not in plan


def test_broadcast_center_stages_derived_global(spark):
    from datapipeline_spark.queries_core import broadcast_center

    plan = _plan(broadcast_center(spark, SF))
    # the broadcast side derives from the primary: staging materializes the
    # collapsed-hourly subtree once, so the events scan appears ONCE on the
    # probe side (was 4 FileScans / twice-computed collapse before staging)
    assert plan.count("FileScan") == 1  # the events scan, probe side only
    assert "ExistingRDD" in plan
    assert "BroadcastHashJoin" in plan


def test_scd2_point_in_time_plan(spark):
    from datapipeline_spark.queries_core import scd2_point_in_time

    plan = _plan(scd2_point_in_time(spark, SF))
    # interval containment rides the as-of union + forward-fill: no range
    # join, no interval explosion, no cartesian anywhere
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Window" in plan


def test_snapshot_diff_plan(spark):
    from datapipeline_spark.queries_core import snapshot_diff_states

    plan = _plan(snapshot_diff_states(spark, SF))
    # latest-per-key keeps one candidate row per key below the exchange
    assert "WindowGroupLimit" in plan
    assert "FullOuter" in plan


def test_runtime_bloom_filter_join_pruning(spark):
    """Spark's runtime Bloom-filter join pruning (on by default in this
    engine's sessions) injects a might_contain() semi-filter on the big
    side of a selective join. At production scan sizes it fires on its
    own (creation side < 10 MB, application side > 10 GB); this test
    lowers the size thresholds to pin that the capability is live in this
    build — the 100 TB behavior, demonstrated at test scale."""
    from pyspark.sql import functions as F

    from datapipeline_spark.tables import load_table

    saved = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        )
    }
    try:
        assert spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled") == "true"
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0"
        )
        li = load_table(spark, "/root/testdata/sf0.1", "lineitem")
        o = load_table(spark, "/root/testdata/sf0.1", "orders").filter(
            F.col("o_totalprice") > 390000
        )
        j = li.join(o, li.l_orderkey == o.o_orderkey).groupBy("o_orderpriority").count()
        j.collect()
        plan = _plan(j)
        assert "might_contain" in plan  # big side pre-filtered by the bloom
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_touch_attribution_plan(spark):
    from datapipeline_spark.queries_core import touch_attribution

    plan = _plan(touch_attribution(spark, SF))
    # both attribution endpoints + the touch count resolve from ONE
    # event-time range frame over the unioned stream — no self-join, no
    # per-purchase subquery (2 shuffles: touch collapse + the window)
    assert "Join" not in plan
    assert "Window" in plan
    assert _shuffles(plan) <= 2


def test_robust_anomaly_plan(spark):
    from datapipeline_spark.queries_core import robust_anomaly

    plan = _plan(robust_anomaly(spark, SF))
    # one canonical exchange; all three quartiles come from a single
    # array-percentile frame evaluation (not three percentile windows)
    assert _shuffles(plan) == 1
    assert plan.count("percentile") <= 2  # partial+final of ONE evaluation


def test_minhash_dedup_pairs_candidate_bounded(spark):
    """The jaccard verification stage must never self-join keyed on the
    shingle alone — a boilerplate shingle in 100k docs would explode that
    join regardless of LSH bucket caps. Candidate-bounded form: shingles
    match on (doc id, shingle), driven FROM the candidate pairs."""
    from datapipeline_spark.dedup import MinHashParams, minhash_dedup_pairs
    from datapipeline_spark.tables import load_table

    d = load_table(spark, SF, "documents")
    plan = _plan(minhash_dedup_pairs(d, params=MinHashParams(), bands=4, threshold=0.5))
    assert "CartesianProduct" not in plan
    # no join whose (left) key list is exactly one shingle column
    assert not re.search(r"Join \[shingle#\d+\],", plan)
    # the intersection join is keyed on (id, shingle)
    assert re.search(r"Join \[id_b#\d+L, shingle#\d+\],", plan)


def test_lsh_similar_pairs_bucket_bounded(spark):
    """Embedding pair generation must be the capped IN-BUCKET grouped-map
    scorer keyed on (band, bucket) — never an O(n²) id-inequality join,
    a bucket-keyed self-join, NOR the per-pair vector join-back (which
    Arrow-transferred every vector once per candidate pair; round-7 opt).
    The whole pair surface is one grouped Python evaluation whose group
    memory is bounded by the max_bucket cap."""
    from datapipeline_spark.similarity import lsh_similar_pairs
    from datapipeline_spark.tables import load_table

    e = load_table(spark, SF, "embeddings")
    plan = _plan(lsh_similar_pairs(e, threshold=0.3))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # scoring = ONE grouped-map python stage keyed on (band, bucket)...
    assert re.search(r"FlatMapGroupsInPandas \[band#\d+, bucket#\d+L?\]", plan)
    # ...no join anywhere (blocking and scoring are join-free), and the
    # only row-stream Python stage is the signature map (no per-pair
    # ArrowEvalPython cosine scorer)
    assert "Join" not in plan
    assert plan.count("ArrowEvalPython") == 1


def test_registry_near_dup_entries_are_lsh_wired():
    """The registered clustering/dedup entries must compose the bounded LSH
    candidate path (bands CTE in the oracle == minhash_dedup_pairs on the
    Spark side), not the all-pairs co-shingle or cosine self-joins."""
    from datapipeline_spark.queries_data import REGISTRY

    for name in ("near_dup_clusters", "dedup_representatives", "minhash_lsh_pairs"):
        sql = REGISTRY[name][1]
        assert "cand" in sql and "bands" in sql, name
    for name in ("embedding_similar_pairs", "embedding_near_dup"):
        sql = REGISTRY[name][1]
        assert "bucket" in sql and "HAVING count(*) <=" in sql, name


def test_linkage_plan(spark):
    from datapipeline_spark.queries_data import REGISTRY

    plan = _plan(REGISTRY["linkage_scores_customers"][0](spark, SF))
    # blocked equi-join with the weight threshold as a join residual; the
    # nation scope is pushed into BOTH scans (inferred through the join key)
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan
    assert plan.count("LessThan(c_nationkey,5)") == 2
    assert "levenshtein" in plan


def test_bm25_plan(spark):
    from datapipeline_spark.queries_data import REGISTRY

    plan = _plan(REGISTRY["bm25_search"][0](spark, SF))
    # df + corpus stats come back as broadcasts; the non-broadcast
    # exchanges are the tf/doc-length aggregate families + their joins +
    # the bounded rank window — all keyed on doc/term aggregates, never a
    # corpus-wide sort
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan
    assert _shuffles(plan) <= 8
    assert "rangepartitioning" not in plan.lower().replace(" ", "")


def test_inverted_index_plan(spark):
    from datapipeline_spark.queries_data import REGISTRY

    plan = _plan(REGISTRY["inverted_index"][0](spark, SF))
    # two map-side-combinable aggregates, no global sort (postings sort
    # in-row via sort_array)
    assert _shuffles(plan) == 2
    assert "rangepartitioning" not in plan.lower().replace(" ", "")
    # (sort_array rides in the aggregate's result expressions — not shown
    # in the plan text; posting order is pinned by the unit test + oracle)
    assert "collect_list" in plan


def test_table_profile_single_scan(spark):
    from datapipeline_spark.queries_core import table_profile

    plan = _plan(table_profile(spark, SF))
    # one scan of the table: the multi-distinct profile plans as a single
    # Expand feeding one aggregation family
    assert plan.count("FileScan") == 1
    assert "Expand" in plan


def test_triangle_plan(spark):
    from pyspark.sql import functions as F

    from datapipeline_spark.operators.graph import _undirected, cooccurrence_edges
    from datapipeline_spark.queries_data import REGISTRY
    from datapipeline_spark.tables import load_table

    plan = _plan(REGISTRY["triangle_counts_parts"][0](spark, SF))
    assert "CartesianProduct" not in plan
    # triangle_counts checkpoints the undirected edge set, so the scan sits
    # BELOW the checkpoint barrier; assert pushdown on the frame it
    # checkpoints (the same subtree, above no barrier)
    li = (
        load_table(spark, SF, "lineitem")
        .filter(F.col("l_orderkey") % 5 == 0)
        .select("l_orderkey", "l_partkey")
    )
    raw = _plan(
        _undirected(cooccurrence_edges(li, "l_orderkey", "l_partkey"), "src", "dst")
    )
    assert "CartesianProduct" not in raw
    assert "l_orderkey" in raw and "FileScan" in raw


def test_hll_plan_shuffles_registers_not_rows(spark):
    from datapipeline_spark.queries_data import q_hll_distinct_orders

    plan = _plan(q_hll_distinct_orders(spark, SF))
    # partial register agg + merge + final estimate: exchange family only,
    # no joins, no sorts — shuffle mass is registers, not rows
    assert "Join" not in plan
    assert "Sort" not in plan
    # spread + per-(flag,month,reg) agg + per-(flag,reg) merge + per-flag
    # estimate — every exchange above the first carries register rows only
    assert _shuffles(plan) <= 4


def test_checksum_single_aggregation(spark):
    from datapipeline_spark.queries_data import q_orders_checksum

    plan = _plan(q_orders_checksum(spark, SF))
    assert "Join" not in plan
    assert "Sort" not in plan
    assert _shuffles(plan) == 1  # one bucket-agg exchange; partial_ combine below it
    assert "partial_" in plan


def test_spearman_one_exchange_two_sorts(spark):
    from datapipeline_spark.queries_data import q_spearman_qty_price

    plan = _plan(q_spearman_qty_price(spark, SF))
    assert "Join" not in plan
    # rank windows for x and y ride one hash partitioning on the group key
    # plus the final aggregate exchange
    assert _shuffles(plan) <= 2
    assert plan.count("Sort ") >= 2


def test_bloom_query_probe_side_filter_reaches_scan(spark):
    from datapipeline_spark.queries_data import q_bloom_prefilter_revenue

    plan = _plan(q_bloom_prefilter_revenue(spark, SF))
    # bitmap bit-tests sit in the lineitem scan stage: no exchange between
    # the xxhash64 Filter and the probe scan it protects
    assert "xxhash64" in plan
    between = plan[plan.index("xxhash64") : plan.index("lineitem.parquet")]
    assert "Exchange" not in between


def test_chi_square_one_scan_tiny_windows(spark):
    from datapipeline_spark.queries_data import REGISTRY

    plan = _plan(REGISTRY["chi2_priority_status"][0](spark, SF))
    # one scan -> one map-side-combined cell aggregate; the unpartitioned
    # windows run over the <= r*c cell table (bounded), never the raw rows
    assert plan.count("Scan parquet") == 1
    assert "CartesianProduct" not in plan
    assert _shuffles(plan) <= 4


def test_ols_single_aggregation(spark):
    from datapipeline_spark.queries_data import REGISTRY

    plan = _plan(REGISTRY["ols_qty_price"][0](spark, SF))
    # round-7 prereduce: the (flag, x) frequency pre-aggregate (map-side
    # combined) feeds the sufficient-statistic combine — two exchanges,
    # still no sort/window/join anywhere
    assert plan.count("Scan parquet") == 1
    assert _shuffles(plan) == 2
    assert "Window" not in plan and "Sort" not in plan
    assert "Join" not in plan


def test_ztest_aggregation_tree_only(spark):
    from datapipeline_spark.queries_data import REGISTRY

    plan = _plan(REGISTRY["ab_purchase_ztest"][0](spark, SF))
    # per-user conversion agg + arm-counts agg: two exchanges, no sort/join
    assert plan.count("Scan parquet") == 1
    assert _shuffles(plan) <= 2
    assert "Join" not in plan


def test_markov_one_user_sort(spark):
    from datapipeline_spark.queries_data import REGISTRY

    plan = _plan(REGISTRY["markov_event_transitions"][0](spark, SF))
    # one user-keyed exchange feeds the lag sort; the prev-normalizing
    # window runs over the k*k count table
    assert plan.count("Scan parquet") == 1
    assert "CartesianProduct" not in plan
    assert _shuffles(plan) <= 3


def test_equidepth_never_single_partition_sorts_rows(spark):
    from datapipeline_spark.queries_data import REGISTRY

    plan = _plan(REGISTRY["equidepth_price_bands"][0](spark, SF))
    # the global rank is the two-phase bucketed form: per-bucket windows +
    # a broadcast offsets join; no row-level range partitioning (the only
    # unpartitioned window is the <=2^24-bucket offsets scan)
    assert "rangepartitioning" not in plan.lower().replace(" ", "")
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan or "BroadcastNestedLoopJoin" in plan


def test_benford_single_aggregation(spark):
    from datapipeline_spark.queries_data import REGISTRY

    plan = _plan(REGISTRY["benford_order_prices"][0](spark, SF))
    # one scan -> one map-side-combined digit count; the unpartitioned
    # window runs over the 9-row digit table
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan
    assert _shuffles(plan) <= 2


def test_ks_two_phase_no_row_range_partitioning(spark):
    from datapipeline_spark.queries_data import REGISTRY

    plan = _plan(REGISTRY["ks_price_urgent"][0](spark, SF))
    # cumulative counts ride per-bucket windows + a broadcast offsets join;
    # no range partitioning of the row stream
    assert "rangepartitioning" not in plan.lower().replace(" ", "")
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan or "BroadcastNestedLoopJoin" in plan


def test_mann_whitney_one_exchange_rank_sort(spark):
    from datapipeline_spark.queries_data import REGISTRY

    plan = _plan(REGISTRY["mw_price_returnflag"][0](spark, SF))
    # one group-keyed exchange feeds the rank sort; one aggregate after
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan
    assert _shuffles(plan) <= 2


def test_frequent_pairs_plan_apriori_prune(spark):
    from datapipeline_spark.queries_data import q_frequent_part_pairs

    plan = _plan(q_frequent_part_pairs(spark, SF))
    # the deduped rows are semi-joined to the frequent-item set BEFORE the
    # pair join — the a-priori prune that bounds the quadratic stage
    assert plan.count("LeftSemi") >= 1
    # round-7 shape: every basket-keyed stage rides ONE repartition(basket)
    # exchange (the static pre-AQE plan prints one clone per consumer —
    # identical subtrees, deduped by runtime exchange reuse; what must
    # NEVER appear is a (basket, item)-keyed or other wider exchange), and
    # nothing falls back to an object aggregate
    import re as _re

    parts = set(_re.findall(r"hashpartitioning\(([^)]*?), \d+\)", plan))
    basket_keyed = {p for p in parts if p.startswith("basket#")}
    assert basket_keyed, plan  # the co-partitioning exchange exists
    assert not any(
        "basket#" in p and p not in basket_keyed for p in parts
    ), parts  # no wider basket-keyed exchange (e.g. (basket, item))
    assert "ObjectHashAggregate" not in plan
    # support threshold applied on the aggregated counts, not post-join
    assert "(support" in plan or "support#" in plan


def test_skyline_plan_no_global_row_sort(spark):
    from datapipeline_spark.queries_data import q_skyline_parts

    plan = _plan(q_skyline_parts(spark, SF))
    # the per-row windows are keyed by the bucket — never a partitionless
    # window over the raw rows (the 256-row bucket-prefix table is exempt)
    assert "partial" not in plan or True
    import re as _re

    row_windows = [
        w for w in _re.findall(r"Window \[[^\n]*", plan) if "__b__" in w
    ]
    assert row_windows, plan  # main sweep windows partition by __b__
    assert "hashpartitioning(__b__" in plan


def test_negative_sampling_plan_map_only_generation(spark):
    from datapipeline_spark.queries_data import q_negative_sampling_pairs

    plan = _plan(q_negative_sampling_pairs(spark, SF))
    # candidate generation is explode (Generate) and the item-domain max
    # arrives via broadcast — no extra exchange beyond the labeling join
    assert "Generate explode" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_golden_record_single_exchange(spark):
    from datapipeline_spark.queries_data import q_golden_user_profile

    plan = _plan(q_golden_user_profile(spark, SF))
    # all per-field max_by aggregates share ONE entity-keyed exchange
    assert _shuffles(plan) == 1
    assert "Window" not in plan  # no window, no self-join


def test_interval_concurrency_aggregated_before_window(spark):
    from datapipeline_spark.queries_data import q_shipping_concurrency

    plan = _plan(q_shipping_concurrency(spark, SF))
    # the running sum's sort sees the aggregated per-day table: the window
    # sits ABOVE the aggregation (plans print root-first), never over raw rows
    assert plan.index("Window") < plan.index("HashAggregate")
    assert "Generate" not in plan  # boundary projection is a plain union


def test_rfm_rank_windows_bucketed(spark):
    from datapipeline_spark.queries_data import q_rfm_segmentation

    plan = _plan(q_rfm_segmentation(spark, SF))
    # every per-row rank window partitions by the value bucket — no
    # partitionless window over per-customer rows anywhere
    import re as _re

    wins = _re.findall(r"Window \[[^\n]*row_number[^\n]*", plan)
    assert wins and all("__bucket__" in w for w in wins), wins


def test_journeys_window_group_limit(spark):
    from datapipeline_spark.queries_data import q_top_user_journeys

    plan = _plan(q_top_user_journeys(spark, SF))
    # the rn<=3 prefix must plan as WindowGroupLimit (partial per map task)
    assert "WindowGroupLimit" in plan


def test_gram_matrix_broadcast_pairs(spark):
    from datapipeline_spark.queries_data import q_embedding_gram_matrix

    plan = _plan(q_embedding_gram_matrix(spark, SF))
    # pair indices arrive broadcast; one aggregation exchange total
    assert "BroadcastNestedLoopJoin" in plan
    assert _shuffles(plan) == 1


def test_er_pipeline_blocked_not_cartesian(spark):
    from datapipeline_spark.queries_data import q_entity_resolution_pipeline

    plan = _plan(q_entity_resolution_pipeline(spark, SF))
    # the pair scoring + CC run at construction (checkpointed); the returned
    # plan is the profile join over the component table — never cartesian,
    # and the checkpoint materialization feeds it (no recomputed pair join)
    assert "CartesianProduct" not in plan
    assert "ExistingRDD" in plan or "LocalTableScan" in plan
    assert "levenshtein" not in plan  # scoring never re-runs in the out plan


def test_recsys_model_broadcast(spark):
    from datapipeline_spark.queries_data import q_recsys_eval_popularity

    plan = _plan(q_recsys_eval_popularity(spark, SF))
    # the 5-row model reaches the evaluation join as a broadcast
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "rec_rank" in plan


def test_pareto_rank_bucketed(spark):
    from datapipeline_spark.queries_data import q_revenue_decile_concentration

    plan = _plan(q_revenue_decile_concentration(spark, SF))
    import re as _re

    row_wins = [w for w in _re.findall(r"Window \[[^\n]*row_number[^\n]*", plan)]
    assert row_wins and all("__bucket__" in w for w in row_wins), row_wins


def test_weekday_profile_broadcast(spark):
    from datapipeline_spark.queries_data import q_weekday_seasonality_anomalies

    plan = _plan(q_weekday_seasonality_anomalies(spark, SF))
    # the 7-row weekday profile broadcasts back onto the daily table
    assert "BroadcastHashJoin" in plan
    assert "Window" not in plan  # two aggregations + join, no window at all


def test_incremental_join_delta_all_legs_broadcast(spark):
    """Delta propagation must broadcast the delta sides: the base
    relations are probe-only (no shuffle of 100 TB bases), so the plan
    carries ONLY BroadcastHashJoins and the single delta-fold aggregate
    exchange."""
    from datapipeline_spark.queries_data import REGISTRY

    plan = _plan(REGISTRY["incremental_join_delta"][0](spark, SF))
    assert plan.count("BroadcastHashJoin") == 3  # dA*B, A*dB, dA*dB
    assert "SortMergeJoin" not in plan
    assert _shuffles(plan) <= 1  # only the group-by exchange


def test_inclusion_deps_scans_prune_to_key_columns(spark):
    """One scan per TABLE (round-7: participating key columns ride one
    pass — 6 scans for 10 column sides, not 12 branch scans), each pruned
    to exactly the candidate key columns; and the single-exchange mask
    plan must carry BIGINT keys (the all-integral fast path) with no join
    anywhere."""
    from datapipeline_spark.queries_data import REGISTRY

    plan = _plan(REGISTRY["inclusion_deps"][0](spark, SF))
    key_cols = {
        "l_orderkey", "l_partkey", "l_suppkey",  # lineitem, one scan
        "o_orderkey", "o_custkey",               # orders, one scan
        "c_custkey", "p_partkey",
        "s_suppkey", "s_nationkey", "n_nationkey",
    }
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert len(schemas) == 6, f"expected one scan per table, got {len(schemas)}"
    for rs in schemas:
        for fld in rs.split(","):
            name, typ = fld.split(":")
            assert name in key_cols, f"unpruned scan column: {fld}"
            # scans read the native integral type; the shared-BIGINT cast
            # sits above the scan
            assert typ in {"tinyint", "smallint", "int", "bigint"}, (
                f"non-integral key scanned: {fld}"
            )
    assert "Join" not in plan, "mask plan must be join-free"


def test_link_prediction_reads_checkpointed_edges_once(spark):
    """The symmetric edge set feeds four consumers; after the eager
    localCheckpoint the final plan must read the materialized RDD, never
    re-derive the co-occurrence join from the lineitem scan."""
    from datapipeline_spark.queries_data import REGISTRY

    plan = _plan(REGISTRY["link_prediction_parts"][0](spark, SF))
    assert "Scan ExistingRDD" in plan
    assert "FileScan parquet" not in plan  # lineitem never rescanned


def test_skew_profile_windows_only_over_fof(spark):
    """The cumulative window must run over the frequency-of-frequency
    table (bounded by distinct frequencies), never over the key-frequency
    table: each Window's input must sit above BOTH aggregate levels."""
    from datapipeline_spark.queries_data import REGISTRY

    plan = _plan(REGISTRY["skew_profile_lineitem"][0](spark, SF))
    # Tagged-union scans for ALL profiled keys (the ind_profile shape),
    # each pruned to exactly the three key columns — never a scan per key.
    # The static plan prints the shared fof subtree twice (cum + totals
    # branches); AQE's ReusedExchange merges them at runtime, so allow 2.
    scans = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert 1 <= len(scans) <= 2, f"expected the shared scan, got {len(scans)}"
    for rs in scans:
        assert rs.count(":") == 3, f"unpruned scan: {rs}"
    # windows exist and none consumes a raw FileScan directly
    assert "Window" in plan
    for seg in plan.split("Window")[1:]:
        head = seg[:400]
        assert "FileScan" not in head.split("HashAggregate")[0]


def test_bootstrap_hashes_before_explode(spark):
    """The md5 must run once per ROW (pre-explode): the Project containing
    the conv(md5(...)) expression must sit BELOW the Generate (explode)
    node in the plan tree, never above it."""
    from datapipeline_spark.queries_data import REGISTRY

    plan = _plan(REGISTRY["bootstrap_revenue_ci"][0](spark, SF))
    gen = plan.find("Generate explode")
    md5 = plan.find("md5(")
    assert gen != -1 and md5 != -1
    assert md5 > gen  # deeper in the printed tree = computed first


def test_t5_span_corruption_single_scan_no_python(spark):
    from datapipeline_spark.queries_data import REGISTRY

    plan = _plan(REGISTRY["t5_span_corruption"][0](spark, SF))
    # two scans: the token subtree feeds both the span-id branch and the
    # piece assembly — Catalyst re-reads the PRUNED 2-col scan instead of
    # materializing the token explode, the right trade for a narrow map
    assert plan.count("FileScan parquet") <= 2
    assert "PythonUDF" not in plan and "mapInPandas" not in plan.lower()
    import re as _re

    for rs in _re.findall(r"ReadSchema: struct<([^>]*)>", plan):
        assert rs.count(":") <= 2, rs  # every scan pruned to id+text


def test_quantile_normalize_no_single_task_global_sort(spark):
    """The global ranked lookup must come from the bucketed value rank —
    no unpartitioned Sort over the full input (rangepartitioning would
    betray a global sort)."""
    from datapipeline_spark.queries_data import REGISTRY

    plan = _plan(REGISTRY["quantile_normalize_events"][0](spark, SF))
    assert "rangepartitioning" not in plan.lower()


def test_hll_sliding_merge_is_register_sized(spark):
    """The fan-out explode must run on the aggregated register table (reg
    column present), above the per-day register HashAggregate — never on
    raw events."""
    from datapipeline_spark.queries_data import REGISTRY

    plan = _plan(REGISTRY["hll_sliding_distinct"][0](spark, SF))
    gen = plan.find("Generate explode")
    agg_below = plan[gen:].find("HashAggregate")
    assert gen != -1 and agg_below != -1  # aggregate feeds the explode
    # second scan is the observed-days semi-join side, pruned to ts ONLY
    import re as _re

    schemas = _re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert len(schemas) <= 2
    assert any(s2.count(":") == 1 for s2 in schemas) or len(schemas) == 1


def test_contrastive_windows_are_bucketed(spark):
    """Negative assignment must window by hash bucket, not globally."""
    from datapipeline_spark.queries_data import REGISTRY

    plan = _plan(REGISTRY["contrastive_pairs"][0](spark, SF))
    import re as _re

    # every Sort feeding a Window is preceded by a hashpartitioning
    # exchange on either the doc key or the bucket — no global sort
    assert "rangepartitioning" not in plan.lower()
    assert plan.count("FileScan parquet") == 1


def test_holt_forecast_one_aggregate_no_python(spark):
    from datapipeline_spark.queries_data import REGISTRY

    plan = _plan(REGISTRY["holt_forecast_users"][0](spark, SF))
    assert "PythonUDF" not in plan
    assert plan.count("FileScan parquet") == 1
    assert "ObjectHashAggregate" in plan or "SortAggregate" in plan  # collect_list fold


def test_lsh_knn_distinct_never_carries_vectors(spark):
    """lsh_knn candidate generation must shuffle (id, band, bucket) rows
    only: the dedup distinct and every non-broadcast exchange before the
    re-rank must NOT carry the embedding arrays (deduping array<double>
    pairs was the old plan's dominant cost)."""
    import re as _re

    from datapipeline_spark.queries_data import REGISTRY

    plan = _plan(REGISTRY["lsh_knn"][0](spark, SF))
    # the candidate-dedup aggregate keys on the two ids alone
    for agg in _re.findall(r"HashAggregate\(keys=\[([^\]]*)\]", plan):
        if "query_id" in agg and "neighbor_id" in agg:
            assert "vec" not in agg and "embedding" not in agg
    # no shuffle exchange partitions by (or carries) an embedding column
    for ex in _re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "embedding" not in ex and "_vec" not in ex
    # the small query side is broadcast for the re-rank join
    assert "BroadcastHashJoin" in plan
