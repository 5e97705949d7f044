from datapipeline_spark.operators.where import where
from datapipeline_spark.operators.record import (
    collapse,
    dedupe,
    derive,
    log_op,
    log1p_op,
    floor_time,
    shift_time,
)
from datapipeline_spark.operators.window import (
    cusum,
    ewma,
    fill,
    forward_fill,
    forward_sum,
    interpolate_linear,
    lag,
    lead,
    rolling,
    rolling_corr,
    rolling_slope,
    sequence_windows,
)
from datapipeline_spark.operators.ticks import ensure_cadence, ensure_ticks
from datapipeline_spark.operators.align import align_streams, broadcast_stream
from datapipeline_spark.operators.checksum import row_digest, table_checksum
from datapipeline_spark.operators.stats import gini, hhi, spearman_corr
from datapipeline_spark.operators.bloom import (
    bloom_build,
    bloom_filter_keys,
    bloom_prefilter_join,
)
from datapipeline_spark.operators.basket import association_rules, frequent_pairs
from datapipeline_spark.operators.interval import interval_concurrency, interval_join
from datapipeline_spark.operators.skyline import skyline_2d
from datapipeline_spark.operators.survival import life_table
from datapipeline_spark.operators.survivorship import golden_record
from datapipeline_spark.operators.apportion import apportion
from datapipeline_spark.operators.fd import fd_profile
from datapipeline_spark.operators.impute import group_mode, impute_mode
from datapipeline_spark.operators.cdc import apply_changes, snapshot_diff
from datapipeline_spark.operators.cover import greedy_max_coverage
from datapipeline_spark.operators.privacy import k_anonymity_report
from datapipeline_spark.operators.expect import (
    Expectation,
    apply_expectations,
    expectation_report,
)
from datapipeline_spark.operators.graph import (
    bfs_distances,
    cooccurrence_edges,
    cooccurrence_pairs,
    kcore_nodes,
    pagerank,
    triangle_counts,
)
from datapipeline_spark.operators.profile import profile_table
from datapipeline_spark.operators.scd import scd2_history

__all__ = [
    "where",
    "row_digest",
    "table_checksum",
    "spearman_corr",
    "hhi",
    "gini",
    "bloom_build",
    "bloom_filter_keys",
    "bloom_prefilter_join",
    "profile_table",
    "triangle_counts",
    "bfs_distances",
    "kcore_nodes",
    "collapse",
    "dedupe",
    "derive",
    "log_op",
    "log1p_op",
    "floor_time",
    "shift_time",
    "cusum",
    "ewma",
    "fill",
    "forward_fill",
    "forward_sum",
    "interpolate_linear",
    "lag",
    "lead",
    "rolling",
    "rolling_corr",
    "rolling_slope",
    "sequence_windows",
    "ensure_cadence",
    "ensure_ticks",
    "align_streams",
    "broadcast_stream",
    "association_rules",
    "frequent_pairs",
    "interval_join",
    "interval_concurrency",
    "skyline_2d",
    "golden_record",
    "life_table",
    "fd_profile",
    "apportion",
    "group_mode",
    "impute_mode",
    "apply_changes",
    "greedy_max_coverage",
    "snapshot_diff",
    "k_anonymity_report",
    "Expectation",
    "expectation_report",
    "apply_expectations",
    "pagerank",
    "cooccurrence_edges",
    "cooccurrence_pairs",
    "scd2_history",
]
