from datapipeline_spark.streaming.ops import (
    cadence_assembly_stream,
    dedupe_stream,
    interval_join_stream,
    cusum_stream,
    near_dup_filter_stream,
    profile_stream,
    rolling_mean_stream,
    sessionize_stream,
    stream_jsonl_source,
)

__all__ = [
    "cadence_assembly_stream",
    "dedupe_stream",
    "interval_join_stream",
    "cusum_stream",
    "near_dup_filter_stream",
    "profile_stream",
    "rolling_mean_stream",
    "sessionize_stream",
    "stream_jsonl_source",
]
