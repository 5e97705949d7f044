from datapipeline_spark.sources.readers import (
    http_source,
    read_csv,
    read_json,
    read_jsonl,
    read_orc_glob,
    read_parquet_glob,
    time_ticks,
)

__all__ = [
    "read_csv",
    "read_json",
    "read_jsonl",
    "read_parquet_glob",
    "read_orc_glob",
    "time_ticks",
    "http_source",
]
