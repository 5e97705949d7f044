from datapipeline_spark.io.writers import (
    materialize,
    run_output_path,
    write_csv,
    write_jsonl,
    write_orc,
    write_parquet,
)

__all__ = [
    "write_jsonl",
    "write_csv",
    "write_parquet",
    "write_orc",
    "materialize",
    "run_output_path",
]
