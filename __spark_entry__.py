"""Driver contract for the spark-graft builder (PySpark target).

- ``entry(spark)``: flagship query (pricing summary) at sf0.001.
- ``queries()``: one entry per implemented operator from SURVEY.md §2
  (+ the large-scale training-data operators), each (spark, sf_dir) → DataFrame.
- ``oracle_sql()``: matching DuckDB SQL with identical column names/values.

The registry lives in datapipeline_spark.queries_core; queries_data,
queries_dataset and queries_streaming register into it.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def _registry():
    """Every registry query: each ``queries_*`` module registers into the
    one ``queries_core.REGISTRY`` when it is imported."""
    import datapipeline_spark.queries_data  # noqa: F401
    import datapipeline_spark.queries_dataset  # noqa: F401
    import datapipeline_spark.queries_streaming  # noqa: F401
    from datapipeline_spark.queries_core import REGISTRY

    return REGISTRY


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from datapipeline_spark.queries_core import q1_pricing_summary

    return q1_pricing_summary(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: fn for name, (fn, _sql) in _registry().items()}


def oracle_sql() -> dict[str, str]:
    return {name: sql for name, (_fn, sql) in _registry().items() if sql is not None}
