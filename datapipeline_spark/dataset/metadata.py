"""Metadata + coverage-stats artifacts.

Reference: VectorMetadataCollector (operations/artifacts/utils.py:22-165) —
per-series-id present/null counts, first/last observed time, kind, list
length; CoverageStatsAccumulator (analysis/vector/coverage_stats.py:24-118)
— per-column present/non-null counters over the wide sample table.

Both are single aggregate passes in Spark; outputs are tiny artifact tables.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def collect_series_metadata(long_df: DataFrame, id_col: str = "series_id") -> DataFrame:
    """(id, n_rows, n_present, n_null, first_time, last_time)."""
    return long_df.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("value").alias("n_present"),
        (F.count(F.lit(1)) - F.count("value")).alias("n_null"),
        F.min("time").alias("first_time"),
        F.max("time").alias("last_time"),
    )


def window_bounds(
    long_df: DataFrame, id_col: str = "series_id", mode: str = "union"
) -> tuple:
    """Corpus time window across ids from each id's [min, max] ``time``:
    union = [min(first), max(last)], intersection = [max(first), min(last)]
    (reference operations/artifacts/metadata.py:93-109). One grouped
    aggregation over the tiny id domain, combined on the driver; (None, None)
    when no id has a time. An empty intersection has start > end."""
    if mode not in {"union", "intersection"}:
        raise ValueError(f"window mode must be union|intersection, got {mode!r}")
    rows = (
        long_df.groupBy(id_col)
        .agg(F.min("time").alias("lo"), F.max("time").alias("hi"))
        .collect()
    )
    bounds = [(r["lo"], r["hi"]) for r in rows if r["lo"] is not None]
    if not bounds:
        return None, None
    firsts, lasts = zip(*bounds)
    if mode == "union":
        return min(firsts), max(lasts)
    return max(firsts), min(lasts)


def coverage_stats(wide_df: DataFrame, columns: Sequence[str]) -> DataFrame:
    """Long-format per-column stats over the sample table:
    (column, n_rows, n_present, coverage)."""
    total = wide_df.count()
    aggs = [F.count(F.col(c)).alias(c) for c in columns]
    row = wide_df.agg(*aggs).collect()[0]
    spark = wide_df.sparkSession
    data = [(c, total, int(row[c]), (row[c] / total if total else 0.0)) for c in columns]
    return spark.createDataFrame(
        data, "column string, n_rows long, n_present long, coverage double"
    )
