"""Metadata + coverage-stats artifacts.

Reference: VectorMetadataCollector (operations/artifacts/utils.py:22-165) —
per-series-id present/null counts, first/last observed time, kind, list
length; CoverageStatsAccumulator (analysis/vector/coverage_stats.py:24-118)
— per-column present/non-null counters over the wide sample table.

Both are single aggregate passes in Spark; outputs are tiny artifact tables.
``series_facts`` is the metadata artifact's row set: the counts and times
plus the bucket multiplicity that decides each series' kind and list
length, so a dataset build takes its plan-time facts from the artifact
(or, when it is stale, the series frame), and ``combine_bounds`` turns the
per-id times into the metadata window.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from datapipeline_spark.functions.time import floor_time_expr


def collect_series_metadata(long_df: DataFrame, id_col: str = "series_id") -> DataFrame:
    """(id, n_rows, n_present, n_null, first_time, last_time)."""
    return long_df.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("value").alias("n_present"),
        (F.count(F.lit(1)) - F.count("value")).alias("n_null"),
        F.min("time").alias("first_time"),
        F.max("time").alias("last_time"),
    )


def series_facts(long_df: DataFrame, cadence: str, keys: Sequence[str]) -> DataFrame:
    """``collect_series_metadata``'s columns plus the bucket multiplicity:
    (series_id, n_rows, n_present, n_null, first_time, last_time, lo, hi), where
    lo/hi are the fewest and most rows one (floored bucket, *keys) cell of
    the series holds. hi > 1 makes it a list-kind series of length hi
    (reference operations/artifacts/series.py:336-367; utils.py:54-82 wants
    one length, so lo == hi). One aggregation grouped twice: per (bucket,
    *keys, series_id), then per series_id; the floor is monotone, so the
    floor of first_time is the series' first bucket. A sequence row is
    present when its window (``values``) is."""
    present = F.col("value").isNotNull()
    if "values" in long_df.columns:
        present = present | F.col("values").isNotNull()
    cells = long_df.groupBy(
        floor_time_expr("time", cadence).alias("__b__"), *keys, "series_id"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.when(present, 1)).alias("present"),
        F.min("time").alias("first"),
        F.max("time").alias("last"),
    )
    return cells.groupBy("series_id").agg(
        F.sum("n").alias("n_rows"),
        F.sum("present").alias("n_present"),
        (F.sum("n") - F.sum("present")).alias("n_null"),
        F.min("first").alias("first_time"),
        F.max("last").alias("last_time"),
        F.min("n").alias("lo"),
        F.max("n").alias("hi"),
    )


def combine_bounds(bounds, mode: str) -> tuple:
    """Corpus window from per-id [first, last] pairs: union =
    [min(first), max(last)], intersection = [max(first), min(last)]
    (reference operations/artifacts/metadata.py:93-109). Pairs without a
    time are skipped; (None, None) when none is left. An empty
    intersection has first > last."""
    bounds = [(lo, hi) for lo, hi in bounds if lo is not None]
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
