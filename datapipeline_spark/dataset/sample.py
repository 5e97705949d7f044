"""Sample assembly: long series rows → one wide row per (bucket, entity).

Reference: group by `(floor(time, cadence), *sample.keys)` and pivot
`series_id → value` (operations/artifacts/series.py:216-333; read path
pipelines/sample/input.py:156-248). In Spark this is a single
groupBy().pivot().agg() — one shuffle on the sample key — plus, when
some columns hold arrays, one aggregation of those joined onto it. The
caller supplies the column lists, so the plan is static and does not
depend on data: the dataset build takes them from its facts collect, where
it also caps the width (``plans.dataset_build.MAX_PIVOT_COLUMNS``).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from datapipeline_spark.functions.time import floor_time_expr
from datapipeline_spark.operators.ticks import tick_grid


def assemble_samples(
    series: DataFrame,
    cadence: str,
    entity_keys: Sequence[str],
    series_ids: Sequence[str],
    list_ids: Sequence[str] = (),
    window_ids: Sequence[str] = (),
) -> DataFrame:
    """Pivot series rows into samples.

    - `series_ids`: the scalar pivot list, one output column per id. The
      caller knows it (the dataset build from its facts rows), so the pivot
      runs no pass to discover ids. A (bucket, entity, id) bucket holding
      several values keeps the last by time (the reference collapses into
      the bucket).
    - `list_ids`: list-kind ids, whose bucketed values become time-ordered
      lists (the reference's multi-value buckets).
    - `window_ids`: sequence ids (SeriesSequence), whose rows carry their
      window in `values`; a bucket keeps its last window by time.
    The array-valued columns come from one aggregation over their rows,
    left-joined onto the scalar pivot: the pivot groups every row of
    `series`, so it holds every (bucket, entity) the frame has.
    Output: sample.time (bucket start), entity keys, one column per id.
    """
    bucket = floor_time_expr("time", cadence).alias("sample_time")
    keyed = series.select(bucket, *entity_keys, "series_id", "time", "value")
    wide = (
        keyed.groupBy("sample_time", *entity_keys)
        .pivot("series_id", list(series_ids))
        .agg(F.max_by(F.col("value"), F.col("time")))
    )
    if list_ids or window_ids:
        sid = F.col("series_id")
        cell = F.struct(F.col("time").alias("t"), F.col("value").alias("v"))
        lists = [
            F.transform(F.array_sort(F.collect_list(F.when(sid == i, cell))), lambda c: c["v"])
            .alias(i)
            for i in list_ids
        ]
        windows = [
            F.max_by(F.when(sid == i, F.col("values")), F.when(sid == i, F.col("time"))).alias(i)
            for i in window_ids
        ]
        arrays = (
            series.filter(sid.isin([*list_ids, *window_ids]))
            .groupBy(bucket, *entity_keys)
            .agg(*lists, *windows)
        )
        wide = wide.join(arrays, ["sample_time", *entity_keys], "left")
    return wide.withColumnRenamed("sample_time", "time")


def rectangular_samples(
    samples: DataFrame,
    cadence: str,
    entity_keys: Sequence[str],
) -> DataFrame:
    """Left-join a dense (tick × entity-domain) key lattice against samples
    (reference pipelines/sample/keys.py:16-121 + input.py:251-274): every
    in-domain bucket appears, absent features as nulls."""
    grid = tick_grid(samples, cadence, entity_keys, time_field="time")
    return grid.join(samples, on=[*entity_keys, "time"], how="left")
