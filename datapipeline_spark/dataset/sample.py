"""Sample assembly: long series rows → one wide row per (bucket, entity).

Reference: group by `(floor(time, cadence), *sample.keys)` and pivot
`series_id → value` (operations/artifacts/series.py:216-333; read path
pipelines/sample/input.py:156-248). In Spark this is a single
groupBy().pivot().agg() — one shuffle on the sample key, with the pivot
column list supplied explicitly so the plan is static (no extra pass to
discover ids, and the 100 TB plan does not depend on data).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from datapipeline_spark.functions.time import floor_time_expr
from datapipeline_spark.operators.ticks import tick_grid


#: Cap on id discovery (`series_ids=None`): a pivot is one output COLUMN per
#: id, so the id set must be configuration-scale (the reference's plans list
#: them explicitly in YAML), never data-scale. The distinct-collect is bounded
#: by this limit; above it the caller almost certainly wanted a groupBy, and
#: we fail fast instead of building a 100k-column plan.
MAX_DISCOVERED_SERIES_IDS = 10_000


def assemble_samples(
    series: DataFrame,
    cadence: str,
    entity_keys: Sequence[str] = (),
    series_ids: Sequence[str] | None = None,
    sequence_ids: Sequence[str] = (),
    max_discovered_ids: int = MAX_DISCOVERED_SERIES_IDS,
) -> DataFrame:
    """Pivot series rows into samples.

    - `series_ids`: explicit pivot list (recommended — static plan). None
      triggers a distinct scan (fine interactively, avoid at scale), bounded
      by `max_discovered_ids` — exceeding it raises rather than compiling an
      unboundedly wide plan (tests lower it to reach the raise at small
      data; callers keep MAX_DISCOVERED_SERIES_IDS).
    - A (bucket, entity, id) bucket holding several values keeps the last
      by time (the reference collapses into the bucket).
    - `sequence_ids`: ids whose bucketed values become ordered lists
      (SeriesSequence semantics) instead of scalars.
    Output: sample.time (bucket start), entity keys, one column per id.
    """
    bucket = floor_time_expr("time", cadence).alias("sample_time")
    keyed = series.select(bucket, *entity_keys, "series_id", "time", "value")

    if series_ids is None:
        probe = (
            keyed.select("series_id").distinct().limit(max_discovered_ids + 1).collect()
        )
        if len(probe) > max_discovered_ids:
            raise ValueError(
                f"assemble_samples: series_id discovery found more than "
                f"{max_discovered_ids} distinct ids; a pivot emits one column "
                f"per id, so pass an explicit series_ids list (or raise "
                f"max_discovered_ids) if this width is intentional"
            )
        series_ids = [r[0] for r in probe]

    scalar_ids = [s for s in series_ids if s not in sequence_ids]
    scalar_agg = F.max_by(F.col("value"), F.col("time"))

    aggs = {}
    for sid in scalar_ids:
        aggs[sid] = scalar_agg
    for sid in sequence_ids:
        aggs[sid] = F.array_sort(
            F.collect_list(F.struct(F.col("time").alias("t"), F.col("value").alias("v")))
        )

    wide = (
        keyed.groupBy("sample_time", *entity_keys)
        .pivot("series_id", list(series_ids))
        .agg(
            F.first("value")
            if not aggs
            else scalar_agg  # uniform agg; sequence ids post-processed below
        )
    )
    if sequence_ids:
        # pivot supports one agg; redo sequence columns from a second pass
        seq = (
            keyed.filter(F.col("series_id").isin(list(sequence_ids)))
            .groupBy("sample_time", *entity_keys)
            .pivot("series_id", list(sequence_ids))
            .agg(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("time").alias("t"), F.col("value").alias("v")))
                    ),
                    lambda s: s["v"],
                )
            )
        )
        wide = wide.drop(*[c for c in sequence_ids]).join(
            seq, ["sample_time", *entity_keys], "left"
        )
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
