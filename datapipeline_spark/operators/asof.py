"""Beyond-reference temporal join/grouping operators: as-of join, sessionize,
top-k per partition.

The reference joins only on exact `(partition, time)` and reconstructs as-of
behavior by `ensure_ticks` + `forward_fill` (docs/dataflow.md "no implicit
as-of or fill"). At 100 TB that detour materializes a dense tick lattice; a
native as-of join is strictly cheaper, so this module adds one as a
first-class operator.

Scale design: the as-of join is the **union + forward-fill** formulation —
one shuffle on `(partition)`, one per-partition sort, no range-explosion and
no per-row binary search. A broadcast-range join would shuffle `left ×
right` candidates; this stays O(|L| + |R|) per partition and AQE handles
skewed partitions.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from datapipeline_spark.functions.time import parse_timecode_seconds

TIME = "time"


def asof_join(
    left: DataFrame,
    right: DataFrame,
    partition_by: Sequence[str],
    right_fields: Sequence[str] | None = None,
    tolerance: str | None = None,
    suffix: str = "_asof",
) -> DataFrame:
    """For each left row, attach the most recent right row with
    `right.time <= left.time` within the same partition (backward as-of).

    Implementation: tag and union both sides, sort within partition by
    `(time, tag)` (right rows first on ties so an exact-time match is
    visible), forward-fill the right payload, keep left rows. `tolerance`
    (timecode, e.g. "2h") nulls matches older than the horizon.
    """
    if right_fields is None:
        right_fields = [
            c for c in right.columns if c not in (*partition_by, TIME)
        ]
    out_fields = [f + suffix for f in right_fields]
    left_cols = [c for c in left.columns]

    l_tagged = left.select(
        *left_cols,
        F.lit(1).alias("__tag__"),
        *[F.lit(None).cast(dict(right.dtypes)[f]).alias(o) for f, o in zip(right_fields, out_fields)],
        F.lit(None).cast("timestamp").alias("__rtime__"),
    )
    r_tagged = right.select(
        *[
            F.col(c) if c in (*partition_by, TIME) else F.lit(None).cast(t).alias(c)
            for c, t in left.dtypes
        ],
        F.lit(0).alias("__tag__"),
        *[F.col(f).alias(o) for f, o in zip(right_fields, out_fields)],
        F.col(TIME).alias("__rtime__"),
    )
    unioned = l_tagged.unionByName(r_tagged)

    w = (
        Window.partitionBy(*[F.col(c) for c in partition_by])
        .orderBy(F.col(TIME), F.col("__tag__"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    filled = unioned.select(
        *left_cols,
        "__tag__",
        *[F.last(o, ignorenulls=True).over(w).alias(o) for o in out_fields],
        F.last("__rtime__", ignorenulls=True).over(w).alias("__rtime__"),
    )
    out = filled.filter(F.col("__tag__") == 1).drop("__tag__")
    if tolerance is not None:
        # exact micros — unix_timestamp would truncate sub-second precision
        horizon_us = parse_timecode_seconds(tolerance) * 1_000_000
        in_range = (
            F.col("__rtime__").isNotNull()
            & (
                F.unix_micros(F.col(TIME)) - F.unix_micros(F.col("__rtime__"))
                <= F.lit(horizon_us)
            )
        )
        out = out.select(
            *left_cols,
            *[F.when(in_range, F.col(o)).alias(o) for o in out_fields],
            "__rtime__",
        )
    return out.drop("__rtime__")


def sessionize(
    df: DataFrame,
    gap: str,
    partition_by: Sequence[str],
    time_field: str = TIME,
    out: str = "session_id",
) -> DataFrame:
    """Assign per-partition session ids: a new session starts when the gap
    since the previous record exceeds `gap` (timecode). Session id is the
    0-based session ordinal within the partition — one window pass, no
    state beyond the running sum."""
    gap_us = parse_timecode_seconds(gap) * 1_000_000
    w = Window.partitionBy(*[F.col(c) for c in partition_by]).orderBy(time_field)
    prev = F.lag(time_field).over(w)
    # exact micros — unix_timestamp truncates sub-second precision, which
    # would mis-split sessions whose gap straddles the threshold
    new_session = F.when(
        prev.isNull()
        | ((F.unix_micros(F.col(time_field)) - F.unix_micros(prev)) > gap_us),
        F.lit(1),
    ).otherwise(F.lit(0))
    run = Window.partitionBy(*[F.col(c) for c in partition_by]).orderBy(
        time_field
    ).rowsBetween(Window.unboundedPreceding, 0)
    return df.withColumn(out, F.sum(new_session).over(run) - F.lit(1))


def top_k(
    df: DataFrame,
    k: int,
    order_by: Sequence[str],
    partition_by: Sequence[str] = (),
) -> DataFrame:
    """Top-k rows per partition by `order_by` (gap in the reference —
    SURVEY.md §2.4 notes it as absent). `row_number` over a window; Spark
    pushes a per-partition partial top-k below the shuffle
    (WindowGroupLimit), so this does NOT sort whole partitions at scale.
    Descending order; the 1-based position is column `rank`."""
    cols = [F.col(c).desc() for c in order_by]
    w = Window.partitionBy(*[F.col(c) for c in partition_by]).orderBy(*cols)
    ranked = df.withColumn("__rank__", F.row_number().over(w)).filter(
        F.col("__rank__") <= k
    )
    return ranked.withColumnRenamed("__rank__", "rank")
