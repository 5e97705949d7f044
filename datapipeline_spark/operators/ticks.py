"""Tick-grid operators: ensure_cadence / ensure_ticks.

Reference: src/datapipeline/transforms/stream/ensure_ticks.py:11-92 and the
tick-grid artifact (artifacts/ticks.py:20-54). Placeholder rows carry null
payload; only `time` + partition fields are populated.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from datapipeline_spark.functions.time import parse_cadence_seconds
from datapipeline_spark.operators.window import canonical_window

TIME = "time"


def ensure_cadence(
    df: DataFrame,
    cadence: str,
    partition_by: Sequence[str] = (),
) -> DataFrame:
    """Insert null-payload placeholder ticks at a fixed interval strictly
    *between* consecutive observed records of each partition
    (reference ensure_ticks.py:11-39; placeholders 95-104).

    Spark shape: `lag(time)` + `explode(sequence(prev+step, next-1s, step))`
    on epoch seconds, unioned back — one window pass plus a narrow explode;
    no driver loop, no grid materialization, scales with the data.
    """
    step = parse_cadence_seconds(cadence)
    w = canonical_window(partition_by, (TIME,))
    prev_s = F.unix_timestamp(F.lag(TIME, 1).over(w))
    cur_s = F.unix_timestamp(F.col(TIME))

    # ticks t = prev + k*step, k>=1, t < cur  (gap interior only)
    gaps = (
        df.select(*partition_by, F.col(TIME), prev_s.alias("__prev_s__"), cur_s.alias("__cur_s__"))
        .filter(F.col("__prev_s__").isNotNull() & (F.col("__cur_s__") - F.col("__prev_s__") > step))
        .select(
            *partition_by,
            F.explode(
                F.sequence(
                    F.col("__prev_s__") + step,
                    F.col("__cur_s__") - 1,
                    F.lit(step),
                )
            ).alias("__tick_s__"),
        )
        .select(*partition_by, F.timestamp_seconds(F.col("__tick_s__")).alias(TIME))
    )
    payload_cols = [c for c in df.columns if c not in (*partition_by, TIME)]
    placeholders = gaps.select(
        *[F.col(c) for c in (*partition_by, TIME)],
        *[F.lit(None).cast(df.schema[c].dataType).alias(c) for c in payload_cols],
    )
    return df.unionByName(placeholders.select(*df.columns))


def tick_grid(
    spark_df_bounds: DataFrame,
    cadence: str,
    partition_by: Sequence[str],
    time_field: str = TIME,
) -> DataFrame:
    """Build a dense per-partition tick grid from each partition's observed
    [min(time), max(time)] span (reference grid builder
    operations/artifacts/ticks.py:67-132). Returns (partition..., time)."""
    step = parse_cadence_seconds(cadence)
    bounds = spark_df_bounds.groupBy(*partition_by).agg(
        F.min(F.unix_timestamp(F.col(time_field))).alias("__lo__"),
        F.max(F.unix_timestamp(F.col(time_field))).alias("__hi__"),
    )
    return bounds.select(
        *partition_by,
        F.explode(F.sequence(F.col("__lo__"), F.col("__hi__"), F.lit(step))).alias("__tick_s__"),
    ).select(*partition_by, F.timestamp_seconds(F.col("__tick_s__")).alias(time_field))


def ensure_ticks(
    df: DataFrame,
    grid: DataFrame,
    partition_by: Sequence[str],
    time_field: str = TIME,
) -> DataFrame:
    """Reindex each partition against a prebuilt tick grid: emit placeholders
    for grid ticks with no record, keep off-grid records
    (reference ensure_ticks.py:42-92) — a full outer join on
    `(partition, time)`, which AQE executes shuffle-partitioned on the same
    keys as the downstream window ops (one shuffle, reused)."""
    keys = [*partition_by, time_field]
    return grid.join(df, on=keys, how="full_outer")
