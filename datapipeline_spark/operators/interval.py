"""Bucketed interval (range) join: facts x [start, end) windows.

Spark has no native range join; the naive formulation

    facts JOIN intervals ON key = key AND time >= start AND time < end

plans as a join on the key alone with the range as a residual — fine when
keys are selective, catastrophic when a key has many windows (every fact row
meets every window of its key). The scalable form used here is the standard
bucketing decomposition (the same trick behind Databricks' range-join hint
and KDB's window joins):

1. quantize time into fixed buckets of width ``bucket``;
2. each fact row lands in exactly ONE bucket; each interval is exploded to
   the buckets it overlaps (cheap when windows are short relative to the
   bucket — pick ``bucket`` ~ the typical window length);
3. equi-join on (key…, bucket) — a hash join Catalyst can shuffle or
   broadcast — then apply the exact range predicate as a residual filter.

Because a fact's bucket is unique, a (fact, interval) pair can meet in at
most one bucket: no post-join dedup is needed. Cost scales with
rows x (window/bucket), not rows x windows-per-key.

Reference has no interval join (closest is alignment/broadcast.py exact-key
alignment); this is one of the beyond-reference operators SURVEY.md §2.5
calls for alongside the as-of join (operators/asof.py).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from datapipeline_spark.functions.time import parse_cadence_seconds


def _bucket(col: Column, width_us: int) -> Column:
    return F.floor(F.unix_micros(col) / F.lit(width_us)).cast("long")


def interval_join(
    facts: DataFrame,
    intervals: DataFrame,
    on: Sequence[str],
    time_col: str = "time",
    start_col: str = "start",
    end_col: str = "end",
    bucket: str = "1h",
    max_buckets_per_interval: int = 10_000,
) -> DataFrame:
    """Inner-join ``facts`` rows to every interval containing them, one
    row per containing window; unmatched facts are dropped.

    ``facts.time_col`` ∈ [``start_col``, ``end_col``) — half-open, so
    back-to-back windows never double-match a boundary fact. The result
    does not depend on ``bucket``, which only sizes the equi-join key
    (tests compare widths against each other and a naive join).

    An interval spanning more than ``max_buckets_per_interval`` buckets
    fails fast with a clear error instead of silently exploding the
    interval side (a year-long window at a 1-minute bucket is ~525k rows
    PER interval — the fix is a coarser ``bucket``, and the guard is how
    you find out).
    """
    width_us = parse_cadence_seconds(bucket) * 1_000_000
    keys = list(on)

    last_b = _bucket(F.col(end_col) - F.expr("INTERVAL 1 MICROSECOND"), width_us)
    first_b = _bucket(F.col(start_col), width_us)
    span = last_b - first_b + 1
    # the guard must live INSIDE an expression the plan actually evaluates
    # (a standalone projected-then-dropped column gets pruned by Catalyst
    # and the raise_error would never fire)
    guard = F.coalesce(
        F.when(
            span > max_buckets_per_interval,
            F.raise_error(
                F.concat(
                    F.lit(
                        f"interval_join: interval spans more than "
                        f"{max_buckets_per_interval} x {bucket} buckets ("
                    ),
                    span.cast("string"),
                    F.lit("); widen bucket= or raise max_buckets_per_interval"),
                )
            ).cast("long"),
        ),
        F.lit(0),
    )
    f = facts.withColumn("__b__", _bucket(F.col(time_col), width_us))
    iv = intervals.withColumn(
        "__b__",
        F.explode(
            F.sequence(
                first_b + guard,
                # end is exclusive: a window ending exactly on a bucket edge
                # does not reach into that bucket
                last_b,
            )
        ),
    )
    in_window = (F.col(time_col) >= F.col(start_col)) & (
        F.col(time_col) < F.col(end_col)
    )
    return f.join(iv, keys + ["__b__"], "inner").filter(in_window).drop("__b__")


def interval_concurrency(
    intervals: DataFrame,
    start_col: str,
    end_col: str,
    out: str = "concurrent",
) -> DataFrame:
    """Sweep-line concurrency: for every boundary point, how many
    [start, end) intervals cover it — peak-load / in-transit / concurrent-
    sessions analytics (the classic interval stabbing aggregate; no
    reference analogue).

    One +1/-1 boundary projection, one map-side-combined groupBy on the
    boundary value, then a running sum over the AGGREGATED boundary table
    — whose row count is the number of DISTINCT boundary points (days,
    slots), not input rows, so the partitionBy-less window rides the same
    tiny-table contract as the Markov/prefix tables (bounded by the time
    domain; for an unbounded domain feed it through
    bucketed_global_rank's two-phase prefix instead). Emits one row per
    distinct boundary point with the concurrency ON that point (start
    inclusive, end exclusive).
    """
    from pyspark.sql import Window

    b = intervals.select(
        F.col(start_col).alias("point"), F.lit(1).alias("__d__")
    ).unionAll(
        intervals.select(F.col(end_col).alias("point"), F.lit(-1).alias("__d__"))
    )
    daily = b.groupBy("point").agg(F.sum("__d__").alias("__delta__"))
    w = Window.orderBy("point").rowsBetween(Window.unboundedPreceding, 0)
    return daily.select(
        "point", F.sum("__delta__").over(w).cast("long").alias(out)
    )
