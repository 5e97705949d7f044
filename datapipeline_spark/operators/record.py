"""Per-record transforms: arithmetic, logs, time moves, dedupe/collapse.

All are single-column expressions inside whole-stage codegen — no UDFs.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from datapipeline_spark.functions.time import floor_time_expr, shift_time_expr

TIME = "time"


def floor_time(df: DataFrame, cadence: str) -> DataFrame:
    """Floor `time` to cadence on the UTC lattice (reference transforms/time.py:12-21)."""
    return df.withColumn(TIME, floor_time_expr(TIME, cadence))


def shift_time(df: DataFrame, timecode: str) -> DataFrame:
    """Add a signed duration to `time` (reference transforms/time.py:24-32)."""
    return df.withColumn(TIME, shift_time_expr(TIME, timecode))


_DERIVE_OPS = {"add", "sub", "mul", "div"}


def derive(
    df: DataFrame,
    field: str,
    op: str,
    other: str | float | int,
    out: str | None = None,
) -> DataFrame:
    """Binary arithmetic of a field with another field or a constant;
    null-propagating (reference transforms/stream/derive.py:16-68).

    Division by zero raises, as the reference does: the engine session
    runs in ANSI mode, where `/` fails the query with `[DIVIDE_BY_ZERO]`.
    """
    if op not in _DERIVE_OPS:
        raise ValueError(f"Unsupported derive op: {op!r}")
    left = F.col(field)
    right = F.col(other) if isinstance(other, str) else F.lit(other)
    expr = {
        "add": left + right,
        "sub": left - right,
        "mul": left * right,
        "div": left / right,
    }[op]
    return df.withColumn(out or field, expr)


def log_op(df: DataFrame, field: str, out: str | None = None, strict: bool = False) -> DataFrame:
    """Natural log, domain x>0; missing passes through
    (reference transforms/stream/logarithm.py:13-54).

    ``strict=True`` raises on x ≤ 0 as the reference does; project
    streams compile with it. The default keeps Spark's NULL for x ≤ 0,
    the value the `derive_log` query's SQL oracle (DuckDB `ln`) is
    compared against."""
    c = F.col(field)
    expr = F.log(c)
    if strict:
        expr = F.when(
            c.isNotNull() & (c <= 0), F.raise_error(F.lit(f"log: domain violation in {field}"))
        ).otherwise(expr)
    return df.withColumn(out or field, expr)


def log1p_op(df: DataFrame, field: str, out: str | None = None, strict: bool = False) -> DataFrame:
    """Precise log1p, domain x>-1 (reference transforms/stream/logarithm.py:13-54).
    ``strict`` as in log_op: True raises on x ≤ -1 (project streams), the
    default yields NULL there (the `derive_log` query)."""
    c = F.col(field)
    expr = F.log1p(c)
    if strict:
        expr = F.when(
            c.isNotNull() & (c <= -1),
            F.raise_error(F.lit(f"log1p: domain violation in {field}")),
        ).otherwise(expr)
    return df.withColumn(out or field, expr)


def dedupe(df: DataFrame) -> DataFrame:
    """Drop identical records (time + full payload equality).

    The reference drops *consecutive* identical records in the sorted stream
    (transforms/stream/dedupe.py:6-15); under canonical order that equals a
    full-row distinct, which Spark executes as a hash aggregate with map-side
    partial dedup — no global sort.
    """
    return df.dropDuplicates()


def collapse(
    df: DataFrame,
    partition_by: Sequence[str],
    keep: str = "last",
    arrival_col: str | None = None,
    time_field: str = TIME,
) -> DataFrame:
    """Keep first/last among records sharing `(partition, time)`.

    Reference: transforms/stream/collapse.py:8-37 — "adjacent" in a stably
    sorted stream means same key; arrival order is the input file order, so
    callers thread an arrival ordinal (monotonically_increasing_id at source,
    or any stable tiebreaker column) — SURVEY.md §7 "What's hard" (3).
    """
    if keep not in ("first", "last"):
        raise ValueError(f"collapse keep must be first|last, got {keep!r}")
    ord_col = arrival_col or "__arrival__"
    work = df if arrival_col else df.withColumn(ord_col, F.monotonically_increasing_id())
    order = F.col(ord_col).asc() if keep == "first" else F.col(ord_col).desc()
    w = Window.partitionBy(*partition_by, time_field).orderBy(order)
    out = work.withColumn("__rn__", F.row_number().over(w)).filter(F.col("__rn__") == 1)
    out = out.drop("__rn__")
    return out if arrival_col else out.drop(ord_col)
