"""Distributed global rank without a single-partition window.

``row_number() OVER (ORDER BY key)`` collapses to ONE task in any engine —
the classic scale cliff for "assign a global training-example position".
When the leading sort key is a uniform hash, the fix is structural:

1. bucket = top bits of the hash → buckets are a monotone PREFIX of the
   total (hash, tiebreak) order;
2. phase 1: count rows per bucket (tiny aggregate), cumulative offsets over
   the ≤``n_buckets`` rows (bounded global window), broadcast;
3. phase 2: rank WITHIN each bucket (partitioned window) + bucket offset.

Identical output to the naive global window, but the heavy sort runs on
1/n_buckets of the data per partition and scales with executors. Companion
to the same two-phase shape in text/pack.py (token offsets).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def bucketed_global_rank(
    df: DataFrame,
    hash_col: str,
    tiebreak: Sequence[str],
    out: str = "pos",
    hash_bits: int = 52,
    bucket_bits: int = 8,
) -> DataFrame:
    """Add ``out`` = 1-based global rank by ``(hash_col, *tiebreak)``.

    ``hash_col`` must be a non-negative integer column with values below
    ``2**hash_bits`` (uniformly distributed for balanced buckets — e.g. the
    48/52-bit md5/sha prefixes used throughout the query registry). The top
    ``bucket_bits`` bits form the distribution buckets.
    """
    shift = hash_bits - bucket_bits
    if shift <= 0:
        raise ValueError("hash_bits must exceed bucket_bits")
    b = df.withColumn("__bucket__", F.shiftright(F.col(hash_col), shift).cast("int"))
    counts = b.groupBy("__bucket__").agg(F.count(F.lit(1)).alias("__c__"))
    # global window on ≤2**bucket_bits aggregate rows — intentional, bounded
    w_off = Window.orderBy("__bucket__").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.withColumn(
        "__off__", F.coalesce(F.sum("__c__").over(w_off), F.lit(0))
    ).select("__bucket__", "__off__")
    w_in = Window.partitionBy("__bucket__").orderBy(hash_col, *tiebreak)
    return (
        b.join(F.broadcast(offsets), "__bucket__")
        .withColumn(out, (F.col("__off__") + F.row_number().over(w_in)).cast("long"))
        .drop("__bucket__", "__off__")
    )


def reservoir_per_key(
    df: DataFrame,
    key_cols: Sequence[str],
    id_cols: Sequence[str],
    n: int,
    seed: str = "rsv",
) -> DataFrame:
    """Deterministic uniform sample of ``n`` rows per key — the batch twin
    of per-key reservoir sampling (Vitter 1985), derandomized the corpus-
    sampling way (hash-order selection, same contract as the md5-membership
    sampling in the corpus queries): keep the ``n`` rows whose seeded md5
    over ``id_cols`` sorts first within the key.

    Same-sized-uniform-sample guarantees without RNG state: reproducible
    across engines/runs/partitionings, refreshable (a re-run on grown data
    keeps previously chosen rows iff they still rank in the top n), and
    SQL-oracle-exact. Scale: one keyed shuffle; Spark plans the per-key
    top-n as WindowGroupLimit, so only n candidate rows per key per map
    task cross the wire — never the full key group.

    ``id_cols`` must uniquely identify rows within a key (total order, no
    rank ties). The 1-based rank within the key is column ``pick``.
    """
    h = F.md5(
        F.concat_ws("|", F.lit(seed), *[F.col(c).cast("string") for c in id_cols])
    )
    w = Window.partitionBy(*key_cols).orderBy(h)
    return df.withColumn("pick", F.row_number().over(w)).filter(F.col("pick") <= n)


def bucketed_value_rank(
    df: DataFrame,
    value_col: str,
    tiebreak: Sequence[str],
    out: str = "pos",
    buckets: int = 256,
) -> DataFrame:
    """1-based global rank by ``(value_col, *tiebreak)`` for an arbitrary
    exact-integer value column — the VALUE-ordered sibling of
    bucketed_global_rank (whose buckets are hash high bits). Monotone
    value-range buckets come from the broadcast min/max (the skyline_2d
    bucketing): ``(v - lo) * B DIV (hi - lo + 1)`` is a monotone prefix of
    the total order, so per-bucket counts → exclusive offsets over the
    ≤B-row aggregate → within-bucket window reproduce the single-window
    rank exactly without ever sorting the whole input in one task.
    Value skew lands whole duplicate runs in one bucket — same caveat as
    any equi-width decomposition; ranks stay exact regardless."""
    rng = df.agg(
        F.min(F.col(value_col).cast("long")).alias("__lo__"),
        F.max(F.col(value_col).cast("long")).alias("__hi__"),
    )
    b = df.crossJoin(F.broadcast(rng)).withColumn(
        "__bucket__",
        F.expr(
            f"CAST(((CAST({value_col} AS BIGINT) - __lo__) * {int(buckets)})"
            " DIV (__hi__ - __lo__ + 1) AS INT)"
        ),
    )
    counts = b.groupBy("__bucket__").agg(F.count(F.lit(1)).alias("__c__"))
    w_off = Window.orderBy("__bucket__").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.withColumn(
        "__off__", F.coalesce(F.sum("__c__").over(w_off), F.lit(0))
    ).select("__bucket__", "__off__")
    w_in = Window.partitionBy("__bucket__").orderBy(value_col, *tiebreak)
    return (
        b.join(F.broadcast(offsets), "__bucket__")
        .withColumn(out, (F.col("__off__") + F.row_number().over(w_in)).cast("long"))
        .drop("__bucket__", "__off__", "__lo__", "__hi__")
    )


def multi_value_rank(
    df: DataFrame,
    value_cols: Sequence[str],
    id_cols: Sequence[str],
    buckets: int = 256,
    metric_col: str = "metric",
    value_col: str = "value",
    out: str = "pos",
) -> DataFrame:
    """FUSED global value-ranks for several metric columns at once —
    the melt/rank/long-form core behind multi-metric banding (RFM).

    Calling ``bucketed_value_rank`` per metric costs one full-data
    windowed exchange per metric plus per-metric range aggregates (six
    exchanges for RFM's three metrics). Here the metrics are melted to
    (ids, metric, value) long form — 3x rows but ONE plan: per-metric
    min/max ride a single tiny aggregate, per-(metric, bucket) counts a
    second, and one window partitioned by (metric, bucket) ranks all
    metrics in a single full-data exchange; callers pivot the long form
    back with one groupBy over the ids. Ranks are bit-identical to the
    per-metric operator (same monotone value-range buckets, same
    (value, *ids) total order within each metric).

    Output: ``id_cols + (metric, value, pos)`` with ``metric`` the
    0-based index into ``value_cols``."""
    melted = df.select(
        *id_cols,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias(metric_col),
                        F.col(c).cast("long").alias(value_col),
                    )
                    for i, c in enumerate(value_cols)
                ]
            )
        ).alias("__mv__"),
    ).select(*id_cols, f"__mv__.{metric_col}", f"__mv__.{value_col}")
    rng = melted.groupBy(metric_col).agg(
        F.min(value_col).alias("__lo__"), F.max(value_col).alias("__hi__")
    )
    b = melted.join(F.broadcast(rng), metric_col).withColumn(
        "__bucket__",
        F.expr(
            f"CAST((({value_col} - __lo__) * {int(buckets)})"
            " DIV (__hi__ - __lo__ + 1) AS INT)"
        ),
    )
    counts = b.groupBy(metric_col, "__bucket__").agg(F.count(F.lit(1)).alias("__c__"))
    w_off = (
        Window.partitionBy(metric_col)
        .orderBy("__bucket__")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.withColumn(
        "__off__", F.coalesce(F.sum("__c__").over(w_off), F.lit(0))
    ).select(metric_col, "__bucket__", "__off__")
    w_in = Window.partitionBy(metric_col, "__bucket__").orderBy(value_col, *id_cols)
    return (
        b.join(F.broadcast(offsets), [metric_col, "__bucket__"])
        .withColumn(out, (F.col("__off__") + F.row_number().over(w_in)).cast("long"))
        .select(*id_cols, metric_col, value_col, out)
    )
