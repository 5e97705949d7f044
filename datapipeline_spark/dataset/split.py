"""Dataset split labelers + fold routing.

Reference: pipelines/dataset/split.py —
- TimeLabeler (split.py:42-63): first interval whose `until` exceeds the
  sample time (bisect over ordered boundaries);
- HashLabeler (split.py:14-39): sha256(f"{seed}|{key}") → first 8 bytes
  big-endian mod 2^53, scaled to [0,1), thresholded by cumulative ratios.
Walk-forward fold plans route labels to fold outputs with purge intervals
belonging to no fold (config/dataset/split.py:151-222).
"""

from __future__ import annotations

from datetime import datetime
from typing import Mapping, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

TWO_53 = 1 << 53


def time_split_label(
    time_col: str | Column,
    intervals: Sequence[tuple[str, datetime | None]],
) -> Column:
    """Label = first interval whose `until` is after the time; the final
    interval may have until=None (open). Intervals must be ordered."""
    c = F.col(time_col) if isinstance(time_col, str) else time_col
    expr = None
    last_label = None
    for label, until in intervals:
        if until is None:
            last_label = label
            continue
        cond = c < F.lit(until)
        expr = F.when(cond, label) if expr is None else expr.when(cond, label)
    if expr is None:
        return F.lit(last_label)
    return expr.otherwise(F.lit(last_label)) if last_label is not None else expr


def hash_split_value(key_col: Column, seed: int = 42) -> Column:
    """Deterministic uniform [0,1): sha256("{seed}|{key}") first-8-bytes
    big-endian mod 2^53 / 2^53 — bit-exact vs the reference formula
    (split.py:14-39): low 53 bits live in the low 56 bits = hex chars 3..16.
    """
    digest = F.sha2(F.concat(F.lit(f"{seed}|"), key_col.cast("string")), 256)
    low56 = F.conv(F.substring(digest, 3, 14), 16, 10).cast("long")
    low53 = low56.bitwiseAND(F.lit(TWO_53 - 1))
    return low53 / F.lit(float(TWO_53))


def hash_split_label(
    key_col: str | Column,
    ratios: Mapping[str, float],
    seed: int = 42,
) -> Column:
    """Bucket by cumulative ratio thresholds over the hash value."""
    c = F.col(key_col) if isinstance(key_col, str) else key_col
    v = hash_split_value(c, seed)
    expr = None
    acc = 0.0
    labels = list(ratios.items())
    for label, ratio in labels[:-1]:
        acc += ratio
        cond = v < F.lit(acc)
        expr = F.when(cond, label) if expr is None else expr.when(cond, label)
    last_label = labels[-1][0]
    return expr.otherwise(F.lit(last_label)) if expr is not None else F.lit(last_label)


def route_folds(
    df: DataFrame,
    label_col: str,
    fold_plan: Mapping[str, Mapping[str, Sequence[str]]],
) -> dict[tuple[str, str], DataFrame]:
    """fold_plan: fold → role → labels (purge labels appear in no role).
    Returns {(fold, role): filtered df} — each output is a filter over the
    labeled frame, so one upstream computation feeds all fold writes
    (reference pipelines/dataset/pipeline.py:127-246 batch router). A role
    with no labels (e.g. a fold without validation) has no output."""
    return {
        (fold, role): df.filter(F.col(label_col).isin(list(labels)))
        for fold, roles in fold_plan.items()
        for role, labels in roles.items()
        if labels
    }


def stratified_exact_split(
    df: DataFrame,
    strata_cols: Sequence[str],
    id_cols: Sequence[str],
    fractions_ppm: Sequence[tuple[str, int]],
    seed: str = "split",
    out: str = "split",
    hash_bits: int = 52,
    bucket_bits: int = 8,
) -> DataFrame:
    """EXACT stratified split: within every stratum, split sizes are the
    integer cumulative-floor of the requested fractions — not merely
    proportional in expectation like hash_split_label (a 1k-row stratum at
    800000 ppm train gets EXACTLY 800 rows, every run, every engine).

    ``fractions_ppm`` is an ordered [(label, ppm)] list summing to
    1,000,000. Rows are ordered within their stratum by a seeded 52-bit
    sha256 of ``id_cols`` (uniform, reproducible; ``id_cols`` must be
    unique within a stratum), and the stratum's rank space is cut at
    ``(n * cum_ppm) DIV 1e6``.

    Scale: the per-stratum ranking uses the same two-phase bucket
    decomposition as bucketed_global_rank — per-(stratum, hash-bucket)
    counts, exclusive offsets over the (strata x 256)-row aggregate, rank
    within (stratum, bucket) — so no stratum is ever sorted in one task.
    """
    total = sum(p for _, p in fractions_ppm)
    if total != 1_000_000:
        raise ValueError(f"fractions_ppm must sum to 1000000, got {total}")
    if hash_bits <= bucket_bits:
        raise ValueError("hash_bits must exceed bucket_bits")
    if hash_bits != 52:
        raise ValueError("hash_bits is fixed at 52 (hash52_seeded contract)")
    # dual-mode (functions/hashing.py): oracle = sha256 prefix (replayable
    # in SQL), fast = xxhash64. The split COUNTS are identical either way —
    # the cumulative-floor cuts depend only on each stratum's size — so the
    # exactness certificate holds in both modes; only row placement moves.
    from datapipeline_spark.functions.hashing import hash52_seeded

    h = hash52_seeded(seed, [F.col(c) for c in id_cols])
    shift = hash_bits - bucket_bits
    b = df.withColumn("__h__", h).withColumn(
        "__bucket__", F.shiftright(F.col("__h__"), shift).cast("int")
    )
    counts = b.groupBy(*strata_cols, "__bucket__").agg(
        F.count(F.lit(1)).alias("__c__")
    )
    w_off = (
        Window.partitionBy(*strata_cols)
        .orderBy("__bucket__")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_tot = Window.partitionBy(*strata_cols)
    offsets = counts.select(
        *strata_cols,
        "__bucket__",
        F.coalesce(F.sum("__c__").over(w_off), F.lit(0)).alias("__off__"),
        F.sum("__c__").over(w_tot).alias("__n__"),
    )
    w_in = Window.partitionBy(*strata_cols, "__bucket__").orderBy(
        "__h__", *[F.col(c) for c in id_cols]
    )
    ranked = b.join(F.broadcast(offsets), [*strata_cols, "__bucket__"]).withColumn(
        "__rank__", F.col("__off__") + F.row_number().over(w_in)
    )
    cum = 0
    expr = None
    for label, ppm in fractions_ppm[:-1]:
        cum += ppm
        cond = F.col("__rank__") <= F.expr(f"CAST((__n__ * {cum}) DIV 1000000 AS BIGINT)")
        expr = F.when(cond, label) if expr is None else expr.when(cond, label)
    last = fractions_ppm[-1][0]
    expr = F.lit(last) if expr is None else expr.otherwise(F.lit(last))
    return ranked.withColumn(out, expr).drop(
        "__h__", "__bucket__", "__off__", "__n__", "__rank__"
    )
