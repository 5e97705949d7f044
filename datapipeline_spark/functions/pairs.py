"""In-row pair generation from grouped member sets — the shared core of
every blocking stage in the repo (basket co-occurrence, MinHash LSH
buckets, sign-LSH buckets).

One groupBy collects each group's DISTINCT members as a sorted array
(collect_set — duplicate member rows collapse, so a repeated id can never
produce an (x, x) self-pair, which a raw collect_list would), an in-row
size gate drops degenerate groups BEFORE any pair materializes, and two
streaming Generates explode the (a < b) pairs under whole-stage codegen.
Compared to the group-keyed self-join + separate count-gate this
replaces: one exchange instead of three consumers of the upstream
subtree, and the worst-case fan-out is bounded by ``max_group_size`` per
group independent of skew. MinHash LSH (dedup/minhash.py) is the caller.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def inrow_pairs(
    df: DataFrame,
    group_cols: Sequence[str],
    member_col: str,
    max_group_size: int,
    out_a: str = "id_a",
    out_b: str = "id_b",
) -> DataFrame:
    """(a < b) member pairs per group, generated in-row.

    Returns one row per (group, pair) occurrence — callers dedup across
    groups with ``.distinct()`` or count with a groupBy, as their
    semantics require. Members are deduplicated WITHIN a group
    (collect_set) and ordered ascending, so pairs are emitted exactly
    once per group with ``out_a < out_b`` and self-pairs are structurally
    impossible. Groups larger than ``max_group_size`` are dropped by an
    in-row size gate before the explode."""
    buckets = df.groupBy(*group_cols).agg(
        F.sort_array(F.collect_set(member_col)).alias("__members__")
    )
    ms = F.col("__members__")
    size_ok = (F.size(ms) >= 2) & (F.size(ms) <= max_group_size)
    return (
        buckets.filter(size_ok)
        .select(ms, F.posexplode(ms).alias("__i__", out_a))
        .select(
            out_a,
            F.explode(
                F.slice(ms, F.col("__i__") + F.lit(2), F.size(ms))
            ).alias(out_b),
        )
    )
