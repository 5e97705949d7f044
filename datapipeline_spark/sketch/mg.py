"""Misra-Gries heavy hitters: bounded-memory candidates + exact recount.

The frequent-items problem at 100 TB: find every key whose frequency
exceeds N/(k+1) when the key domain is far too large to groupBy (think
n-gram segments or URLs — billions of distinct values, GBs of aggregate
state per executor). The classic answer (Misra & Gries 1982) keeps only
``k`` counters per stream; the *mergeable-summaries* result (Agarwal,
Cormode, Huang, Phillips, Wei, Yi — PODS 2012) makes it distributed:
MG(k) summaries merge by adding counts and decrementing by the (k+1)-th
largest, preserving the error bound est(x) >= count(x) - N/(k+1).

Two-pass exact contract (the standard production shape):

1. **Candidates** — one Arrow-batched ``mapInPandas`` pass holds an MG(k)
   summary per partition (k counters, O(k) memory, no shuffle of raw
   keys). By the ratio-pigeonhole argument, any key with GLOBAL count
   > N/(k+1) must exceed the local threshold N_i/(k+1) in at least one
   partition, so the union of per-partition summaries is a SUPERSET of
   the true heavy hitters — at most k * partitions candidate keys total.
2. **Exact recount** — the tiny candidate set broadcasts back onto the
   stream (left-semi prunes at the scan) and one map-side-combined
   aggregation counts candidates exactly; the threshold filter
   ``n * (k+1) > N`` then yields EXACTLY the keys above N/(k+1).

The intermediate summary depends on partition layout; the final output
does not (superset property holds under any split, recount is exact) —
partition invariance is pytest-asserted, and the end result is plain
GROUP BY + HAVING in any engine, hence SQL-oracle-exact.

Reference gap: the reference engine has no sketches (its only frequency
surface is the exact CoverageStatsAccumulator,
src/datapipeline/pipelines/dataset/stats.py).
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def mg_candidates(df: DataFrame, key_col: str, k: int = 200) -> DataFrame:
    """Per-partition MG(k) summaries → distinct candidate keys.

    One narrow mapInPandas pass: each partition keeps at most ``k``
    counters; batches merge by the mergeable-summaries rule (add counts,
    then subtract the (k+1)-th largest and drop non-positives whenever
    the table exceeds ``k``). Emits each partition's surviving keys.
    NULL keys are dropped (a NULL cannot be a reportable item).
    """
    import pandas as pd

    ktype = df.schema[key_col].dataType.simpleString()

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counters: dict = {}
        for pdf in batches:
            vc = pdf[key_col].dropna().value_counts()
            for key, c in vc.items():
                counters[key] = counters.get(key, 0) + int(c)
            if len(counters) > k:
                # mergeable-summaries decrement: (k+1)-th largest count
                cut = sorted(counters.values(), reverse=True)[k]
                counters = {x: c - cut for x, c in counters.items() if c > cut}
        yield pd.DataFrame({key_col: list(counters.keys())})

    return (
        df.select(key_col)
        .filter(F.col(key_col).isNotNull())
        .mapInPandas(gen, f"`{key_col}` {ktype}")
        .distinct()
    )


def heavy_hitters(
    df: DataFrame, key_col: str, k: int = 200, out: str = "n", total_col: str = "total"
) -> DataFrame:
    """All keys with exact count > N/(k+1), with their EXACT counts.

    Output: (key, ``out`` exact count, ``total_col`` = N). Two passes over
    ``df``: the O(k)-memory candidate sweep, then a broadcast-semi-pruned
    exact recount — never a full-domain groupBy. The result is exact and
    partition-invariant despite the sketch phase (see module docstring).
    The registry query keeps k=200 counters; tests use k of 3-4 to reach
    the eviction on a few rows.
    """
    cand = mg_candidates(df, key_col, k)
    exact = (
        df.filter(F.col(key_col).isNotNull())
        .join(F.broadcast(cand), key_col, "left_semi")
        .groupBy(key_col)
        .agg(F.count(F.lit(1)).alias(out))
    )
    total = df.filter(F.col(key_col).isNotNull()).select(
        F.count(F.lit(1)).alias(total_col)
    )
    return exact.crossJoin(F.broadcast(total)).filter(
        F.col(out) * (k + 1) > F.col(total_col)
    )
