"""Skew mitigation: salted two-phase aggregation and salted joins.

AQE (`spark.sql.adaptive.skewJoin.enabled`, on in session.py) splits skewed
*join* partitions at runtime, but cannot help a skewed **aggregation** key or
a non-sort-merge join. These helpers implement the classic salting patterns
as plan rewrites:

- `salted_agg`: groupBy(keys) → partial agg on (keys, salt) → final merge on
  keys. Two small shuffles instead of one hot-partition shuffle; correct for
  decomposable aggregates (sum/count/min/max/avg).
- `salted_join`: explode the small side `salt`× so each big-side salt bucket
  finds its match; hot keys spread over `salt` tasks.

At 100 TB these turn a straggler stage (one executor holding the hot key)
into uniform work; at test scale they must be result-identical to the plain
operators, which the tests assert.
"""

from __future__ import annotations

from typing import Mapping, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_SALT = "__salt__"

#: aggregate name → (partial expr builder, merge expr builder)
_DECOMPOSABLE = {
    "sum": (lambda c: F.sum(c), lambda p: F.sum(p)),
    "count": (lambda c: F.count(c), lambda p: F.sum(p)),
    "min": (lambda c: F.min(c), lambda p: F.min(p)),
    "max": (lambda c: F.max(c), lambda p: F.max(p)),
}


def salted_agg(
    df: DataFrame,
    keys: Sequence[str],
    aggs: Mapping[str, tuple[str, str]],
    salt: int = 16,
    seed: int = 42,
) -> DataFrame:
    """groupBy(keys) with salt-spread partials.

    ``aggs`` maps output column → (agg, input column); agg ∈ sum | count |
    min | max | avg. avg decomposes to (sum, count) and recombines exactly.
    """
    partial_exprs = []
    merge_exprs = []
    for out, (agg, col) in aggs.items():
        if agg == "avg":
            partial_exprs.append(F.sum(col).alias(f"{out}!s"))
            partial_exprs.append(F.count(col).alias(f"{out}!c"))
            merge_exprs.append(
                (F.sum(f"{out}!s") / F.sum(f"{out}!c")).alias(out)
            )
        elif agg in _DECOMPOSABLE:
            partial_fn, merge_fn = _DECOMPOSABLE[agg]
            partial_exprs.append(partial_fn(col).alias(f"{out}!p"))
            merge_exprs.append(merge_fn(f"{out}!p").alias(out))
        else:
            raise ValueError(
                f"salted_agg supports sum|count|min|max|avg, got {agg!r}"
            )
    salted = df.withColumn(_SALT, (F.rand(seed) * salt).cast("int"))
    partial = salted.groupBy(*keys, _SALT).agg(*partial_exprs)
    return partial.groupBy(*keys).agg(*merge_exprs)


def salted_join(
    big: DataFrame,
    small: DataFrame,
    keys: Sequence[str],
    salt: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Inner-join a skewed big side against a small side by exploding the
    small side `salt`× — every hot key spreads over `salt` shuffle
    partitions. (A right or full outer join would be unsound: an
    unmatched small-side row exists `salt` times after the explosion.)
    """
    spark = big.sparkSession
    salts = spark.range(salt).select(F.col("id").cast("int").alias(_SALT))
    big_s = big.withColumn(_SALT, (F.rand(seed) * salt).cast("int"))
    small_s = small.crossJoin(F.broadcast(salts))
    return big_s.join(small_s, [*keys, _SALT], "inner").drop(_SALT)
