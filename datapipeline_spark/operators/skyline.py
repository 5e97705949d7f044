"""2D skyline (Pareto frontier) — maximal points under two criteria.

Borzsony-Kossmann-Stocker 2001's skyline operator for the bi-criteria
case (minimize x, maximize y; negate a column upstream to flip it): keep
every row not dominated by another (q dominates p iff q.x <= p.x and
q.y >= p.y with at least one strict). The reference engine has no
skyline; this is the classic "best price/quality trade-offs" analytics
operator.

The textbook single-node algorithm sorts by x and sweeps a running max of
y. A naive Spark translation is a GLOBAL window (orderBy without
partitionBy) — one partition, the anti-pattern this repo bans. Instead
the sweep is decomposed the same two-phase way as bucketed_global_rank
(operators/rank.py) and the equi-depth bands: a monotone value-range
bucketing of x (256 buckets from the broadcast min/max), per-bucket max
of y, an EXCLUSIVE running max across the tiny bucket table, and a
within-bucket value-range window that only ever sorts one bucket's rows.
Dominance against everything left of a row = greatest(bucket-prefix max,
within-bucket strictly-smaller-x max). One keyed exchange on the bucket,
never a global sort.

Exactness: the bucket id is integer floor arithmetic over exact numeric
x (pass cents/scaled integers for float data, per the queries_core
conventions); ties on x keep all co-located non-dominated duplicates
(max-over-equal-x group must equal y), matching the NOT EXISTS dominance
definition bit-for-bit — the oracle states that window logic directly.

NULLs: a row with a NULL x is dropped before the range aggregate, so it is
on no frontier and enters no other row's prefix. That is the oracle's
answer: its RANGE frame gives a NULL-x row every row as prefix, the row
itself included, so the strict ``m1 < y`` never holds (DuckDB 1.0 returns
no NULL-x row), and NULLS LAST keeps it out of every non-NULL row's frame.
A NULL y is never strictly greater than the prefix, so such a row is
dropped too, and max() skips it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def skyline_2d(
    df: DataFrame,
    x_col: str,
    y_col: str,
    buckets: int = 256,
) -> DataFrame:
    """Rows of ``df`` on the Pareto frontier of (x, y). Columns pass
    through unchanged; x must be exact numeric (integer/decimal) so the
    bucket floor and RANGE frames are engine-exact."""
    d = df.withColumns(
        {"__x__": F.col(x_col).cast("long"), "__y__": F.col(y_col).cast("long")}
    ).filter(F.col("__x__").isNotNull())

    rng = d.agg(
        F.min("__x__").alias("lo"), (F.max("__x__") + 1).alias("hi")
    )
    d = d.crossJoin(F.broadcast(rng)).withColumn(
        "__b__",
        F.expr(
            f"CAST(((__x__ - lo) * {buckets}) DIV (hi - lo) AS INT)"
        ),
    )

    per_bucket = d.groupBy("__b__").agg(F.max("__y__").alias("__bmax__"))
    wb = (
        Window.orderBy("__b__")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prefix = per_bucket.withColumn(
        "__pre__", F.max("__bmax__").over(wb)
    ).select("__b__", "__pre__")

    win = (
        Window.partitionBy("__b__")
        .orderBy("__x__")
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    w_tie = Window.partitionBy("__b__", "__x__")
    out = (
        d.join(F.broadcast(prefix), "__b__")
        .withColumn(
            "__m1__",
            F.greatest(F.max("__y__").over(win), F.col("__pre__")),
        )
        .withColumn("__mx__", F.max("__y__").over(w_tie))
        .filter(
            (F.col("__m1__").isNull() | (F.col("__m1__") < F.col("__y__")))
            & (F.col("__mx__") == F.col("__y__"))
        )
    )
    return out.drop(
        "__x__", "__y__", "__b__", "__m1__", "__mx__", "__pre__", "lo", "hi"
    )
