"""Survival analysis: the life table behind the Kaplan-Meier estimator.

Churn/retention's principled form (Kaplan-Meier 1958): given per-subject
durations with right-censoring flags, the life table gives, at every
observed duration t, the number still at risk, the events (churns) at t,
and the censored exits at t; the KM curve is the running product of
``(n_risk − d) / n_risk``.

Scale shape: one aggregation collapses subjects to the (duration, event)
contingency — bounded by the DURATION DOMAIN (days of a product's life),
not subjects — and the at-risk counts come from a reverse prefix sum over
that tiny aggregated table (the markov/prefix tiny-table contract; for an
unbounded duration domain route it through the two-phase bucketed scan).
The operator emits the LIFE TABLE only — pure exact integers, so it
hash-matches the oracle; the survival product is a float chain over that
tiny sorted table, left to the consumer, the same discipline that keeps
libm out of oracles elsewhere.

Reference gap: the reference has no survival surface (closest is nothing
— retention grids in this repo are the empirical cousin).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def life_table(df: DataFrame, duration_col: str, event_col: str) -> DataFrame:
    """Per observed duration t: (t, n_risk, d_events, c_censored).

    ``duration_col`` must be exact integer units (days); ``event_col`` is
    1 for an observed event (churn), 0 for right-censored. ``n_risk`` at
    t counts subjects with duration >= t (standard convention: exits at t
    are still at risk at t)."""
    cell = df.groupBy(F.col(duration_col).alias("t")).agg(
        F.sum(F.when(F.col(event_col) == 1, 1).otherwise(0))
        .cast("long")
        .alias("d_events"),
        F.sum(F.when(F.col(event_col) == 1, 0).otherwise(1))
        .cast("long")
        .alias("c_censored"),
    )
    # reverse prefix over the aggregated duration table (tiny-table window)
    w = Window.orderBy(F.desc("t")).rowsBetween(Window.unboundedPreceding, 0)
    return cell.withColumn(
        "n_risk", F.sum(F.col("d_events") + F.col("c_censored")).over(w)
    ).select("t", "n_risk", "d_events", "c_censored")
