"""Exact-value unit tests for the ordered window transforms.

Values mirror the reference's unit-test style (SURVEY.md §5): full-row exact
assertions per operator, including null gating and partition resets.
"""

from __future__ import annotations

from datetime import datetime

import pytest

from datapipeline_spark.operators import (
    fill,
    forward_fill,
    forward_sum,
    lag,
    lead,
    rolling,
    rolling_slope,
    sequence_windows,
)


def ts(h, m=0, d=1):
    return datetime(2024, 1, d, h, m)


@pytest.fixture(scope="module")
def series(spark):
    # two partitions, one with a null hole
    data = [
        ("a", ts(0), 1.0),
        ("a", ts(1), 2.0),
        ("a", ts(2), None),
        ("a", ts(3), 4.0),
        ("a", ts(4), 5.0),
        ("b", ts(0), 10.0),
        ("b", ts(1), 20.0),
    ]
    return spark.createDataFrame(data, "part string, time timestamp, value double")


def by_key(df):
    return {(r["part"], r["time"].hour): r for r in df.collect()}


def test_lag_lead(series):
    out = by_key(lead(lag(series, "value", 1, ["part"], out="lagged"), "value", 1, ["part"], out="led"))
    assert out[("a", 0)]["lagged"] is None
    assert out[("a", 1)]["lagged"] == 1.0
    assert out[("a", 3)]["lagged"] is None  # lag over the null hole carries the null
    assert out[("a", 4)]["led"] is None
    assert out[("b", 0)]["led"] == 20.0
    assert out[("b", 0)]["lagged"] is None  # partition reset


def test_rolling_mean_min_samples_gate(series):
    # window=2, default min_samples=window → needs 2 non-null values in frame
    out = by_key(rolling(series, "value", 2, "mean", partition_by=["part"], out="m"))
    assert out[("a", 0)]["m"] is None  # only 1 row in frame
    assert out[("a", 1)]["m"] == 1.5
    assert out[("a", 2)]["m"] is None  # null occupies slot, count=1 < 2
    assert out[("a", 3)]["m"] is None  # frame = [null, 4.0]
    assert out[("a", 4)]["m"] == 4.5
    # min_samples=1: single value suffices
    out1 = by_key(rolling(series, "value", 2, "mean", 1, ["part"], out="m"))
    assert out1[("a", 0)]["m"] == 1.0
    assert out1[("a", 2)]["m"] == 2.0  # frame [2.0, null] → mean of non-null


def test_rolling_max_min_median(series):
    out = by_key(rolling(series, "value", 3, "max", 1, ["part"], out="v"))
    assert out[("a", 4)]["v"] == 5.0
    out = by_key(rolling(series, "value", 3, "min", 1, ["part"], out="v"))
    assert out[("a", 3)]["v"] == 2.0  # frame [2, null, 4]
    out = by_key(rolling(series, "value", 3, "median", 1, ["part"], out="v"))
    assert out[("a", 4)]["v"] == 4.5  # frame [null, 4, 5]


def test_rolling_stdev_requires_two(series):
    with pytest.raises(ValueError):
        rolling(series, "value", 3, "stdev", 1, ["part"])
    out = by_key(rolling(series, "value", 2, "stdev", 2, ["part"], out="v"))
    assert out[("a", 1)]["v"] == pytest.approx(0.7071067811865476)
    assert out[("a", 2)]["v"] is None


def test_forward_sum(series):
    out = by_key(forward_sum(series, "value", 2, ["part"], out="f"))
    assert out[("a", 0)]["f"] is None  # next two contain a null? next = [2.0, null] → null
    assert out[("a", 1)]["f"] is None  # [null, 4.0]
    assert out[("a", 2)]["f"] == 9.0  # [4.0, 5.0]
    assert out[("a", 3)]["f"] is None  # only one row remains
    assert out[("b", 0)]["f"] is None  # only one row ahead


def test_fill_mean_excludes_current(series):
    out = by_key(fill(series, "value", 2, "mean", 1, ["part"], out="v"))
    assert out[("a", 2)]["v"] == 1.5  # mean of previous two [1.0, 2.0]
    assert out[("a", 0)]["v"] == 1.0  # non-missing passes through
    # min_samples too high → stays null
    out2 = by_key(fill(series, "value", 1, "mean", 1, ["part"], out="v"))
    assert out2[("a", 2)]["v"] == 2.0  # previous row only


def test_forward_fill(series):
    out = by_key(forward_fill(series, "value", ["part"], out="v"))
    assert out[("a", 2)]["v"] == 2.0
    assert out[("a", 3)]["v"] == 4.0


def test_rolling_slope_reset_on_gap(spark):
    # y = 2x exactly; a missing pair at hour 2 must clear the window
    data = [
        ("a", ts(0), 0.0, 0.0),
        ("a", ts(1), 1.0, 2.0),
        ("a", ts(2), None, 99.0),  # missing x
        ("a", ts(3), 3.0, 6.0),
        ("a", ts(4), 4.0, 8.0),
        ("a", ts(5), 5.0, 10.0),
    ]
    df = spark.createDataFrame(data, "part string, time timestamp, x double, y double")
    out = {r["time"].hour: r["slope"] for r in rolling_slope(df, "x", "y", 2, ["part"]).collect()}
    assert out[0] is None  # window not yet full
    assert out[1] == pytest.approx(2.0)
    assert out[2] is None  # the missing row itself
    assert out[3] is None  # window cleared — only 1 pair since gap
    assert out[4] == pytest.approx(2.0)
    assert out[5] == pytest.approx(2.0)


def test_rolling_slope_zero_variance_null(spark):
    data = [("a", ts(0), 1.0, 1.0), ("a", ts(1), 1.0, 2.0)]
    df = spark.createDataFrame(data, "part string, time timestamp, x double, y double")
    out = [r["slope"] for r in rolling_slope(df, "x", "y", 2, ["part"]).collect()]
    assert out == [None, None]


def test_sequence_windows(spark):
    data = [("a", ts(h), float(h)) for h in range(6)]
    df = spark.createDataFrame(data, "part string, time timestamp, value double")
    out = sequence_windows(df, "value", size=2, stride=2, partition_by=["part"], out="seq")
    got = {r["time"].hour: r["seq"] for r in out.collect()}
    # full windows at offsets 0,2,4 from start → rows 2,4,6 (hours 1,3,5)
    assert sorted(got) == [1, 3, 5]
    assert got[1] == [0.0, 1.0]
    assert got[3] == [2.0, 3.0]
    assert got[5] == [4.0, 5.0]


def test_sequence_windows_keeps_nulls(spark):
    data = [("a", ts(0), 1.0), ("a", ts(1), None), ("a", ts(2), 3.0)]
    df = spark.createDataFrame(data, "part string, time timestamp, value double")
    out = sequence_windows(df, "value", size=2, stride=1, partition_by=["part"], out="seq")
    got = {r["time"].hour: r["seq"] for r in out.collect()}
    assert got[1] == [1.0, None]
    assert got[2] == [None, 3.0]


def test_rolling_corr_values_and_reset(spark):
    from datapipeline_spark.operators import rolling_corr

    # x = 0,1,2,3…; y perfectly linear → corr 1.0 once 3 pairs in hand;
    # a missing y at t3 clears the window (run reset)
    data = [
        ("a", ts(0), 0.0, 1.0),
        ("a", ts(1), 1.0, 3.0),
        ("a", ts(2), 2.0, 5.0),
        ("a", ts(3), 3.0, None),
        ("a", ts(4), 4.0, 2.0),
        ("a", ts(5), 5.0, 1.0),
        ("a", ts(6), 6.0, 0.0),
    ]
    df = spark.createDataFrame(data, "part string, time timestamp, x double, y double")
    out = [r["corr"] for r in rolling_corr(df, "x", "y", 3, ["part"]).orderBy("time").collect()]
    assert out[0] is None and out[1] is None
    assert out[2] == pytest.approx(1.0)
    assert out[3] is None  # missing pair
    assert out[4] is None and out[5] is None  # rebuilding after reset
    assert out[6] == pytest.approx(-1.0)  # descending run


def test_rolling_corr_zero_variance_null(spark):
    from datapipeline_spark.operators import rolling_corr

    data = [("a", ts(0), 1.0, 2.0), ("a", ts(1), 1.0, 3.0)]
    df = spark.createDataFrame(data, "part string, time timestamp, x double, y double")
    out = [r["corr"] for r in rolling_corr(df, "x", "y", 2, ["part"]).collect()]
    assert out == [None, None]


def test_ewma_matches_pandas_short_series(spark):
    """Within the first `window` rows the truncated EWMA equals pandas
    ewm(adjust=True) exactly (decay 0.5 = alpha 0.5 -> exact powers of 2)."""
    import pandas as pd

    from datapipeline_spark.operators.window import ewma

    vals = [3.0, 1.5, 4.25, -2.0, 0.5, 10.0]
    df = spark.createDataFrame(
        [("a", i, v) for i, v in enumerate(vals)], "g string, t long, v double"
    )
    out = ewma(df, "v", window=8, decay=0.5, partition_by=["g"], order_by=["t"])
    got = [r.ewma for r in out.orderBy("t").collect()]
    want = pd.Series(vals).ewm(alpha=0.5, adjust=True).mean().tolist()
    assert got == want  # bit-exact, no tolerance


def test_ewma_truncates_to_window(spark):
    """Rows beyond the frame must not influence the result: a huge old value
    outside the 3-row window is invisible."""
    from datapipeline_spark.operators.window import ewma

    rows = [("a", 0, 1e9), ("a", 1, 1.0), ("a", 2, 1.0), ("a", 3, 1.0)]
    df = spark.createDataFrame(rows, "g string, t long, v double")
    out = ewma(df, "v", window=3, decay=0.5, partition_by=["g"], order_by=["t"])
    last = out.orderBy("t").collect()[-1].ewma
    assert last == 1.0  # frame = [1, 1, 1]; the 1e9 is gone


def test_cusum_matches_recurrence(spark):
    """Window-identity CUSUM == direct max(0, s+d) recurrence."""
    from datapipeline_spark import operators as ops

    rows = [(1, i, v) for i, v in enumerate([50.0, 60.0, 70.0, 40.0, 55.0, 90.0, 10.0, 56.0])]
    df = spark.createDataFrame(rows, "user_id long, time long, value double")
    out = ops.cusum(
        df, "value", target=50.0, slack=5.0, scale=100,
        partition_by=["user_id"], out="c", order_by=("time",),
    )
    got = [r.c for r in out.orderBy("time").collect()]
    s, want = 0, []
    for _, _, v in rows:
        s = max(0, s + round(v * 100) - 5500)
        want.append(s)
    assert got == want


def test_cusum_single_exchange_plan(spark):
    from datapipeline_spark import operators as ops
    from pyspark.sql import functions as F

    df = spark.range(100).select(
        (F.col("id") % 5).alias("user_id"), F.col("id").alias("time"),
        (F.col("id") % 13).cast("double").alias("value"),
    )
    out = ops.cusum(df, "value", target=5.0, partition_by=["user_id"], order_by=("time",))
    plan = out._jdf.queryExecution().executedPlan().toString()
    import re
    # prefix-sum and running-min share ONE partitioning exchange + sort
    assert len(re.findall(r"(?<!Broadcast)Exchange", plan)) == 1
    assert plan.count("Sort ") <= 2


def test_interpolate_linear_values_and_edges(spark):
    from datapipeline_spark import operators as ops

    rows = [
        (1, "2024-01-01 00:00:00", None),   # leading null: stays null
        (1, "2024-01-01 01:00:00", 10.0),
        (1, "2024-01-01 02:00:00", None),   # interior: 10 -> 40 at 1/3
        (1, "2024-01-01 04:00:00", 40.0),
        (1, "2024-01-01 05:00:00", None),   # trailing null: stays null
    ]
    df = spark.createDataFrame(rows, "user_id long, t string, v double").selectExpr(
        "user_id", "CAST(t AS TIMESTAMP) AS time", "v"
    )
    out = {
        r.time.hour: r.vi
        for r in ops.interpolate_linear(
            df, "v", partition_by=["user_id"], out="vi", order_by=["time"]
        ).collect()
    }
    assert out[0] is None and out[5] is None
    assert out[1] == 10.0 and out[4] == 40.0
    assert out[2] == 20.0  # 10 + (40-10) * (1h / 3h)


def test_interpolate_single_exchange(spark):
    from datapipeline_spark import operators as ops
    from pyspark.sql import functions as F
    import re

    df = spark.range(50).select(
        (F.col("id") % 5).alias("u"),
        F.timestamp_seconds(F.col("id") * 60).alias("time"),
        F.when(F.col("id") % 3 == 0, F.col("id").cast("double")).alias("v"),
    )
    plan = (
        ops.interpolate_linear(df, "v", partition_by=["u"], out="vi")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert len(re.findall(r"(?<!Broadcast)Exchange", plan)) == 1


def test_hampel_replaces_spike_keeps_inliers(spark):
    from pyspark.sql import functions as F

    from datapipeline_spark.operators.window import hampel

    # steady 100s with one 10000 spike at t=5
    rows = [("u", t, 10000 if t == 5 else 100 + (t % 3)) for t in range(12)]
    df = spark.createDataFrame(rows, "user_id string, time long, v long")
    out = {r["time"]: r["hampel"]
           for r in hampel(df, "v", window=5, k=3,
                           partition_by=["user_id"],
                           order_by=["time"]).collect()}
    assert out[5] in (100, 101, 102)   # spike replaced by window median
    for t in (0, 1, 2, 3, 4, 6, 7, 8, 9, 10, 11):
        assert out[t] == 100 + (t % 3)  # inliers untouched


def test_hampel_partition_invariant(spark):
    from datapipeline_spark.operators.window import hampel

    rows = [("u", t, (t * 37) % 50) for t in range(40)]
    df = spark.createDataFrame(rows, "user_id string, time long, v long")
    a = {r["time"]: r["hampel"]
         for r in hampel(df, "v", 7, 3, partition_by=["user_id"],
                         order_by=["time"]).collect()}
    b = {r["time"]: r["hampel"]
         for r in hampel(df.repartition(8), "v", 7, 3,
                         partition_by=["user_id"],
                         order_by=["time"]).collect()}
    assert a == b
