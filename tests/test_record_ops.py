from __future__ import annotations

from datetime import datetime

import pytest

from datapipeline_spark.operators import (
    align_streams,
    broadcast_stream,
    collapse,
    dedupe,
    derive,
    ensure_cadence,
    ensure_ticks,
    floor_time,
    log1p_op,
    shift_time,
    where,
)
from datapipeline_spark.operators.ticks import tick_grid


def ts(h, m=0):
    return datetime(2024, 1, 1, h, m)


def test_where_time_iso_string(spark):
    df = spark.createDataFrame([(ts(0), 1.0), (ts(3), 2.0)], "time timestamp, v double")
    out = where(df, "time", "ge", "2024-01-01T01:00:00Z").collect()
    assert [r["v"] for r in out] == [2.0]


def test_where_in_not_in(spark):
    df = spark.createDataFrame([("x", 1), ("y", 2), ("z", 3)], "k string, v int")
    assert sorted(r["v"] for r in where(df, "k", "in", ["x", "z"]).collect()) == [1, 3]
    assert [r["v"] for r in where(df, "k", "not_in", ["x", "z"]).collect()] == [2]


def test_floor_shift_time(spark):
    df = spark.createDataFrame([(datetime(2024, 1, 1, 1, 37, 11),)], "time timestamp")
    assert floor_time(df, "10m").collect()[0]["time"] == datetime(2024, 1, 1, 1, 30)
    assert floor_time(df, "1h").collect()[0]["time"] == datetime(2024, 1, 1, 1, 0)
    assert floor_time(df, "1d").collect()[0]["time"] == datetime(2024, 1, 1)
    assert shift_time(df, "-1h").collect()[0]["time"] == datetime(2024, 1, 1, 0, 37, 11)
    assert shift_time(df, "30s").collect()[0]["time"] == datetime(2024, 1, 1, 1, 37, 41)


def test_derive(spark):
    df = spark.createDataFrame([(6.0, 3.0), (1.0, None)], "a double, b double")
    out = derive(df, "a", "div", "b", out="r").collect()
    assert out[0]["r"] == 2.0
    assert out[1]["r"] is None  # null propagates
    out = derive(df, "a", "mul", 10, out="r").collect()
    assert out[0]["r"] == 60.0


def test_log1p(spark):
    import math

    df = spark.createDataFrame([(0.0,), (1.0,), (None,)], "v double")
    out = [r["v"] for r in log1p_op(df, "v").collect()]
    assert out[0] == 0.0
    assert out[1] == pytest.approx(math.log1p(1.0))
    assert out[2] is None


def test_dedupe(spark):
    df = spark.createDataFrame([(ts(0), 1.0), (ts(0), 1.0), (ts(1), 1.0)], "time timestamp, v double")
    assert dedupe(df).count() == 2


def test_collapse_keep_last(spark):
    # arrival order given by ordinal column (stable input order)
    df = spark.createDataFrame(
        [("a", ts(0), 1.0, 0), ("a", ts(0), 2.0, 1), ("a", ts(1), 3.0, 2)],
        "p string, time timestamp, v double, ord long",
    )
    out = collapse(df, ["p"], keep="last", arrival_col="ord")
    got = {r["time"].hour: r["v"] for r in out.collect()}
    assert got == {0: 2.0, 1: 3.0}
    out = collapse(df, ["p"], keep="first", arrival_col="ord")
    got = {r["time"].hour: r["v"] for r in out.collect()}
    assert got == {0: 1.0, 1: 3.0}


def test_ensure_cadence_fills_interior_gaps(spark):
    df = spark.createDataFrame(
        [("a", ts(0), 1.0), ("a", ts(3), 2.0), ("b", ts(0), 5.0)],
        "p string, time timestamp, v double",
    )
    out = ensure_cadence(df, "1h", ["p"])
    rows = sorted((r["p"], r["time"].hour, r["v"]) for r in out.collect())
    assert rows == [
        ("a", 0, 1.0),
        ("a", 1, None),
        ("a", 2, None),
        ("a", 3, 2.0),
        ("b", 0, 5.0),
    ]


def test_ensure_cadence_offgrid_gap(spark):
    # records at 00:00 and 02:30 with 1h cadence → ticks at 01:00? No:
    # ticks are prev+k*step strictly before next → 01:00, 02:00
    df = spark.createDataFrame(
        [("a", ts(0), 1.0), ("a", ts(2, 30), 2.0)], "p string, time timestamp, v double"
    )
    out = ensure_cadence(df, "1h", ["p"])
    times = sorted((r["time"].hour, r["time"].minute) for r in out.collect())
    assert times == [(0, 0), (1, 0), (2, 0), (2, 30)]


def test_ensure_ticks_grid_join(spark):
    df = spark.createDataFrame(
        [("a", ts(0), 1.0), ("a", ts(2), 2.0), ("a", ts(2, 30), 9.0)],
        "p string, time timestamp, v double",
    )
    grid = tick_grid(df, "1h", ["p"])
    out = ensure_ticks(df, grid, ["p"])
    rows = sorted((r["time"].hour, r["time"].minute, r["v"]) for r in out.collect())
    # grid 0,1,2 hourly + off-grid record 2:30 kept
    assert rows == [(0, 0, 1.0), (1, 0, None), (2, 0, 2.0), (2, 30, 9.0)]


def test_align_streams_inner_on_partition_time(spark):
    a = spark.createDataFrame(
        [("t1", ts(0), 10.0), ("t1", ts(1), 11.0), ("t2", ts(0), 20.0)],
        "ticker string, time timestamp, value double",
    )
    b = spark.createDataFrame(
        [("t1", ts(0), 1.0), ("t2", ts(0), 2.0), ("t2", ts(1), 3.0)],
        "ticker string, time timestamp, value double",
    )
    out = align_streams({"price": a, "earnings": b}, ["ticker"])
    rows = sorted((r["ticker"], r["time"].hour, r["price_value"], r["earnings_value"]) for r in out.collect())
    assert rows == [("t1", 0, 10.0, 1.0), ("t2", 0, 20.0, 2.0)]


def test_align_duplicate_key_validation(spark):
    a = spark.createDataFrame([("t1", ts(0), 1.0), ("t1", ts(0), 2.0)], "ticker string, time timestamp, v double")
    b = spark.createDataFrame([("t1", ts(0), 3.0)], "ticker string, time timestamp, v double")
    with pytest.raises(ValueError, match="duplicate key"):
        align_streams({"a": a, "b": b}, ["ticker"], validate=True)


def test_broadcast_stream_strict(spark):
    primary = spark.createDataFrame(
        [("n", ts(0), 40.0), ("s", ts(1), 50.0)], "loc string, time timestamp, humidity double"
    )
    glob = spark.createDataFrame([(ts(0), 1.0), (ts(1), 2.0), (ts(2), 3.0)], "time timestamp, baseline double")
    out = broadcast_stream(primary, glob)
    rows = sorted((r["loc"], r["g_baseline"]) for r in out.collect())
    assert rows == [("n", 1.0), ("s", 2.0)]  # unused key ts(2) ignored


def test_broadcast_stream_missing_match_raises(spark):
    primary = spark.createDataFrame([("n", ts(5), 1.0)], "loc string, time timestamp, v double")
    glob = spark.createDataFrame([(ts(0), 1.0)], "time timestamp, baseline double")
    with pytest.raises(Exception, match="no match"):
        broadcast_stream(primary, glob).collect()


class TestAnalyticsQueries:
    """Hand-computed golden values for the event-analytics queries (their
    oracles check engine parity; these pin the intended semantics)."""

    def _events(self, spark, rows):
        return spark.createDataFrame(
            rows, "event_id long, user_id long, time timestamp, value double, event_type string"
        )

    def test_funnel_counts_only_purchases_after_first_click(self, spark, monkeypatch):
        from datetime import datetime

        import datapipeline_spark.queries_core as qc

        rows = [
            # user 1: purchase BEFORE first click → not converted
            (1, 1, datetime(2024, 1, 1, 9), 1.0, "purchase"),
            (2, 1, datetime(2024, 1, 1, 10), 1.0, "click"),
            # user 2: click then purchase 30 min later → converted
            (3, 2, datetime(2024, 1, 1, 10), 1.0, "click"),
            (4, 2, datetime(2024, 1, 1, 10, 30), 1.0, "purchase"),
            # user 3: click then purchase 2h later → outside the hour
            (5, 3, datetime(2024, 1, 1, 10), 1.0, "click"),
            (6, 3, datetime(2024, 1, 1, 12), 1.0, "purchase"),
        ]
        df = self._events(spark, rows)
        monkeypatch.setattr(
            qc, "events_stream", lambda _s, _d: df.withColumn("value_n", df.value)
        )
        got = {r["user_id"]: r["converted"] for r in qc.funnel_conversion(spark, "_").collect()}
        assert got == {1: 0, 2: 1, 3: 0}

    def test_retention_week2_window(self, spark, monkeypatch):
        from datetime import datetime

        import datapipeline_spark.queries_core as qc

        rows = [
            # user 1: first seen day 1, active day 8 → retained
            (1, 1, datetime(2024, 1, 1), 1.0, "click"),
            (2, 1, datetime(2024, 1, 8), 1.0, "click"),
            # user 2: first seen day 1, active day 14 → outside days 7-13
            (3, 2, datetime(2024, 1, 1), 1.0, "click"),
            (4, 2, datetime(2024, 1, 15), 1.0, "click"),
        ]
        df = self._events(spark, rows)
        monkeypatch.setattr(
            qc, "events_stream", lambda _s, _d: df.withColumn("value_n", df.value)
        )
        out = {
            (r["cohort_day"].day): (r["n_users"], r["n_retained"])
            for r in qc.weekly_retention(spark, "_").collect()
        }
        assert out == {1: (2, 1)}

    def test_winsorize_clips_to_inclusive_band(self, spark, monkeypatch):
        from datetime import datetime

        import datapipeline_spark.queries_core as qc

        # 100 values 1..100 in one group: p1 = 1st percentile value (cum>=1),
        # p99 threshold = smallest v with 100*cum >= 99*n → v = 99
        rows = [
            (i, 1, datetime(2024, 1, 1, 0, min(i % 60, 59)), float(i), "click")
            for i in range(1, 101)
        ]
        df = self._events(spark, rows)
        monkeypatch.setattr(
            qc, "events_stream", lambda _s, _d: df.withColumn("value_n", df.value)
        )
        got = {r["value"]: r["clipped"] for r in qc.winsorize_values(spark, "_").collect()}
        assert got[100.0] == 99.0  # above p99 → clipped down
        assert got[1.0] == 1.0  # p1 value itself survives (inclusive)
        assert got[50.0] == 50.0  # interior untouched


def test_apply_expectations_drop_and_fail(spark):
    from pyspark.sql import functions as F

    from datapipeline_spark.operators.expect import (
        Expectation,
        apply_expectations,
        expectation_report,
    )

    df = spark.createDataFrame(
        [(1, 5.0), (2, -1.0), (3, None)], "id long, v double"
    )
    # drop: negative rows filtered; warn: nulls pass through
    out = apply_expectations(
        df,
        [Expectation("non_neg", "v >= 0 OR v IS NULL", "drop"),
         Expectation("present", "v IS NOT NULL", "warn")],
    )
    assert sorted(r.id for r in out.collect()) == [1, 3]

    # report: one row per rule with exact integer ppm
    rep = {r.rule: r for r in expectation_report(
        df,
        [Expectation("non_neg", "v >= 0 OR v IS NULL", "drop"),
         Expectation("present", "v IS NOT NULL", "warn")],
    ).collect()}
    assert rep["non_neg"].n_violations == 1 and rep["non_neg"].violation_ppm == 333333
    assert rep["present"].n_violations == 1 and rep["present"].n_rows == 3

    # fail: violation raises on action
    bad = apply_expectations(df, [Expectation("present", "v IS NOT NULL", "fail")])
    import pytest as _pytest

    with _pytest.raises(Exception, match="present"):
        bad.collect()


def test_expectation_null_is_violation_in_both_paths(spark):
    """A NULL-evaluating expr is a violation in BOTH the report and the
    enforcement: the counted rows are exactly the rows a drop rule removes
    (DLT convention — only expr = TRUE passes)."""
    from datapipeline_spark.operators.expect import (
        Expectation,
        apply_expectations,
        expectation_report,
    )

    df = spark.createDataFrame(
        [(1, 5.0), (2, -1.0), (3, None)], "id long, v double"
    )
    rules = [Expectation("non_neg", "v >= 0", "drop")]
    rep = expectation_report(df, rules).collect()[0]
    kept = apply_expectations(df, rules)
    # NULL row counts as a violation AND is dropped: report == enforcement
    assert rep.n_violations == 2
    assert kept.count() == df.count() - rep.n_violations
    assert sorted(r.id for r in kept.collect()) == [1]


def test_expectation_report_quoted_names_and_empty(spark):
    from datapipeline_spark.operators.expect import Expectation, expectation_report

    df = spark.createDataFrame([(1,)], "id long")
    rep = expectation_report(
        df, [Expectation("o'brien's rule", "id > 0", "warn")]
    ).collect()
    assert rep[0].rule == "o'brien's rule" and rep[0].n_violations == 0

    empty = expectation_report(df, [])
    assert empty.count() == 0
    assert empty.columns == ["rule", "action", "n_rows", "n_violations", "violation_ppm"]


def test_profile_table_exact_counts(spark):
    from datapipeline_spark import operators as ops

    df = spark.createDataFrame(
        [(1, 2.0, "a"), (2, None, "b"), (3, 2.0, None), (None, 5.0, "a")],
        "k long, v double, s string",
    )
    prof = {r.column: r for r in ops.profile_table(df).collect()}
    assert all(r.n_rows == 4 for r in prof.values())
    assert prof["k"].n_nulls == 1 and prof["k"].n_distinct == 3
    assert prof["k"].min_num == 1.0 and prof["k"].max_num == 3.0
    assert prof["v"].n_nulls == 1 and prof["v"].n_distinct == 2
    assert prof["s"].n_nulls == 1 and prof["s"].n_distinct == 2
    assert prof["s"].min_num is None and prof["s"].max_num is None
