"""Unit tests for the bucketed interval join (operators/interval.py)."""

from __future__ import annotations

from datetime import datetime

import pytest

from datapipeline_spark.operators.interval import interval_join


def _ts(h, m=0, s=0):
    return datetime(2024, 1, 1, h, m, s)


@pytest.fixture()
def facts(spark):
    return spark.createDataFrame(
        [
            ("a", _ts(0, 10), 1),
            ("a", _ts(0, 59, 59), 2),
            ("a", _ts(1, 0), 3),   # exactly on a window end: excluded
            ("a", _ts(4, 0), 4),   # no window
            ("b", _ts(0, 30), 5),  # other key
            ("a", _ts(2, 30), 6),  # inside two overlapping windows
        ],
        "k string, time timestamp, id int",
    )


@pytest.fixture()
def windows(spark):
    return spark.createDataFrame(
        [
            ("a", _ts(0, 0), _ts(1, 0), 100),   # [00:00, 01:00)
            ("a", _ts(2, 0), _ts(3, 0), 101),   # [02:00, 03:00)
            ("a", _ts(2, 15), _ts(2, 45), 102),  # overlaps 101
            ("b", _ts(1, 0), _ts(2, 0), 103),   # b's window misses b's fact
        ],
        "k string, start timestamp, end timestamp, win int",
    )


def test_inner_half_open_and_multi_match(facts, windows):
    out = interval_join(facts, windows, ["k"], bucket="15m")
    got = sorted((r.id, r.win) for r in out.collect())
    # id1,id2 in win100; id3 at 01:00 excluded (half-open); id4 no window;
    # id5 wrong time for b's window; id6 in BOTH 101 and 102
    assert got == [(1, 100), (2, 100), (6, 101), (6, 102)]


def test_inner_matches_naive_join(spark, facts, windows):
    naive = (
        facts.join(windows, "k")
        .filter("time >= start AND time < end")
        .select("id", "win")
    )
    ours = interval_join(facts, windows, ["k"], bucket="1h").select("id", "win")
    assert sorted(map(tuple, ours.collect())) == sorted(map(tuple, naive.collect()))


def test_bucket_width_invariance(facts, windows):
    a = interval_join(facts, windows, ["k"], bucket="5m").select("id", "win")
    b = interval_join(facts, windows, ["k"], bucket="6h").select("id", "win")
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_pathological_interval_fails_fast(spark, facts):
    wide = spark.createDataFrame(
        [("a", datetime(2020, 1, 1), datetime(2025, 1, 1), 1)],
        "k string, start timestamp, end timestamp, win int",
    )
    with pytest.raises(Exception, match="spans more than"):
        interval_join(facts, wide, ["k"], bucket="5m", max_buckets_per_interval=100).collect()
    # same window with a coarse enough bucket is fine
    ok = interval_join(facts, wide, ["k"], bucket="6h", max_buckets_per_interval=10_000)
    assert ok.count() >= 1
