from __future__ import annotations

import gzip
import os
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from datapipeline_spark.io import materialize, run_output_path, write_csv, write_jsonl, write_parquet
from datapipeline_spark.sources import (
    read_csv,
    read_json,
    read_jsonl,
    time_ticks,
)


def test_read_csv_semicolon_strict(spark, tmp_path):
    p = tmp_path / "data.csv"
    p.write_text("time;value\n2024-01-01T00:00:00;1.5\n2024-01-01T01:00:00;2.5\n")
    df = read_csv(spark, str(p))
    assert df.columns == ["time", "value"]
    assert df.count() == 2


def test_read_csv_duplicate_header_rejected(spark, tmp_path):
    p = tmp_path / "dup.csv"
    p.write_text("a;b;a\n1;2;3\n")
    with pytest.raises(ValueError, match="duplicate header"):
        read_csv(spark, str(p))


def test_read_csv_bad_delimiter(spark):
    with pytest.raises(ValueError, match="single character"):
        read_csv(spark, "/nonexistent", delimiter=";;")


def test_gzip_jsonl_roundtrip(spark, tmp_path):
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string")
    out = str(tmp_path / "out")
    write_jsonl(df, out, gzip=True)
    files = [f for f in os.listdir(out) if f.endswith(".json.gz")]
    assert files
    back = read_jsonl(spark, out, schema="id long, s string")
    assert sorted(tuple(r) for r in back.collect()) == [(1, "a"), (2, "b")]


def test_read_json_array_field(spark, tmp_path):
    p = tmp_path / "doc.json"
    p.write_text('{"meta": "x", "records": [{"v": 1}, {"v": 2}]}')
    df = read_json(spark, str(p), array_field="records")
    assert sorted(r["v"] for r in df.collect()) == [1, 2]


def test_time_ticks_bounds_and_count(spark):
    df = time_ticks(spark, "2024-01-01T00:00:00Z", "2024-01-01T04:00:00Z", "1h")
    times = sorted(r["time"] for r in df.collect())
    assert len(times) == 5
    assert times[0] == datetime(2024, 1, 1, 0) and times[-1] == datetime(2024, 1, 1, 4)


def test_time_ticks_large_distributed(spark):
    # a year of minutes: 525k+ ticks without driver materialization
    df = time_ticks(spark, "2024-01-01T00:00:00Z", "2024-12-31T23:59:00Z", "1min")
    assert df.count() == 527040


def test_materialize_checkpoint(spark, tmp_path):
    df = spark.createDataFrame([(1.0,), (2.0,)], "v double")
    back = materialize(df, str(tmp_path / "chk"), format="parquet")
    assert sorted(r["v"] for r in back.collect()) == [1.0, 2.0]


def test_run_output_layout(tmp_path):
    p = run_output_path(str(tmp_path), "r1", "prices", fold="f0", role="train", ext="parquet")
    assert p.endswith("runs/r1/dataset/prices.f0.train.parquet")
    assert os.path.isdir(os.path.dirname(p))
    assert os.readlink(os.path.join(tmp_path, "runs", "latest")) == "r1"
    p2 = run_output_path(str(tmp_path), "r2", "prices")
    assert p2.endswith("runs/r2/dataset/prices.parquet")
    assert os.readlink(os.path.join(tmp_path, "runs", "latest")) == "r2"


def test_write_csv_parquet(spark, tmp_path):
    df = spark.createDataFrame([(1, 2.0)], "a long, b double")
    write_csv(df, str(tmp_path / "c"))
    write_parquet(df, str(tmp_path / "p"))
    assert spark.read.option("header", True).csv(str(tmp_path / "c")).count() == 1
    assert spark.read.parquet(str(tmp_path / "p")).count() == 1


def test_bucketed_join_eliminates_shuffle(spark, tmp_path):
    from datapipeline_spark.io.writers import write_bucketed_table

    left = spark.range(1000).selectExpr("id AS k", "id * 2.0 AS lv")
    right = spark.range(1000).selectExpr("id AS k", "id * 3.0 AS rv")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        write_bucketed_table(
            left, "bk_left", ["k"], 4, sort_by=["k"], path=str(tmp_path / "bl")
        )
        write_bucketed_table(
            right, "bk_right", ["k"], 4, sort_by=["k"], path=str(tmp_path / "br")
        )
        # force the fact-to-fact (sort-merge) path a 100 TB join would take —
        # at test scale the planner would otherwise just broadcast
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("bk_left").join(spark.table("bk_right"), "k")
        assert joined.count() == 1000
        plan = joined._jdf.queryExecution().executedPlan().toString()
        # co-located bucket reads: no Exchange on either join side
        assert "Exchange" not in plan, plan
        assert "Bucketed: true" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS bk_left")
        spark.sql("DROP TABLE IF EXISTS bk_right")


def test_ensure_bucketed_table_reregisters_without_rewrite(spark, tmp_path):
    """Cross-process staging cache: after the catalog entry is gone (a new
    process), ensure_bucketed_table must re-register the finished files by
    DDL — no rewrite (file mtimes untouched), identical rows, and the
    bucket metadata restored so the co-located join still plans with zero
    Exchange."""
    import os

    from datapipeline_spark.io.writers import ensure_bucketed_table

    path_l = str(tmp_path / "el")
    path_r = str(tmp_path / "er")
    left = spark.range(500).selectExpr("id AS k", "id * 2.0 AS lv")
    right = spark.range(500).selectExpr("id AS k", "id * 3.0 AS rv")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        ensure_bucketed_table(spark, lambda: left, "eb_left", ["k"], 4, ["k"], path_l)
        ensure_bucketed_table(spark, lambda: right, "eb_right", ["k"], 4, ["k"], path_r)
        mtimes = {
            f: os.stat(os.path.join(path_l, f)).st_mtime_ns
            for f in os.listdir(path_l)
            if f.endswith(".parquet")
        }
        # simulate a fresh process: catalog entry gone, external files remain
        spark.sql("DROP TABLE eb_left")
        spark.sql("DROP TABLE eb_right")
        calls = {"n": 0}

        def boom():
            calls["n"] += 1
            return left

        t_l = ensure_bucketed_table(spark, boom, "eb_left", ["k"], 4, ["k"], path_l)
        t_r = ensure_bucketed_table(
            spark, lambda: right, "eb_right", ["k"], 4, ["k"], path_r
        )
        assert calls["n"] == 0  # hit path never builds the source frame
        assert {
            f: os.stat(os.path.join(path_l, f)).st_mtime_ns
            for f in os.listdir(path_l)
            if f.endswith(".parquet")
        } == mtimes  # no rewrite
        assert t_l.count() == 500
        assert sorted(r.k for r in t_l.limit(5).collect()) == sorted(
            r.k for r in spark.table("eb_left").limit(5).collect()
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = t_l.join(t_r, "k")
        assert joined.count() == 500
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert "Bucketed: true" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS eb_left")
        spark.sql("DROP TABLE IF EXISTS eb_right")


def test_orc_roundtrip(spark, tmp_path):
    from datapipeline_spark.io import write_orc
    from datapipeline_spark.sources import read_orc_glob

    df = spark.range(100).selectExpr("id", "id * 2 AS v", "CAST(id % 3 AS STRING) AS k")
    path = str(tmp_path / "t.orc")
    write_orc(df, path)
    assert read_orc_glob(spark, path).count() == 100
    # partition pruning reaches the ORC scan of a hive-partitioned table
    path = str(tmp_path / "parts.orc")
    df.write.partitionBy("k").orc(path)
    back = read_orc_glob(spark, path)
    assert back.count() == 100
    assert {r.v for r in back.filter("id < 3").collect()} == {0, 2, 4}
    plan = back.filter("k = '1'")._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(k" in plan
