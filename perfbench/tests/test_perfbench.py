"""Tests of the benchmark itself: input determinism, the percentile rule,
the tracer's status-store readout, the oracle digest and its cache key, and
failure accounting.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import hashlib
import json
from pathlib import Path

import pytest

from perfbench import gen, measure, run, workloads


def _digests(root: Path) -> dict[str, str]:
    return {
        str(p.relative_to(root)): hashlib.sha256(p.read_bytes()).hexdigest()
        for p in sorted(root.rglob("*"))
        if p.is_file()
    }


def test_sensor_project_is_byte_identical_per_seed(tmp_path):
    a = gen.make_sensor_project(tmp_path / "a", 7, sites=3, days=4)
    b = gen.make_sensor_project(tmp_path / "b", 7, sites=3, days=4)
    c = gen.make_sensor_project(tmp_path / "c", 8, sites=3, days=4)
    assert _digests(a) == _digests(b)
    assert _digests(a)["data/readings.parquet"] != _digests(c)["data/readings.parquet"]


def test_sensor_readings_have_the_stated_defects(tmp_path):
    import pyarrow.parquet as pq

    root = gen.make_sensor_project(tmp_path / "p", 3, sites=10, days=10)
    df = pq.read_table(root / "data" / "readings.parquet").to_pandas()
    hours = 10 * 10 * 24
    hourly = df.assign(h=df["time"].dt.floor("h"))[["site", "h"]]
    present = len(hourly.drop_duplicates())
    assert 0.88 < present / hours < 0.96  # ~8% missing hours
    assert 0.15 < (len(df) - present) / present < 0.25  # ~20% duplicates
    assert 0.03 < df["temp"].isna().mean() < 0.07  # ~5% NaN


def test_tables_are_byte_identical_per_seed(tmp_path):
    gen.make_tables(tmp_path / "a", 5, scale=0.01)
    gen.make_tables(tmp_path / "b", 5, scale=0.01)
    gen.make_tables(tmp_path / "c", 6, scale=0.01)
    a, b, c = (_digests(tmp_path / d) for d in "abc")
    assert a == b
    assert set(a) == {f"{t}.parquet" for t in gen.TABLES}
    assert a["lineitem.parquet"] != c["lineitem.parquet"]


@pytest.mark.parametrize(
    ("n", "p"),
    [(19, None), (20, 50), (49, 75), (50, 80), (99, 80), (100, 90), (199, 90), (200, 95), (1000, 99)],
)
def test_tail_percentile_keeps_ten_samples_beyond(n, p):
    assert measure.tail_percentile(n) == p


def test_percentile_is_nearest_rank():
    values = [float(v) for v in range(1, 101)]
    assert measure.percentile(values, 50) == 50.0
    assert measure.percentile(values, 90) == 90.0
    assert measure.percentile([3.0, 1.0, 2.0], 100) == 3.0
    with pytest.raises(ValueError):
        measure.percentile([], 50)


def test_status_store_readout_counts_jobs():
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[1]")
        .appName("perfbench-test")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "512m")
        .getOrCreate()
    )
    try:
        tracer = measure.Tracer(True)
        group = tracer.group(spark, "tiny")
        with tracer.span("tiny"):
            assert spark.range(100).selectExpr("sum(id)").collect()[0][0] == 4950
        stats = tracer.readout(spark, group)
        assert stats["jobs"] >= 1
        assert stats["stages"] >= 1 and stats["tasks"] >= 1
        assert stats["executorRunTime"] >= 0 and stats["job_wall_s"] >= 0
        assert [s["name"] for s in tracer.spans] == ["tiny"]
        assert tracer.overhead_s > 0
    finally:
        spark.stop()


def test_disabled_tracer_records_nothing():
    tracer = measure.Tracer(False)
    with tracer.span("x"):
        pass
    assert tracer.group(None, "x") is None
    assert tracer.readout(None, None) == {}
    assert tracer.spans == [] and tracer.overhead_s == 0.0


def test_run_prints_the_metrics_benchmark_json_declares():
    spec = json.loads((run.ROOT / "BENCHMARK.json").read_text(encoding="utf-8"))
    for key, units in (("end_to_end", run.END_TO_END), ("per_layer", run.PER_LAYER)):
        assert {m["name"]: m["unit"] for m in spec[key]} == units
    assert {w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS)


def test_tables_key_follows_every_oracle_sql():
    sql = {n: f"SELECT '{n}'" for n in workloads.REGISTRY_MIX}
    key = workloads.tables_key(sql)
    assert key == workloads.tables_key(dict(sql))
    assert set(key["sources"]) == {"gen.py", "oracle.py", "check_correctness.py"}
    for name in workloads.REGISTRY_MIX:
        changed = dict(sql, **{name: sql[name] + " "})
        assert workloads.tables_key(changed) != key


def test_digest_rounds_floats_but_keeps_kinds_and_ignores_order():
    import pandas as pd

    from perfbench import oracle

    a = pd.DataFrame({"k": [1, 2], "v": [0.1 + 0.2, 2.0], "w": [[1.0, 2.0], [3.0]]})
    b = pd.DataFrame({"w": [[3.0], [1.0, 2.0 + 1e-13]], "v": [2.0, 0.3], "k": [2, 1]})
    assert oracle.digest(a) == oracle.digest(b)
    assert oracle.digest(a.assign(k=[1.0, 2.0]))["sha256"] != oracle.digest(a)["sha256"]
    assert oracle.digest(a.assign(v=[0.31, 2.0]))["sha256"] != oracle.digest(a)["sha256"]


def _main_with(monkeypatch, tmp_path, capsys, workload) -> tuple[int, dict]:
    closed = []
    monkeypatch.setattr(run, "WORK", tmp_path)
    monkeypatch.setattr(run, "pin_engine_settings", lambda: {"SPARK_GRAFT_CPUS": "1"})
    monkeypatch.setattr(workloads, "close_session", closed.append)
    monkeypatch.setitem(workloads.WORKLOADS, "fake", workload)
    code = run.main(["--workload", "fake", "--seed", "0", "--seconds", "1", "--trace", "0"])
    assert closed == [None]  # the session is closed even when none came up
    return code, json.loads(capsys.readouterr().out.strip().splitlines()[-1])


def test_failed_warmup_is_counted_and_the_result_printed(monkeypatch, tmp_path, capsys):
    monkeypatch.setattr(workloads, "start_session", lambda: None)

    def fake(r):
        if not workloads.set_up(r, 0.0, lambda spark: 1 / 0):
            return
        r.attempt("never", "query", True, lambda: None)

    code, result = _main_with(monkeypatch, tmp_path, capsys, fake)
    assert code == 1
    assert result == {"correct": False, "attempted": 1, "failed": 1, "metrics": {}}
    ops = (tmp_path / "results" / "fake-seed0-trace0.jsonl").read_text().splitlines()
    assert [json.loads(o)["op"] for o in ops] == ["setup"]


def test_error_escaping_the_operations_is_counted(monkeypatch, tmp_path, capsys):
    def fake(r):
        r.attempt("ok", "query", True, lambda: None)
        r.attempt("wrong", "query", True, lambda: (_ for _ in ()).throw(workloads.Mismatch("x")))
        raise RuntimeError("outside any operation")

    code, result = _main_with(monkeypatch, tmp_path, capsys, fake)
    assert code == 1
    assert result == {"correct": False, "attempted": 3, "failed": 2, "metrics": {}}
