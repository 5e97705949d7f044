"""Artifact DAG + fingerprint cache tests (reference artifacts/executor
semantics: AUTO skip on unchanged fingerprint, rebuild on config or source
change, FORCE rebuilds all)."""

from __future__ import annotations

import json
import struct
import time
from datetime import datetime

import pytest

from tests.conftest import rows


def _write(path, text):
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_text(text, encoding="utf-8")


@pytest.fixture()
def project(tmp_path):
    root = tmp_path / "proj"
    data = [
        {"time": f"2024-01-01T{h:02d}:00:00Z", "loc": loc, "value": float(h)}
        for h in range(4)
        for loc in ("x", "y")
    ]
    _write(root / "data" / "m.jsonl", "\n".join(json.dumps(r) for r in data))
    _write(root / "project.yaml", "schema_version: 3\nname: artifacts_demo\n")
    _write(
        root / "sources" / "m.yaml",
        """id: src.m
parser: { entrypoint: core.temporal_record }
loader: { transport: fs, path: data/m.jsonl, reader: { format: jsonl } }
""",
    )
    _write(
        root / "streams" / "m.yaml",
        """id: s.m
from: { source: src.m }
partition_by: [loc]
""",
    )
    _write(
        root / "dataset.yaml",
        """sample:
  cadence: 1h
  keys: [loc]
features:
  - { id: val, stream: s.m, field: value, scale: true }
targets: []
""",
    )
    return root


def _compiled(spark, root):
    from datapipeline_spark.plans import compile_project, load_project

    return compile_project(spark, load_project(root))


def test_build_then_skip(spark, project):
    from datapipeline_spark.plans.artifacts import build_artifacts

    r1 = build_artifacts(_compiled(spark, project))
    assert set(r1) == {"series", "metadata", "coverage_stats", "ticks", "scaler"}
    assert all(not r.skipped for r in r1.values())

    r2 = build_artifacts(_compiled(spark, project))
    assert all(r.skipped for r in r2.values())
    assert {k: v.fingerprint for k, v in r1.items()} == {
        k: v.fingerprint for k, v in r2.items()
    }


def test_series_artifact_contents(spark, project):
    from datapipeline_spark.plans.artifacts import ArtifactStore, build_artifacts

    compiled = _compiled(spark, project)
    build_artifacts(compiled)
    store = ArtifactStore(project / "build")
    series = store.read(compiled, "series")
    got = rows(series.select("series_id", "loc", "value"), "series_id", "loc", "time")
    assert len(got) == 8
    assert {g[0] for g in got} == {"val"}
    meta = store.read(compiled, "metadata")
    m = rows(meta.select("series_id", "n_rows", "n_present"))
    assert m == [("val", 8, 8)]
    cov = rows(store.read(compiled, "coverage_stats").select("series_id", "coverage"))
    assert cov == [("val", 1.0)]


def test_requested_key_builds_its_dependencies(spark, project):
    from datapipeline_spark.plans.artifacts import build_artifacts

    r = build_artifacts(_compiled(spark, project), keys={"coverage_stats"})
    assert set(r) == {"series", "metadata", "coverage_stats"}
    assert all(not res.skipped for res in r.values())
    assert (project / "build" / "series" / "manifest.json").is_file()
    assert (project / "build" / "metadata" / "manifest.json").is_file()


def test_ticks_artifact_one_grid_per_stream(spark, project):
    """Two features on one partitioned stream: the ticks artifact holds that
    stream's grid once, one row per (partition, tick)."""
    from datapipeline_spark.plans.artifacts import ArtifactStore, build_artifacts

    _write(
        project / "dataset.yaml",
        """sample:
  cadence: 1h
  keys: [loc]
features:
  - { id: val, stream: s.m, field: value, scale: true }
  - { id: val_again, stream: s.m, field: value }
targets: []
""",
    )
    compiled = _compiled(spark, project)
    build_artifacts(compiled, keys={"ticks"})
    ticks = ArtifactStore(project / "build").read(compiled, "ticks")
    got = rows(ticks, "stream_id", "partition_json", "time")
    assert [(s, p, t.hour) for s, p, t in got] == [
        ("s.m", json.dumps({"loc": loc}, separators=(",", ":")), h)
        for loc in ("x", "y")
        for h in range(4)
    ]


def test_source_change_invalidates(spark, project):
    from datapipeline_spark.plans.artifacts import build_artifacts

    build_artifacts(_compiled(spark, project))
    data_file = project / "data" / "m.jsonl"
    payload = data_file.read_text() + "\n" + json.dumps(
        {"time": "2024-01-01T04:00:00Z", "loc": "x", "value": 9.0}
    )
    time.sleep(0.01)
    data_file.write_text(payload)
    r = build_artifacts(_compiled(spark, project))
    assert not r["series"].skipped
    assert not r["metadata"].skipped  # depends on series fingerprint


def test_config_change_invalidates_scaler_only_dependents(spark, project):
    from datapipeline_spark.plans.artifacts import build_artifacts

    build_artifacts(_compiled(spark, project))
    # adding a split changes the scaler fingerprint, not the series one
    _write(
        project / "dataset.yaml",
        """sample:
  cadence: 1h
  keys: [loc]
features:
  - { id: val, stream: s.m, field: value, scale: true }
targets: []
split:
  mode: time
  intervals:
    - { id: train, until: "2024-01-01T02:00:00Z" }
    - { id: test }
  folds:
    - { id: f0, train: [train], test: [test] }
""",
    )
    r = build_artifacts(_compiled(spark, project))
    assert r["series"].skipped
    assert not r["scaler"].skipped


def test_force_rebuilds(spark, project):
    from datapipeline_spark.plans.artifacts import build_artifacts

    build_artifacts(_compiled(spark, project))
    r = build_artifacts(_compiled(spark, project), force=True)
    assert all(not res.skipped for res in r.values())


def test_ensure_ticks_transform(spark, tmp_path):
    """ensure_ticks reindexes against the per-partition bounds grid: ticks
    before/between observed records appear as placeholders."""
    from datapipeline_spark.plans import compile_project, load_project

    root = tmp_path / "p"
    data = [
        {"time": "2024-01-01T00:00:00Z", "loc": "x", "value": 1.0},
        {"time": "2024-01-01T03:00:00Z", "loc": "x", "value": 2.0},
        {"time": "2024-01-01T01:30:00Z", "loc": "x", "value": 9.0},  # off-grid
    ]
    _write(root / "data" / "m.jsonl", "\n".join(json.dumps(r) for r in data))
    _write(root / "project.yaml", "schema_version: 3\nname: t\n")
    _write(
        root / "sources" / "m.yaml",
        """id: src.m
parser: { entrypoint: core.temporal_record }
loader: { transport: fs, path: data/m.jsonl, reader: { format: jsonl } }
""",
    )
    _write(
        root / "streams" / "m.yaml",
        """id: s.m
from: { source: src.m }
partition_by: [loc]
transforms:
  - { operation: ensure_ticks, grid: 1h }
""",
    )
    compiled = compile_project(spark, load_project(root))
    got = rows(compiled.stream("s.m").select("time", "value"), "time")
    times = [(t.strftime("%H:%M"), v) for t, v in got]
    # grid 00..03 hourly + off-grid 01:30 kept
    assert times == [
        ("00:00", 1.0),
        ("01:00", None),
        ("01:30", 9.0),
        ("02:00", None),
        ("03:00", 2.0),
    ]


def test_series_facts_equal_metadata_and_multiplicity(spark):
    """The facts rows are ``collect_series_metadata``'s plus the bucket
    multiplicity a build used to collect on its own, for a scalar series
    and a list-kind one (two readings per hourly bucket, some NULL)."""
    from pyspark.sql import functions as F

    from datapipeline_spark.dataset.metadata import collect_series_metadata, series_facts
    from datapipeline_spark.functions.time import floor_time_expr

    rows = [("s", loc, datetime(2024, 1, 1, h), float(h)) for h in range(4) for loc in "xy"]
    rows += [
        ("l", loc, datetime(2024, 1, 1, h, m), None if m and h == 1 else float(h))
        for h in range(1, 4)
        for m in (0, 30)
        for loc in "xy"
    ]
    df = spark.createDataFrame(rows, "series_id string, loc string, time timestamp, value double")
    mult = {
        r["series_id"]: (r["lo"], r["hi"])
        for r in df.groupBy(floor_time_expr("time", "1h").alias("__b__"), "loc", "series_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .groupBy("series_id")
        .agg(F.min("n").alias("lo"), F.max("n").alias("hi"))
        .collect()
    }
    meta_cols = ["n_rows", "n_present", "n_null", "first_time", "last_time"]
    want = {
        r["series_id"]: (*[r[c] for c in meta_cols], *mult[r["series_id"]])
        for r in collect_series_metadata(df).collect()
    }
    facts = series_facts(df, "1h", ["loc"])
    assert facts.columns == ["series_id", *meta_cols, "lo", "hi"]
    got = {r["series_id"]: tuple(r)[1:] for r in facts.collect()}
    assert got == want
    assert got["s"][-2:] == (1, 1) and got["l"][-2:] == (2, 2)
    assert got["l"][:3] == (12, 10, 2)


def test_changed_cadence_makes_every_artifact_stale(spark, project):
    """Every fingerprint hashes the sample block, so a new cadence rebuilds
    the metadata, whose multiplicity depends on it: four hourly readings
    per location fill two 2h buckets with two readings each."""
    from datapipeline_spark.plans.artifacts import ArtifactStore, build_artifacts

    compiled = _compiled(spark, project)
    build_artifacts(compiled)
    meta = ArtifactStore(project / "build").read(compiled, "metadata").collect()
    assert [(r["lo"], r["hi"]) for r in meta] == [(1, 1)]
    dataset = project / "dataset.yaml"
    dataset.write_text(dataset.read_text().replace("cadence: 1h", "cadence: 2h"))
    compiled = _compiled(spark, project)
    results = build_artifacts(compiled)
    assert not any(res.skipped for res in results.values())
    meta = ArtifactStore(project / "build").read(compiled, "metadata").collect()
    assert [(r["lo"], r["hi"]) for r in meta] == [(2, 2)]


def _jobs(spark, group: str, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup("", "")
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _bits(row) -> tuple:
    return tuple(struct.pack(">d", v) if isinstance(v, float) else v for v in row)


def test_json_artifacts_round_trip_bit_for_bit(spark, tmp_path):
    """NaN, ±0.0, subnormals, ±1e308, ±Inf, NULL and microsecond UTC
    timestamps come back bit for bit under the producer's schema,
    nullability included, and reading and collecting run no Spark job.
    The parquet artifacts read under the recorded schema with no footer
    job."""
    from types import SimpleNamespace

    from pyspark.sql import functions as F

    from datapipeline_spark.plans.artifacts import JSON_KEYS, ArtifactStore, driver_rows

    values = [float("nan"), 0.0, -0.0, 5e-324, -2.5e-310, 1e308, -1e308, float("inf"), None]
    micros = [0, -1, 1, 1_700_000_000_123_456, -62_135_596_800_000_000, None, 7, 8, 9]
    df = spark.createDataFrame(
        [(f"s{i}", v, i if i % 2 else None, t) for i, (v, t) in enumerate(zip(values, micros))],
        "series_id string not null, mean double, n_obs long, t long",
    ).select("series_id", "mean", "n_obs", F.timestamp_micros("t").alias("first_time"))
    want = sorted(_bits(r) for r in driver_rows(df))
    store = ArtifactStore(tmp_path / "build")
    holder = SimpleNamespace(spark=spark)
    for key in sorted(JSON_KEYS):
        store.write(key, df, "fp")
        assert store.manifest(key)["format"] == "json"
        back, jobs = _jobs(spark, f"json-read-{key}", lambda: store.read(holder, key))
        assert back.schema == df.schema
        got, jobs_collect = _jobs(spark, f"json-collect-{key}", lambda: driver_rows(back))
        assert sorted(_bits(r) for r in got) == want
        assert jobs == jobs_collect == 0
    store.write("series", df, "fp")
    back, jobs = _jobs(spark, "parquet-read-series", lambda: store.read(holder, "series"))
    assert jobs == 0
    # a file source is all-nullable, whatever schema it is read under
    assert [(f.name, f.dataType) for f in back.schema] == [(f.name, f.dataType) for f in df.schema]
    assert all(f.nullable for f in back.schema)
    assert sorted(_bits(r) for r in driver_rows(back)) == want
