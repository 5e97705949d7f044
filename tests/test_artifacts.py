"""Artifact DAG + fingerprint cache tests (reference artifacts/executor
semantics: AUTO skip on unchanged fingerprint, rebuild on config or source
change, FORCE rebuilds all)."""

from __future__ import annotations

import json
import os
import time

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
