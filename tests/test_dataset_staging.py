"""Staged dataset builds: the series frame and the sample table are each
materialized once, so plan-time scans collapse into one collect, role writes
are narrow reads of the staged sample table, and the scaler artifact is the
build's own scaler fit."""

from __future__ import annotations

import json
import math

import pytest

ROLES_SPLIT = """split:
  mode: time
  intervals:
    - { id: early, until: "2024-01-02T00:00:00Z" }
    - { id: mid, until: "2024-01-02T12:00:00Z" }
    - { id: late }
  folds:
    - { id: main, train: [early], validation: [mid], test: [late] }
"""

TIME_TWO_FOLDS = """split:
  mode: time
  intervals:
    - { id: a, until: "2024-01-01T16:00:00Z" }
    - { id: b, until: "2024-01-02T08:00:00Z" }
    - { id: c }
  folds:
    - { id: f0, train: [a], test: [b] }
    - { id: f1, train: [a, b], test: [c] }
"""

HASH_TWO_FOLDS = """split:
  mode: hash
  seed: 7
  ratios: { a: 0.5, b: 0.25, c: 0.25 }
  folds:
    - { id: f0, train: [a], test: [c] }
    - { id: f1, train: [a, b], test: [c] }
"""


def _write(path, text):
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_text(text, encoding="utf-8")


def _value(h: int, loc: str) -> float:
    return round(3 * math.sin(h / 5) + (10.0 if loc == "b" else 0.0) + h / 7, 6)


def _project(root, split: str):
    """Two locations x 48 hours, a windowed stream, three series (two
    scaled), and the given split block."""
    data = [
        {"time": f"2024-01-{1 + h // 24:02d}T{h % 24:02d}:00:00Z", "loc": loc, "value": _value(h, loc)}
        for h in range(48)
        for loc in ("a", "b")
    ]
    _write(root / "data" / "m.jsonl", "\n".join(json.dumps(r) for r in data))
    _write(root / "project.yaml", "schema_version: 3\nname: staging_demo\n")
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
  - { operation: rolling, field: value, window: 3, statistic: mean, min_samples: 1, to: roll3 }
  - { operation: lag, field: value, periods: 1, to: lag1 }
""",
    )
    _write(
        root / "dataset.yaml",
        """sample:
  cadence: 1h
  keys: [loc]
features:
  - { id: val, stream: s.m, field: value, scale: true }
  - { id: roll, stream: s.m, field: roll3, scale: true }
targets:
  - { id: nxt, stream: s.m, field: lag1 }
"""
        + split,
    )
    return root


def _compiled(spark, root):
    from datapipeline_spark.plans import compile_project, load_project

    return compile_project(spark, load_project(root))


def _jobs_in_group(spark, group: str) -> int:
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_build_scans_once_and_role_writes_read_the_staged_table(
    spark, tmp_path, monkeypatch
):
    from datapipeline_spark.io.writers import write_parquet
    from datapipeline_spark.plans.dataset_build import build_dataset

    compiled = _compiled(spark, _project(tmp_path / "proj", ROLES_SPLIT))
    frame_cls = type(spark.range(1))
    collect = frame_cls.collect
    calls = []

    def counted(self):
        calls.append(1)
        return collect(self)

    monkeypatch.setattr(frame_cls, "collect", counted)
    build = build_dataset(compiled)
    monkeypatch.setattr(frame_cls, "collect", collect)
    # series ids and bucket multiplicities come from ONE collect
    assert len(calls) == 1

    outputs = build.outputs()
    assert sorted(outputs) == [("main", "test"), ("main", "train"), ("main", "validation")]
    sc = spark.sparkContext
    rows = 0
    try:
        for (fold, role), df in sorted(outputs.items()):
            group = f"staging-write-{fold}-{role}"
            sc.setJobGroup(group, group)
            path = str(tmp_path / "out" / role)
            write_parquet(df, path)
            # a narrow read of the staged sample table: no pivot, no stream
            # transforms re-run per role
            assert _jobs_in_group(spark, group) <= 2, (fold, role)
            rows += spark.read.parquet(path).count()
    finally:
        sc.setJobGroup("", "")
    assert rows == 96  # 2 locations x 48 hourly samples, each in one role


@pytest.mark.parametrize("split", [TIME_TWO_FOLDS, HASH_TWO_FOLDS], ids=["time", "hash"])
def test_scaler_artifact_equals_build_stats(spark, tmp_path, split):
    from datapipeline_spark.plans.artifacts import ArtifactStore, build_artifacts
    from datapipeline_spark.plans.dataset_build import build_dataset

    root = _project(tmp_path / "proj", split)
    compiled = _compiled(spark, root)
    build_artifacts(compiled, force=True)
    scaler = ArtifactStore(root / "build").read(compiled, "scaler").collect()
    got = {(r["fold"], r["series_id"]): r for r in scaler}
    want = {
        (r["fold"], r["series_id"]): r
        for r in build_dataset(_compiled(spark, root)).scaler_stats.collect()
    }
    assert set(got) == set(want)
    assert {f for f, _ in got} == {"f0", "f1"}
    assert {s for _, s in got} == {"val", "roll"}
    for key, r in want.items():
        assert got[key]["n_obs"] == r["n_obs"], key
        assert abs(got[key]["mean"] - r["mean"]) <= 1e-12, key
        assert abs(got[key]["std"] - r["std"]) <= 1e-12, key
    # the folds see different train rows, so their statistics differ
    assert got[("f0", "val")]["n_obs"] < got[("f1", "val")]["n_obs"]

