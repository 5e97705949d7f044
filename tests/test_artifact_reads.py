"""Each stream's transform chain runs once: the series frame projects every
stream once for all of its specs, and dataset builds read the series and
scaler artifacts back while their fingerprints are fresh (reference: the
dataset pipeline and `iter_model_batches` read the series artifact)."""

from __future__ import annotations

import json
import math
import os
import re
from functools import reduce

import numpy as np
import pytest

from tests.test_full_regression_golden import project as regression_project  # noqa: F401

SPLIT = """split:
  mode: time
  intervals:
    - { id: early, until: "2024-01-01T12:00:00Z" }
    - { id: late }
  folds:
    - { id: main, train: [early], test: [late] }
"""


def _write(path, text):
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_text(text, encoding="utf-8")


def _dataset_yaml(features: str, split: str = SPLIT) -> str:
    return f"sample:\n  cadence: 1h\n  keys: [loc]\nfeatures:\n{features}targets: []\n{split}"


THREE_FIELDS = """  - { id: val, stream: s.m, field: value, scale: true }
  - { id: roll, stream: s.m, field: roll3, scale: true }
  - { id: prev, stream: s.m, field: lag1 }
"""


@pytest.fixture()
def project(tmp_path):
    """Two locations x 24 hours, one windowed stream, three series (two
    scaled), a time split."""
    root = tmp_path / "proj"
    data = [
        {
            "time": f"2024-01-01T{h:02d}:00:00Z",
            "loc": loc,
            "value": round(math.sin(h / 3) + (5.0 if loc == "b" else 0.0), 6),
        }
        for h in range(24)
        for loc in ("a", "b")
    ]
    _write(root / "data" / "m.jsonl", "\n".join(json.dumps(r) for r in data))
    _write(root / "project.yaml", "schema_version: 3\nname: reads_demo\n")
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
    _write(root / "dataset.yaml", _dataset_yaml(THREE_FIELDS))
    return root


def _compiled(spark, root):
    from datapipeline_spark.plans import compile_project, load_project

    return compile_project(spark, load_project(root))


def _windows(df) -> int:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return len(re.findall(r"Window \[", plan))


def _per_field_union(compiled):
    """The series frame as one projection per feature, unioned: the
    reference the per-stream projection must equal. A sequence spec's rows
    are its stream's kept windows, in ``values``."""
    from pyspark.sql import functions as F

    from datapipeline_spark.dataset.series import project_series
    from datapipeline_spark.operators.window import sequence_windows

    cfg = compiled.definition.dataset
    keys = list(cfg.sample.keys)
    longs = []
    for s in [*cfg.features, *cfg.targets]:
        stream, partition_by = compiled.stream(s.stream), compiled.partition_by(s.stream)
        if s.sequence is None:
            long = project_series(stream, s.id, partition_by, entity_keys=keys, value_field=s.field)
            long = long.withColumn("values", F.lit(None).cast("array<double>"))
        else:
            seq = s.sequence
            windows = sequence_windows(
                stream, s.field, seq.size, seq.stride, partition_by, out="__seq__"
            )
            long = project_series(
                windows, s.id, partition_by, entity_keys=keys, value_field="__seq__"
            )
            long = long.withColumnRenamed("value", "values").withColumn(
                "value", F.lit(None).cast(stream.schema[s.field].dataType)
            )
        longs.append(
            long.select("series_id", "time", *keys, "value", "values", F.lit(s.id).alias("base_id"))
        )
    return reduce(lambda a, b: a.unionByName(b), longs)


def _assert_same_frame(got, want):
    assert got.schema == want.schema
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_series_frame_equals_per_field_union(spark, project, regression_project):  # noqa: F811
    """Same schema and rows as a union of one projection per spec, on a
    project whose specs share a field under two ids and on the regression
    fixture (partition suffixes, broadcast and aligned streams, a sequence
    spec)."""
    from datapipeline_spark.plans.dataset_build import series_frame

    _write(
        project / "dataset.yaml",
        _dataset_yaml(THREE_FIELDS + "  - { id: val_again, stream: s.m, field: value }\n"),
    )
    for root in (project, regression_project):
        compiled = _compiled(spark, root)
        series = series_frame(compiled)
        _assert_same_frame(series, _per_field_union(compiled))
    bases = series_frame(_compiled(spark, project)).select("base_id").distinct()
    assert {r[0] for r in bases.collect()} == {"val", "roll", "prev", "val_again"}


def test_series_plan_windows_do_not_grow_with_fields(spark, project):
    from datapipeline_spark.plans.dataset_build import series_frame

    one = "  - { id: roll, stream: s.m, field: roll3 }\n"
    _write(project / "dataset.yaml", _dataset_yaml(one))
    n_one = _windows(series_frame(_compiled(spark, project)))
    assert n_one > 0
    _write(project / "dataset.yaml", _dataset_yaml(THREE_FIELDS))
    assert _windows(series_frame(_compiled(spark, project))) == n_one


def _build_reading(spark, root, monkeypatch, cfg_of=None):
    """Build the dataset; return the series frame its pivot read, the
    build, and whether it computed the series from the streams."""
    from datapipeline_spark.plans import dataset_build
    from datapipeline_spark.plans.compiler import CompiledProject

    seen, computed = [], []
    assemble, series = dataset_build.assemble_samples, CompiledProject.series

    def spy(frame, *args, **kwargs):
        seen.append(frame)
        return assemble(frame, *args, **kwargs)

    def counted(self):
        computed.append(1)
        return series(self)

    with monkeypatch.context() as m:
        m.setattr(dataset_build, "assemble_samples", spy)
        m.setattr(CompiledProject, "series", counted)
        compiled = _compiled(spark, root)
        cfg = compiled.definition.dataset if cfg_of is None else cfg_of(compiled)
        build = dataset_build._build(compiled, cfg)
    return seen[0], build, bool(computed)


def _canonical_rows(build):
    out = build.outputs()[("all", "full")]
    rows = [
        json.dumps(r.asDict(recursive=True), default=str, sort_keys=True)
        for r in out.orderBy("time").collect()
    ]
    return out.columns, rows


def test_fresh_metadata_holds_sequence_facts(
    spark, regression_project, monkeypatch  # noqa: F811
):
    """After ``build_artifacts`` the metadata artifact holds the facts of
    every pivot column, the sequence spec's included, and the regression
    fixture's build takes them from that local relation alone. Under every
    window mode its output equals the build computed from the streams."""
    from datapipeline_spark.plans import dataset_build
    from datapipeline_spark.plans.artifacts import build_artifacts

    dataset_yaml = regression_project / "dataset.yaml"
    base = dataset_yaml.read_text(encoding="utf-8")
    modes = ("intersection", "strict", "union")

    def set_mode(mode):
        dataset_yaml.write_text(
            base.replace("window_mode: intersection", f"window_mode: {mode}"),
            encoding="utf-8",
        )

    want = {}
    for mode in modes:
        set_mode(mode)
        _, build, computed = _build_reading(spark, regression_project, monkeypatch)
        assert computed
        want[mode] = _canonical_rows(build)
    build_artifacts(_compiled(spark, regression_project))
    for key in ("metadata", "coverage_stats"):
        stored = json.loads((regression_project / "build" / key / "data.json").read_text())
        sine = [r for r in stored if r[0] == "sine_window"]
        # (series_id, n_rows, n_present, ...): every kept window is present
        assert len(sine) == 1 and sine[0][1] == sine[0][2] > 0, key
    facts, driver_rows = [], dataset_build.driver_rows

    def spy(df):
        facts.append(df)
        return driver_rows(df)

    for mode in modes:
        set_mode(mode)
        with monkeypatch.context() as m:
            m.setattr(dataset_build, "driver_rows", spy)
            _, build, computed = _build_reading(spark, regression_project, monkeypatch)
        assert not computed
        plan = facts[-1]._jdf.queryExecution().executedPlan().toString()
        assert "LocalTableScan" in plan and "Aggregate" not in plan
        assert not facts[-1].inputFiles()
        assert _canonical_rows(build) == want[mode], mode
    # the window modes clip differently, so each mode's equality counts
    assert len({tuple(w[1]) for w in want.values()}) > 1


def test_sequence_stream_runs_once_and_never_over_fresh_artifacts(
    spark, regression_project  # noqa: F811
):
    """Of the plans the regression fixture's build runs (its collects and
    localCheckpoints), one reads the sequence spec's source when the build
    computes, the staged series frame, and none does over fresh artifacts."""
    from datapipeline_spark.plans import dataset_build
    from datapipeline_spark.plans.artifacts import build_artifacts

    frame_cls = type(spark.range(1))

    def sine_plans():
        ran = []
        originals = {m: getattr(frame_cls, m) for m in ("collect", "localCheckpoint")}

        def spied(method):
            def run(self, *args, **kwargs):
                ran.append(self)
                return originals[method](self, *args, **kwargs)

            return run

        with pytest.MonkeyPatch.context() as m:
            for method in originals:
                m.setattr(frame_cls, method, spied(method))
            build = dataset_build.build_dataset(_compiled(spark, regression_project))
            for out in build.outputs().values():
                out.collect()
        return [df for df in ran if any(f.endswith("sine.jsonl") for f in df.inputFiles())]

    computed = sine_plans()
    assert len(computed) == 1
    assert {"value", "values", "base_id"} <= set(computed[0].columns)
    build_artifacts(_compiled(spark, regression_project))
    assert sine_plans() == []


def _reads_artifact(df, key: str) -> bool:
    files = df.inputFiles()
    return (
        _windows(df) == 0
        and bool(files)
        and all(f"/build/{key}/data.parquet/" in f for f in files)
    )


def _is_artifact_rows(df, root, key: str) -> bool:
    """``df`` is the JSON artifact's rows, not a refit: a local relation
    with no aggregate above it, holding exactly the rows of data.json."""
    from datapipeline_spark.plans.artifacts import driver_rows

    plan = df._jdf.queryExecution().executedPlan().toString()
    stored = json.loads((root / "build" / key / "data.json").read_text())
    return (
        "LocalTableScan" in plan
        and "Aggregate" not in plan
        and sorted(json.dumps(list(r)) for r in driver_rows(df))
        == sorted(json.dumps(r) for r in stored)
    )


def _sorted_rows(m):
    return m[np.lexsort(m.T[::-1])]


def _feed(spark, root):
    from datapipeline_spark import api

    batches = api.iter_model_batches(spark, root, fold="main", role="train", strict_finite=False)
    return _sorted_rows(np.concatenate([b.features for b in batches]))


def test_build_reads_fresh_artifacts(spark, project, monkeypatch):
    from datapipeline_spark.plans.artifacts import build_artifacts

    _, _, computed = _build_reading(spark, project, monkeypatch)
    assert computed
    feed = _feed(spark, project)

    build_artifacts(_compiled(spark, project))
    series, build, computed = _build_reading(spark, project, monkeypatch)
    assert not computed
    assert _reads_artifact(series, "series")
    assert _is_artifact_rows(build.scaler_stats, project, "scaler")
    np.testing.assert_array_equal(_feed(spark, project), feed)


def test_changed_source_or_stream_recomputes(spark, project, monkeypatch):
    from datapipeline_spark.plans.artifacts import build_artifacts

    build_artifacts(_compiled(spark, project))
    data = project / "data" / "m.jsonl"
    st = data.stat()
    os.utime(data, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
    assert _build_reading(spark, project, monkeypatch)[2]

    build_artifacts(_compiled(spark, project))
    assert not _build_reading(spark, project, monkeypatch)[2]
    stream = project / "streams" / "m.yaml"
    stream.write_text(stream.read_text().replace("window: 3", "window: 4"))
    assert _build_reading(spark, project, monkeypatch)[2]


def test_rewritten_part_file_invalidates(spark, tmp_path):
    """A parquet directory source whose part file is rewritten in place
    (the directory's own stats unchanged) is rebuilt."""
    from datapipeline_spark.plans.artifacts import build_artifacts

    root = tmp_path / "pq"
    spark.createDataFrame(
        [(f"2024-01-01T{h:02d}:00:00Z", "a", float(h)) for h in range(4)],
        "t string, loc string, value double",
    ).selectExpr("to_timestamp(t) AS time", "loc", "value").coalesce(1).write.parquet(
        str(root / "data" / "m.parquet")
    )
    _write(root / "project.yaml", "schema_version: 3\nname: pq\n")
    _write(
        root / "sources" / "m.yaml",
        "id: src.m\nloader: { path: data/m.parquet, reader: { format: parquet } }\n",
    )
    _write(root / "streams" / "m.yaml", "id: s.m\nfrom: { source: src.m }\npartition_by: [loc]\n")
    _write(
        root / "dataset.yaml",
        _dataset_yaml("  - { id: val, stream: s.m, field: value }\n", split=""),
    )
    assert not build_artifacts(_compiled(spark, root))["series"].skipped
    assert build_artifacts(_compiled(spark, root))["series"].skipped
    part = next((root / "data" / "m.parquet").glob("part-*.parquet"))
    parent = root / "data" / "m.parquet"
    dir_stat = parent.stat()
    st = part.stat()
    part.write_bytes(part.read_bytes())
    os.utime(part, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
    os.utime(parent, ns=(dir_stat.st_atime_ns, dir_stat.st_mtime_ns))
    assert not build_artifacts(_compiled(spark, root))["series"].skipped


def test_entry_point_loader_always_computes(spark, tmp_path, monkeypatch):
    """Synthetic ticks come from an entry-point loader, whose data the
    fingerprint cannot see: the build never reads its artifacts back."""
    from datapipeline_spark.plans.artifacts import SERIES, build_artifacts, fresh_frame

    root = tmp_path / "ticks"
    _write(root / "project.yaml", "schema_version: 3\nname: ticks\n")
    _write(
        root / "sources" / "t.yaml",
        """id: synthetic.ticks
parser: { entrypoint: core.synthetic.ticks }
loader:
  entrypoint: core.synthetic.ticks
  args: { start: "2024-01-01T00:00:00Z", end: "2024-01-01T05:00:00Z", frequency: 1h }
""",
    )
    _write(
        root / "streams" / "t.yaml",
        """id: t.lin
from: { source: synthetic.ticks }
map: { entrypoint: encode_time, args: { mode: linear } }
transforms:
  - { operation: rolling, field: value, window: 2, statistic: mean, min_samples: 1, to: r2 }
""",
    )
    _write(
        root / "dataset.yaml",
        """sample:
  cadence: 1h
features:
  - { id: r2, stream: t.lin, field: r2, scale: true }
targets: []
""",
    )
    results = build_artifacts(_compiled(spark, root))
    assert build_artifacts(_compiled(spark, root))["series"].skipped
    assert not results["series"].skipped
    assert fresh_frame(_compiled(spark, root), SERIES) is None
    assert _build_reading(spark, root, monkeypatch)[2]


def test_samples_preview_fits_its_own_scaler(spark, project, monkeypatch):
    """The preview strips the split, so its scaler is a fresh fit of the
    stripped config, not the project's per-fold scaler artifact."""
    from datapipeline_spark.plans.artifacts import build_artifacts
    from datapipeline_spark.plans.dataset_build import fit_split_scaler

    build_artifacts(_compiled(spark, project))

    def stripped(compiled):
        return compiled.definition.dataset.model_copy(update={"postprocess": None, "split": None})

    series, build, _ = _build_reading(spark, project, monkeypatch, stripped)
    assert _reads_artifact(series, "series")
    compiled = _compiled(spark, project)
    want = fit_split_scaler(compiled.series(), stripped(compiled))
    got = {r["series_id"]: r for r in build.scaler_stats.collect()}
    assert "fold" not in build.scaler_stats.columns
    assert set(got) == {"val", "roll"}
    for r in want.collect():
        assert got[r["series_id"]]["n_obs"] == r["n_obs"] == 24 * 2
        assert got[r["series_id"]]["mean"] == pytest.approx(r["mean"], abs=1e-12)
        assert got[r["series_id"]]["std"] == pytest.approx(r["std"], abs=1e-12)


def test_force_serve_over_fresh_artifacts(spark, project):
    """A FORCE serve rewrites the artifacts before the build reads them, so
    its outputs equal a serve computed from the streams."""
    from datapipeline_spark import api
    from datapipeline_spark.plans.artifacts import build_artifacts

    profile = project / "profiles" / "serve.dataset.yaml"
    output = "output: { transport: fs, format: parquet, directory: output }\n"
    _write(profile, "operation: dataset\n" + output)
    want = api.serve(spark, project, run_id="computed")
    build_artifacts(_compiled(spark, project))
    _write(profile, "operation: dataset\nartifact_mode: FORCE\n" + output)
    got = api.serve(spark, project, run_id="forced")
    assert sorted(got) == sorted(want) == [("main", "test"), ("main", "train")]
    for key in want:
        _assert_same_frame(
            spark.read.parquet(got[key]), spark.read.parquet(want[key])
        )


def test_fresh_artifacts_run_no_spark_job(spark, project):
    from datapipeline_spark.plans.artifacts import build_artifacts

    build_artifacts(_compiled(spark, project))
    sc = spark.sparkContext
    group = "artifacts-fresh-no-jobs"
    sc.setJobGroup(group, group)
    try:
        results = build_artifacts(_compiled(spark, project))
    finally:
        sc.setJobGroup("", "")
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    assert all(r.skipped for r in results.values())
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 0


def _ticks_from_streams(compiled):
    """The ticks artifact as every stream's own grid: the reference the
    grids taken from the staged series frame must equal."""
    from pyspark.sql import functions as F

    from datapipeline_spark.operators.ticks import tick_grid

    cfg = compiled.definition.dataset
    grids = []
    for stream_id in dict.fromkeys(s.stream for s in [*cfg.features, *cfg.targets]):
        partition_by = compiled.partition_by(stream_id)
        grid = tick_grid(compiled.stream(stream_id), cfg.sample.cadence, partition_by)
        grids.append(
            grid.select(
                F.lit(stream_id).alias("stream_id"),
                F.to_json(F.struct(*partition_by)) if partition_by else F.lit("{}"),
                "time",
            ).toDF("stream_id", "partition_json", "time")
        )
    return reduce(lambda a, b: a.unionByName(b), grids)


def _parquet_project(spark, root):
    """One parquet-directory source, a stream partitioned by the one
    sample key, no transforms."""
    spark.createDataFrame(
        [(f"2024-01-01T{h:02d}:00:00Z", loc, float(h)) for h in range(4) for loc in "ab"],
        "t string, loc string, value double",
    ).selectExpr("to_timestamp(t) AS time", "loc", "value").coalesce(1).write.parquet(
        str(root / "data" / "m.parquet")
    )
    _write(root / "project.yaml", "schema_version: 3\nname: pq\n")
    _write(
        root / "sources" / "m.yaml",
        "id: src.m\nloader: { path: data/m.parquet, reader: { format: parquet } }\n",
    )
    _write(root / "streams" / "m.yaml", "id: s.m\nfrom: { source: src.m }\npartition_by: [loc]\n")
    _write(
        root / "dataset.yaml",
        _dataset_yaml("  - { id: val, stream: s.m, field: value }\n", split=""),
    )
    return root


def test_ticks_from_series_equal_ticks_from_streams(
    spark, project, regression_project, tmp_path  # noqa: F811
):
    """Streams partitioned by sample keys take their grid from the staged
    series frame, so the plan reads no source file; the regression
    fixture's partition-suffixed and sequence-only streams read the
    stream. Either way the ticks equal every stream's own grid."""
    from datapipeline_spark.plans.artifacts import _build_ticks

    pq = _parquet_project(spark, tmp_path / "pq")
    for root in (project, pq, regression_project):
        compiled = _compiled(spark, root)
        ticks = _build_ticks(compiled)
        _assert_same_frame(ticks, _ticks_from_streams(compiled))
        assert ticks.count() > 0
    assert not _build_ticks(_compiled(spark, project)).inputFiles()
    assert _ticks_from_streams(_compiled(spark, project)).inputFiles()
    assert _build_ticks(_compiled(spark, regression_project)).inputFiles()
