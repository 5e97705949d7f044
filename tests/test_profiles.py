"""Typed profile grammar + orchestration (reference config/profiles/* and
profiles/orchestration.py: ordered/enabled bundling, per-command defaults,
build-order validation, output routing, materialize preflight)."""

from __future__ import annotations

import json

import pytest


def _write(path, text):
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_text(text, encoding="utf-8")


@pytest.fixture()
def project(tmp_path):
    root = tmp_path / "proj"
    data = [
        {"time": f"2024-01-01T{h:02d}:00:00Z", "value": float(h)} for h in range(6)
    ]
    _write(root / "data" / "m.jsonl", "\n".join(json.dumps(r) for r in data))
    _write(root / "project.yaml", "schema_version: 3\nname: profdemo\n")
    _write(
        root / "sources" / "m.yaml",
        """id: src.m
parser: { entrypoint: core.temporal_record }
loader: { transport: fs, path: data/m.jsonl, reader: { format: jsonl } }
""",
    )
    _write(root / "streams" / "m.yaml", "id: s.m\nfrom: { source: src.m }\n")
    _write(
        root / "dataset.yaml",
        """sample:
  cadence: 1h
features:
  - { id: val, stream: s.m, field: value }
split:
  mode: time
  intervals:
    - { id: early, until: "2024-01-01T03:00:00Z" }
    - { id: late }
  folds:
    - { id: f0, train: [early], validation: [], test: [late] }
""",
    )
    return root


def test_profile_defaults_merge_and_order(spark, project):
    from datapipeline_spark.plans import load_project
    from datapipeline_spark.plans.config import ordered_profiles

    _write(
        project / "profiles" / "serve.defaults.yaml",
        "output: { transport: fs, format: jsonl, directory: out }\n",
    )
    _write(
        project / "profiles" / "serve.second.yaml",
        "order: 2\noutput: { format: csv }\n",
    )
    _write(project / "profiles" / "serve.first.yaml", "order: 1\n")
    _write(project / "profiles" / "serve.disabled.yaml", "enabled: false\n")
    _write(project / "profiles" / "serve.unordered.yaml", "")
    defn = load_project(project)
    assert set(defn.profiles) == {
        "serve.second",
        "serve.first",
        "serve.disabled",
        "serve.unordered",
    }
    second = defn.profiles["serve.second"]
    # defaults merged one level deep: format overridden, directory inherited
    assert second.output.format == "csv" and second.output.directory == "out"
    enabled = [p for p in defn.profiles.values() if p.enabled]
    assert [p.name for p in ordered_profiles(enabled)] == [
        "first",
        "second",
        "unordered",
    ]


def test_profile_file_naming_rejected(spark, project):
    from datapipeline_spark.plans import load_project

    _write(project / "profiles" / "bogus.yaml", "operation: dataset\n")
    with pytest.raises(ValueError, match="cmd"):
        load_project(project)


def test_serve_routes_include_outputs(spark, project):
    from datapipeline_spark.plans.profiles import run_profiles

    _write(
        project / "profiles" / "serve.train.yaml",
        "include_outputs: [f0.train]\noutput: { directory: out }\n",
    )
    results = run_profiles(spark, project, "serve", run_id="r1")
    assert [r.output_id for r in results] == ["f0.train"]
    path = results[0].detail
    assert "train.f0.train.jsonl" in path
    from pathlib import Path

    rows = [
        json.loads(l)
        for part in sorted(Path(path).glob("part-*"))
        for l in part.read_text().splitlines()
        if l.strip()
    ]
    # early interval = hours 0,1,2
    assert len(rows) == 3


def test_serve_unknown_include_output(spark, project):
    from datapipeline_spark.plans.profiles import run_profiles

    _write(
        project / "profiles" / "serve.bad.yaml",
        "include_outputs: [nope.train]\n",
    )
    with pytest.raises(ValueError, match="nope.train"):
        run_profiles(spark, project, "serve", run_id="r1")


def test_serve_stdout(spark, project, capsys):
    from datapipeline_spark.plans.profiles import run_profiles

    _write(
        project / "profiles" / "serve.echo.yaml",
        "include_outputs: [f0.test]\nlimit: 2\noutput: { transport: stdout }\n",
    )
    results = run_profiles(spark, project, "serve", run_id="r1")
    assert results[0].detail == "stdout:f0.test"
    lines = [l for l in capsys.readouterr().out.splitlines() if l.strip()]
    assert len(lines) == 2 and "val" in lines[0]


def test_build_profiles_ordered_and_modes(spark, project):
    from datapipeline_spark.plans.profiles import run_profiles

    _write(project / "profiles" / "build.series.yaml", "order: 1\noperation: series\n")
    _write(
        project / "profiles" / "build.metadata.yaml", "order: 2\noperation: metadata\n"
    )
    _write(
        project / "profiles" / "build.ticks.yaml",
        "order: 3\noperation: ticks\nmode: OFF\n",
    )
    results = run_profiles(spark, project, "build")
    assert [(r.profile, r.action) for r in results] == [
        ("build.series", "built"),
        ("build.metadata", "built"),
        ("build.ticks", "skipped"),
    ]
    # second run: fingerprints fresh → skipped; FORCE overrides
    results = run_profiles(spark, project, "build")
    assert [r.action for r in results] == ["skipped", "skipped", "skipped"]
    _write(
        project / "profiles" / "build.series.yaml",
        "order: 1\noperation: series\nmode: FORCE\n",
    )
    results = run_profiles(spark, project, "build")
    assert results[0].action == "built"


def test_build_order_validation(spark, project):
    from datapipeline_spark.plans.profiles import run_profiles

    _write(
        project / "profiles" / "build.metadata.yaml", "order: 1\noperation: metadata\n"
    )
    _write(project / "profiles" / "build.series.yaml", "order: 2\noperation: series\n")
    with pytest.raises(ValueError, match="ordered before"):
        run_profiles(spark, project, "build")
    # transitive: coverage_stats needs series through metadata
    (project / "profiles" / "build.metadata.yaml").unlink()
    _write(
        project / "profiles" / "build.coverage.yaml",
        "order: 1\noperation: coverage_stats\n",
    )
    with pytest.raises(ValueError, match="'series' must be ordered before"):
        run_profiles(spark, project, "build")


def test_build_duplicate_operations_rejected(spark, project):
    from datapipeline_spark.plans.profiles import run_profiles

    _write(project / "profiles" / "build.a.yaml", "order: 1\noperation: series\n")
    _write(project / "profiles" / "build.b.yaml", "order: 2\noperation: series\n")
    with pytest.raises(ValueError, match="unique"):
        run_profiles(spark, project, "build")


def test_materialize_preflight_and_run(spark, project):
    from datapipeline_spark.plans.profiles import run_profiles

    _write(
        project / "profiles" / "materialize.m.yaml",
        "stream: s.m\noutput: mat/m.jsonl\n",
    )
    results = run_profiles(spark, project, "materialize")
    assert results[0].action == "materialized"
    assert (project / "mat" / "m.jsonl").exists()
    # second run without overwrite → preflight error before any job
    with pytest.raises(ValueError, match="exists"):
        run_profiles(spark, project, "materialize")
    _write(
        project / "profiles" / "materialize.m.yaml",
        "stream: s.m\noutput: mat/m.jsonl\noverwrite: true\n",
    )
    assert run_profiles(spark, project, "materialize")[0].action == "materialized"


def test_materialize_requires_jsonl_suffix(spark, project):
    from datapipeline_spark.plans import load_project

    _write(
        project / "profiles" / "materialize.bad.yaml",
        "stream: s.m\noutput: mat/m.parquet\n",
    )
    with pytest.raises(ValueError, match="jsonl"):
        load_project(project)


def test_inspect_matrix_html(spark, project, tmp_path):
    from datapipeline_spark.plans.profiles import run_profiles

    _write(
        project / "profiles" / "inspect.matrix.yaml",
        "operation: matrix\noutput: { transport: fs, format: jsonl, directory: insp }\n",
    )
    results = run_profiles(spark, project, "inspect")
    out = project / "insp" / "matrix.html"
    assert out.exists() and "<table" in out.read_text()
    assert results[0].action == "inspected"


def test_serve_parquet_matches_jsonl(spark, project):
    """Parquet fold outputs carry the same rows/values as jsonl ones
    (reference tests/integration/test_parquet_dataset_output.py)."""
    from datapipeline_spark.plans.profiles import run_profiles

    _write(
        project / "profiles" / "serve.jl.yaml",
        "output: { directory: out, format: jsonl }\n",
    )
    _write(
        project / "profiles" / "serve.pq.yaml",
        "output: { directory: out, format: parquet }\n",
    )
    results = run_profiles(spark, project, "serve", run_id="r1")
    by_profile: dict[str, dict[str, str]] = {}
    for r in results:
        by_profile.setdefault(r.profile, {})[r.output_id] = r.detail
    assert set(by_profile) == {"serve.jl", "serve.pq"}
    assert set(by_profile["serve.jl"]) == set(by_profile["serve.pq"]) != set()

    def canon(df):
        return sorted(
            json.dumps(r.asDict(recursive=True), default=str, sort_keys=True)
            for r in df.collect()
        )

    for output_id, jl_path in by_profile["serve.jl"].items():
        pq_path = by_profile["serve.pq"][output_id]
        pq = spark.read.parquet(pq_path)
        jl = spark.read.schema(pq.schema).json(jl_path)
        assert canon(jl) == canon(pq), output_id
        assert pq.count() > 0


def test_output_spec_validation():
    from datapipeline_spark.plans.config import OutputSpec

    with pytest.raises(ValueError, match="stdout"):
        OutputSpec(transport="stdout", format="parquet")
    with pytest.raises(ValueError, match="view"):
        OutputSpec(format="csv", view="raw")
    with pytest.raises(ValueError, match="gzip|compression"):
        OutputSpec(format="parquet", gzip=True)
    with pytest.raises(ValueError, match="separator"):
        OutputSpec(filename="a/b")


def test_cli_run_command(spark, project, capsys):
    from datapipeline_spark import cli

    _write(project / "profiles" / "build.series.yaml", "operation: series\n")
    rc = cli.main(["run", str(project), "build"])
    assert rc == 0
    assert "build.series\tbuilt" in capsys.readouterr().out
    rc = cli.main(["run", str(project), "materialize"])
    assert rc == 1
