"""Workspace CLI surface: list / source create / stream create / demo init /
clean (reference cli/parser/{list_,scaffold,demo,clean}.py behavior)."""

from __future__ import annotations

import os
import time

import pytest


def test_list_registry_kinds():
    from datapipeline_spark.plans.scaffold import list_entities

    assert "core.temporal_record" in list_entities("parsers")
    assert "core.synthetic.ticks" in list_entities("loaders")
    assert "select" in list_entities("combiners")
    assert "encode_time" in list_entities("mappers")
    with pytest.raises(ValueError, match="requires --project"):
        list_entities("sources")
    with pytest.raises(ValueError, match="unknown list kind"):
        list_entities("nope")


def test_demo_init_compiles_and_lists(spark, tmp_path):
    from datapipeline_spark.plans import compile_project, load_project
    from datapipeline_spark.plans.scaffold import demo_init, list_entities

    root = demo_init(str(tmp_path / "demo"))
    assert list_entities("sources", str(root)) == ["src.demo"]
    assert list_entities("streams", str(root)) == ["s.demo"]
    compiled = compile_project(spark, load_project(root))
    rows = compiled.stream("s.demo").orderBy("time").collect()
    assert len(rows) == 6 and rows[0]["value"] == 1.0
    with pytest.raises(FileExistsError):
        demo_init(str(root))


def test_create_source_stream(tmp_path):
    from datapipeline_spark.plans.scaffold import create_source, create_stream

    p = create_source(str(tmp_path), "wind")
    assert p.read_text().startswith("id: src.wind")
    s = create_stream(str(tmp_path), "wind")
    assert "from: { source: src.wind }" in s.read_text()
    with pytest.raises(FileExistsError):
        create_source(str(tmp_path), "wind")


def test_clean_preserves_latest(tmp_path, monkeypatch):
    """Old run trees go, the `latest` one stays, and every engine cache
    kind under the temp directory is swept by the same age rule. The cache
    patterns are rebased under ``tmp_path`` so the test never touches a
    live cache."""
    from datapipeline_spark.plans import scaffold
    from datapipeline_spark.plans.scaffold import clean, find_stale

    runs = tmp_path / "output" / "runs"
    old = runs / "20240101T000000Z"
    new = runs / "20240102T000000Z"
    for d in (old, new):
        d.mkdir(parents=True)
    os.symlink(new, runs / "latest")
    past = time.time() - 3600
    os.utime(old, (past, past))

    caches = tmp_path / "tmp"
    monkeypatch.setattr(
        scaffold,
        "ENGINE_CACHES",
        tuple(p.replace("/tmp/", f"{caches}/", 1) for p in scaffold.ENGINE_CACHES),
    )
    stale_caches = [
        caches / "spark_graft_stream_0a1b",
        caches / "spark_graft_cdc_state_0a1b_chg",
        caches / "spark_graft_cdc_state_0a1b_run_x1",
        caches / "spark_graft_bucketed" / "bjr_orders_0a1b",
    ]
    fresh_caches = [
        caches / "spark_graft_cdc_state_2c3d_snap",
        caches / "spark_graft_bucketed" / "bjr_orders_2c3d",
    ]
    for d in (*stale_caches, *fresh_caches):
        d.mkdir(parents=True)
    for d in stale_caches:
        os.utime(d, (past, past))

    stale = find_stale(str(tmp_path), older_than="30m")
    assert [os.path.basename(s) for s in stale if "demo" not in s and "spark_graft" not in s] == [
        "20240101T000000Z"
    ]
    assert sorted(s for s in stale if "spark_graft" in s) == sorted(map(str, stale_caches))
    removed = clean(str(tmp_path), older_than="30m", yes=True)
    assert str(old) in removed and not old.exists() and new.exists()
    assert not any(d.exists() for d in stale_caches)
    assert all(d.exists() for d in fresh_caches)
    assert (caches / "spark_graft_bucketed").is_dir()


def test_plugin_init_registers(tmp_path):
    import sys

    from datapipeline_spark.plans.scaffold import plugin_init, version_report

    p = plugin_init(str(tmp_path), "accplug")
    sys.path.insert(0, str(tmp_path))
    try:
        __import__("accplug")
    finally:
        sys.path.remove(str(tmp_path))
    from datapipeline_spark.plans.registry import MAPPERS

    assert "accplug.identity" in MAPPERS
    with pytest.raises(ValueError, match="identifier"):
        plugin_init(str(tmp_path), "not-an-identifier")
    assert version_report().startswith("datapipeline-spark ")


def test_env_report_and_cli(capsys):
    """`env` mirrors the reference's `jerry env` (cli/parser_builder.py:36,
    cli/version.py:23-34): install location + interpreter + JVM details."""
    from datapipeline_spark import cli
    from datapipeline_spark.plans.scaffold import env_report

    rep = env_report()
    for key in ("datapipeline-spark:", "pyspark:", "python:", "java-home:"):
        assert key in rep
    assert cli.main(["env"]) == 0
    assert "pyspark:" in capsys.readouterr().out
