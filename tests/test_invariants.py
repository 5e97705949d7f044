"""Metamorphic invariance tests + availability matrix.

Ports the reference's strongest regression ideas (docs/testing.md:31-35):
- shuffling raw input rows must not change any output;
- single-file vs multi-file glob inputs are equivalent;
(the third — spill-equivalence — is moot under Spark's managed sort).
"""

from __future__ import annotations

import json
import random
from datetime import datetime, timedelta, timezone

import pytest

from tests.conftest import rows


def _series_rows(n=48, parts=("a", "b", "c")):
    rng = random.Random(7)
    t0 = datetime(2024, 1, 1, tzinfo=timezone.utc)
    out = []
    for p in parts:
        for i in range(n):
            v = None if rng.random() < 0.2 else round(rng.uniform(-5, 5), 3)
            out.append(
                {"time": (t0 + timedelta(hours=i)).isoformat(), "loc": p, "value": v}
            )
    return out


def _pipeline(df):
    """A representative chain: rolling + lag + forward_fill + slope-ish."""
    from datapipeline_spark.operators.window import fill, forward_fill, lag, rolling

    df = rolling(df, "value", 4, "mean", 2, ["loc"], out="r4")
    df = lag(df, "value", 1, ["loc"], out="prev")
    df = forward_fill(df, "value", ["loc"], out="ff")
    df = fill(df, "value", 3, "median", 1, ["loc"], out="filled")
    return df.select("loc", "time", "value", "r4", "prev", "ff", "filled")


def test_shuffle_invariance(spark):
    """Input row order must not affect any output row (the engine's canonical
    ordering contract makes arrival order irrelevant)."""
    data = _series_rows()
    shuffled = list(data)
    random.Random(99).shuffle(shuffled)

    def run(payload):
        df = spark.createDataFrame(
            [(d["time"], d["loc"], d["value"]) for d in payload],
            "time string, loc string, value double",
        ).selectExpr("cast(time as timestamp) time", "loc", "value")
        return rows(_pipeline(df), "loc", "time")

    assert run(data) == run(shuffled)


def test_glob_equivalence(spark, tmp_path):
    """One file vs three files under a glob: identical dataset output
    (reference regression matrix, docs/testing.md:31-35)."""
    from datapipeline_spark.sources.readers import read_jsonl

    data = _series_rows(n=20, parts=("a", "b"))
    single = tmp_path / "single"
    single.mkdir()
    (single / "all.jsonl").write_text("\n".join(json.dumps(d) for d in data))
    multi = tmp_path / "multi"
    multi.mkdir()
    for i in range(3):
        (multi / f"part{i}.jsonl").write_text(
            "\n".join(json.dumps(d) for d in data[i::3])
        )

    def run(path):
        df = read_jsonl(spark, str(path) + "/*.jsonl").selectExpr(
            "cast(time as timestamp) time", "loc", "value"
        )
        return rows(_pipeline(df), "loc", "time")

    assert run(single) == run(multi)


def test_dataset_build_shuffle_invariance(spark, tmp_path):
    """End-to-end: shuffled raw jsonl lines → byte-identical dataset rows."""
    from datapipeline_spark.plans import compile_project, load_project
    from datapipeline_spark.plans.dataset_build import build_dataset

    data = _series_rows(n=12, parts=("a", "b"))

    def build(order_seed):
        payload = list(data)
        if order_seed is not None:
            random.Random(order_seed).shuffle(payload)
        root = tmp_path / f"proj{order_seed}"
        (root / "data").mkdir(parents=True)
        (root / "sources").mkdir()
        (root / "streams").mkdir()
        (root / "data" / "m.jsonl").write_text(
            "\n".join(json.dumps(d) for d in payload)
        )
        (root / "project.yaml").write_text("schema_version: 3\nname: inv\n")
        (root / "sources" / "m.yaml").write_text(
            "id: src.m\nparser: { entrypoint: core.temporal_record }\n"
            "loader: { transport: fs, path: data/m.jsonl, reader: { format: jsonl } }\n"
        )
        (root / "streams" / "m.yaml").write_text(
            "id: s.m\nfrom: { source: src.m }\npartition_by: [loc]\n"
            "transforms:\n  - { operation: rolling, field: value, window: 3, statistic: mean, min_samples: 1 }\n"
        )
        (root / "dataset.yaml").write_text(
            "sample:\n  cadence: 1h\n  keys: [loc]\nfeatures:\n"
            "  - { id: val, stream: s.m, field: value }\n"
        )
        b = build_dataset(compile_project(spark, load_project(root)))
        return rows(b.outputs()[("all", "full")], "loc", "time")

    assert build(None) == build(123)


# -------------------------------------------------------- availability matrix


def test_availability_matrix(spark):
    from datapipeline_spark.dataset.matrix import (
        availability_statuses,
        collect_matrix,
        render_html,
    )

    t0 = datetime(2024, 1, 1, tzinfo=timezone.utc)
    series = spark.createDataFrame(
        [
            ("s1", t0, 1.0),
            ("s1", t0 + timedelta(hours=1), None),  # null cell
            ("s2", t0, 2.0),
            # s2 missing at hour 1 → absent cell
            ("s1", t0 + timedelta(minutes=30), None),  # same bucket as present → present wins
        ],
        "series_id string, time timestamp, value double",
    )
    st = availability_statuses(series, "1h")
    buckets, ids, grid = collect_matrix(st)
    assert ids == ["s1", "s2"] and len(buckets) == 2
    assert grid[(buckets[0], "s1")] == "present"  # null in-bucket upgraded
    assert grid[(buckets[1], "s1")] == "null"
    assert grid[(buckets[0], "s2")] == "present"
    assert grid[(buckets[1], "s2")] == "absent"
    html = render_html(buckets, ids, grid)
    assert "<table>" in html and "absent" in html and "present" in html


def test_availability_matrix_max_cells_guard(spark):
    from datapipeline_spark.dataset.matrix import availability_statuses, collect_matrix

    t0 = datetime(2024, 1, 1, tzinfo=timezone.utc)
    series = spark.createDataFrame(
        [(f"s{i}", t0 + timedelta(hours=h), 1.0) for i in range(10) for h in range(10)],
        "series_id string, time timestamp, value double",
    )
    st = availability_statuses(series, "1h")
    with pytest.raises(ValueError, match="max_cells"):
        collect_matrix(st, max_cells=50)
