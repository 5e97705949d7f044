"""Full regression fixture ported end-to-end with the reference's golden
values (tests/integration/test_integration_full_regression.py +
tests/fixtures/regression_project/): broadcast combine + rolling_slope,
stride-gated sine sequences with null slots, ensure_cadence + mean-fill on
targets, log1p, forward_sum, per-location partition suffixes, corpus scaler,
and the intersection metadata window clipping the serve output to hours 0-4.
"""

from __future__ import annotations

import json
from math import log1p

import pytest


def _write(path, text):
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_text(text, encoding="utf-8")


LINEAR = [(h, 10.0 + 2 * h) for h in range(6)]
SINE = [
    ("03:30", -1.0),
    ("00:00", 0.0),
    ("05:30", -0.2),
    ("02:00", 0.0),
    ("01:30", 0.5),
    ("04:00", -0.5),
    ("00:30", 0.5),
    ("05:00", 0.5),
    ("02:30", None),
    ("03:00", -0.5),
    ("01:00", 1.0),
    ("04:30", 0.0),
]
POWER = [(5, 107.0), (1, 102.0), (3, 105.0), (0, 100.0)]
HUMIDITY = [
    (3, "south", None),
    (0, "north", 40.0),
    (5, "south", 40.0),
    (2, "north", 41.0),
    (1, "south", 37.0),
    (4, "north", None),
    (0, "south", 38.5),
    (5, "north", 43.0),
    (3, "north", 42.0),
    (4, "south", 39.0),
    (1, "north", None),
]


@pytest.fixture()
def project(tmp_path):
    root = tmp_path / "regr"
    _write(
        root / "data" / "linear.jsonl",
        "\n".join(
            json.dumps({"time": f"2024-03-01T{h:02d}:00:00Z", "value": v})
            for h, v in LINEAR
        ),
    )
    _write(
        root / "data" / "sine.jsonl",
        "\n".join(
            json.dumps({"time": f"2024-03-01T{t}:00Z", "value": v}) for t, v in SINE
        ),
    )
    _write(
        root / "data" / "power.jsonl",
        "\n".join(
            json.dumps({"time": f"2024-03-01T{h:02d}:00:00Z", "value": v})
            for h, v in POWER
        ),
    )
    _write(
        root / "data" / "humidity.jsonl",
        "\n".join(
            json.dumps(
                {"time": f"2024-03-01T{h:02d}:00:00Z", "location": p, "value": v}
            )
            for h, p, v in HUMIDITY
        ),
    )
    _write(
        root / "project.yaml",
        """schema_version: 3
name: regression
globals:
  start_time: 2024-03-01T00:00:00Z
  end_time: 2024-03-01T05:00:00Z
""",
    )
    for name in ("linear", "sine", "power", "humidity"):
        _write(
            root / "sources" / f"{name}.yaml",
            f"""id: regression.{name}
parser: {{ entrypoint: core.temporal_record }}
loader: {{ transport: fs, path: data/{name}.jsonl, reader: {{ format: jsonl }} }}
""",
        )
    pre = """preprocess:
  - { operation: where, operator: ge, field: time, comparand: "${start_time}" }
  - { operation: where, operator: le, field: time, comparand: "${end_time}" }
"""
    _write(
        root / "streams" / "linear.yaml",
        f"""id: metrics.linear
from: {{ source: regression.linear }}
{pre}transforms:
  - {{ operation: ensure_cadence, cadence: 1h }}
""",
    )
    _write(
        root / "streams" / "sine.yaml",
        f"""id: metrics.sine
from: {{ source: regression.sine }}
{pre}transforms:
  - {{ operation: ensure_cadence, cadence: 30m }}
  - {{ operation: collapse, keep: last }}
""",
    )
    _write(
        root / "streams" / "power.yaml",
        f"""id: targets.power
from: {{ source: regression.power }}
{pre}transforms:
  - {{ operation: ensure_cadence, cadence: 1h }}
  - {{ operation: fill, field: value, statistic: mean, window: 2, min_samples: 1 }}
  - {{ operation: log1p, field: value, to: log1p_value }}
  - {{ operation: forward_sum, field: value, window: 2, to: future_2 }}
""",
    )
    _write(
        root / "streams" / "humidity.yaml",
        f"""id: metrics.humidity
from: {{ source: regression.humidity }}
partition_by: [location]
{pre}transforms:
  - {{ operation: ensure_cadence, cadence: 1h }}
  - {{ operation: fill, statistic: median, window: 3, min_samples: 1, field: value }}
""",
    )
    _write(
        root / "streams" / "humidity_adjusted.yaml",
        """id: metrics.humidity.adjusted
from:
  stream: metrics.humidity
  broadcast: metrics.linear
combine:
  entrypoint: select
  args:
    fields:
      location: metrics.humidity.location
      humidity: metrics.humidity.value
      baseline: metrics.linear.value
    derive:
      - { to: value, left: humidity, operator: add, right_field: baseline }
transforms:
  - { operation: rolling_slope, x: baseline, y: humidity, window: 2, to: slope }
""",
    )
    _write(
        root / "dataset.yaml",
        """sample:
  cadence: 1h
features:
  - { id: linear_scaled, stream: metrics.linear, field: value, scale: true }
  - id: sine_window
    stream: metrics.sine
    field: value
    sequence: { size: 2, stride: 2 }
  - { id: humidity_partitioned, stream: metrics.humidity, field: value }
  - { id: humidity_adjusted, stream: metrics.humidity.adjusted, field: value }
  - { id: humidity_slope, stream: metrics.humidity.adjusted, field: slope }
targets:
  - { id: power_target, stream: targets.power, field: value }
  - { id: power_future_2, stream: targets.power, field: future_2 }
  - { id: power_log1p, stream: targets.power, field: log1p_value }
postprocess:
  samples:
    features:
      threshold: 0.5
metadata:
  window_mode: intersection
""",
    )
    return root


# (hour, linear, sine, north, south, adj_n, adj_s, slope_n, slope_s,
#  power, future, log_power) — reference golden rows
EXPECTED = [
    (0, -1.4638501094227998, [0.0, 0.5], 40.0, 38.5, 50.0, 48.5, None, None, 100.0, 203.0, log1p(100.0)),
    (1, -0.8783100656536799, [1.0, 0.5], 40.0, 37.0, 52.0, 49.0, 0.0, -0.75, 102.0, 206.0, log1p(102.0)),
    (2, -0.29277002188455997, [0.0, None], 41.0, 37.75, 55.0, 51.75, 0.5, 0.375, 101.0, 210.0, log1p(101.0)),
    (3, 0.29277002188455997, [-0.5, -1.0], 42.0, 37.75, 58.0, 53.75, 0.5, 0.0, 105.0, 212.0, log1p(105.0)),
    (4, 0.8783100656536799, [-0.5, 0.0], 41.5, 39.0, 59.5, 57.0, -0.25, 0.625, 105.0, None, log1p(105.0)),
]

COLS = [
    "linear_scaled",
    "sine_window",
    "humidity_partitioned__@location:north",
    "humidity_partitioned__@location:south",
    "humidity_adjusted__@location:north",
    "humidity_adjusted__@location:south",
    "humidity_slope__@location:north",
    "humidity_slope__@location:south",
    "power_target",
    "power_future_2",
    "power_log1p",
]


def _canonical_rows(spark, project):
    from datapipeline_spark.plans import compile_project, load_project
    from datapipeline_spark.plans.dataset_build import build_dataset

    build = build_dataset(compile_project(spark, load_project(project)))
    out = build.outputs()[("all", "full")]
    return [
        json.dumps(r.asDict(recursive=True), default=str, sort_keys=True)
        for r in out.orderBy("time").collect()
    ]


def test_output_independent_of_input_order_and_layout(spark, project):
    """The served dataset is byte-identical when raw input lines are
    reordered or split across glob-matched part files (reference
    tests/integration/test_regression_invariants.py:57-100)."""
    import random

    data = project / "data"
    expected = _canonical_rows(spark, project)
    originals = {
        f: (data / f).read_text(encoding="utf-8")
        for f in ("linear.jsonl", "sine.jsonl", "power.jsonl", "humidity.jsonl")
    }

    # reversed lines in every input
    for f, text in originals.items():
        (data / f).write_text("\n".join(reversed(text.splitlines())), encoding="utf-8")
    assert _canonical_rows(spark, project) == expected

    # seeded shuffle in every input
    for i, (f, text) in enumerate(originals.items()):
        lines = text.splitlines()
        shuffled = list(lines)
        random.Random(20260717 + i).shuffle(shuffled)
        if shuffled == lines:
            shuffled = [*lines[1:], lines[0]]
        (data / f).write_text("\n".join(shuffled), encoding="utf-8")
    assert _canonical_rows(spark, project) == expected

    # restore, then split one input across glob-matched part files
    for f, text in originals.items():
        (data / f).write_text(text, encoding="utf-8")
    lines = originals["linear.jsonl"].splitlines()
    parts = data / "linear_parts"
    parts.mkdir()
    (parts / "00-late.jsonl").write_text("\n".join(lines[:2]), encoding="utf-8")
    (parts / "05-mid.jsonl").write_text("\n".join(lines[2:4]), encoding="utf-8")
    (parts / "10-early.jsonl").write_text("\n".join(lines[4:]), encoding="utf-8")
    src = project / "sources" / "linear.yaml"
    src.write_text(
        src.read_text(encoding="utf-8").replace(
            "data/linear.jsonl", "data/linear_parts/*.jsonl"
        ),
        encoding="utf-8",
    )
    assert _canonical_rows(spark, project) == expected


def test_window_modes(spark, project):
    """strict intersects per-PARTITION ranges; intersection unions partitions
    within a base first (reference operations/artifacts/metadata.py:92-108:
    base_ranges vs partition_ranges); union spans everything observed."""
    from datapipeline_spark.plans import compile_project, load_project
    from datapipeline_spark.plans.dataset_build import build_dataset

    # south humidity starts at hour 0 but drop its first rows: rewrite the
    # file so south only covers hours 3-5 while north covers 0-5
    (project / "data" / "humidity.jsonl").write_text(
        "\n".join(
            json.dumps(
                {"time": f"2024-03-01T{h:02d}:00:00Z", "location": p, "value": v}
            )
            for h, p, v in HUMIDITY
            if p == "north" or h >= 3
        ),
        encoding="utf-8",
    )
    dataset_yaml = project / "dataset.yaml"
    base = dataset_yaml.read_text(encoding="utf-8")

    def hours(mode):
        # the mode comes from the dataset config's `metadata:` section
        dataset_yaml.write_text(
            base.replace("window_mode: intersection", f"window_mode: {mode}"),
            encoding="utf-8",
        )
        compiled = compile_project(spark, load_project(project))
        out = build_dataset(compiled).outputs()[("all", "full")]
        return sorted(r["time"].hour for r in out.select("time").collect())

    # base range of humidity = union(north 0-5, south 3-5) = 0-5, so the
    # base-level intersection is still clipped by other streams only
    assert hours("intersection") == [0, 1, 2, 3, 4]
    # strict uses the south partition's 3-5 range
    assert hours("strict") == [3, 4]
    # union spans min..max over everything observed (sine reaches bucket 5)
    assert hours("union") == [0, 1, 2, 3, 4, 5]


def test_full_regression_golden(spark, project):
    from datapipeline_spark.plans import compile_project, load_project
    from datapipeline_spark.plans.dataset_build import build_dataset

    build = build_dataset(compile_project(spark, load_project(project)))
    stats = {r["series_id"]: r for r in build.scaler_stats.collect()}
    assert set(stats) == {"linear_scaled"}
    assert stats["linear_scaled"]["mean"] == pytest.approx(15.0)
    assert stats["linear_scaled"]["std"] == pytest.approx(3.415650255319866)
    assert stats["linear_scaled"]["n_obs"] == 6

    out = build.outputs()[("all", "full")]
    rows = out.select("time", *COLS).orderBy("time").collect()
    assert [r["time"].hour for r in rows] == [0, 1, 2, 3, 4]
    for got, exp in zip(rows, EXPECTED):
        hour, *vals = exp
        assert got["time"].hour == hour
        for col, e in zip(COLS, vals):
            g = got[col]
            if e is None:
                assert g is None, f"h{hour} {col}: {g!r} != None"
            elif isinstance(e, list):
                assert len(g) == len(e)
                for gi, ei in zip(g, e):
                    if ei is None:
                        assert gi is None, f"h{hour} {col}: {g!r} != {e!r}"
                    else:
                        assert gi == pytest.approx(ei), f"h{hour} {col}"
            else:
                assert g == pytest.approx(e), f"h{hour} {col}: {g} != {e}"
