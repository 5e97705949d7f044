"""Lifecycle tests: YAML project → compiled DataFrame graph → dataset.

Mirrors the reference's fixture-project strategy (tests/fixtures/*): small
YAML trees + data files loaded through the real config/compile path, with
golden full-row assertions (reference docs/testing.md:20-26).
"""

from __future__ import annotations

import json
import math

import pytest

from tests.conftest import rows


def _write(path, text):
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_text(text, encoding="utf-8")


@pytest.fixture()
def ticks_project(tmp_path):
    """Replica of reference tests/fixtures/drop_null_project: synthetic 2h
    ticks → linear time feature → hourly cadence with placeholder ticks."""
    root = tmp_path / "proj"
    _write(
        root / "project.yaml",
        """
schema_version: 3
artifact_revision: 1
name: ticks_project
globals:
  start_time: 2024-01-01T00:00:00Z
  end_time: 2024-01-01T04:00:00Z
""",
    )
    _write(
        root / "sources" / "synthetic.ticks.yaml",
        """
id: synthetic.ticks
parser:
  entrypoint: core.synthetic.ticks
loader:
  entrypoint: core.synthetic.ticks
  args:
    start: "${start_time}"
    end: "${end_time}"
    frequency: "2h"
""",
    )
    _write(
        root / "streams" / "time.ticks.linear.yaml",
        """
id: time.ticks.linear
from:
  source: synthetic.ticks
map:
  entrypoint: encode_time
  args: { mode: linear }
preprocess:
  - { operation: where, operator: ge, field: time, comparand: "${start_time}" }
  - { operation: where, operator: le, field: time, comparand: "${end_time}" }
transforms:
  - { operation: ensure_cadence, cadence: 1h }
""",
    )
    _write(
        root / "dataset.yaml",
        """
sample:
  cadence: 1h
features:
  - id: time_linear
    stream: time.ticks.linear
    field: value
targets: []
postprocess:
  samples:
    features:
      threshold: 1.0
""",
    )
    return root


def test_load_project_validates(ticks_project):
    from datapipeline_spark.plans import load_project

    defn = load_project(ticks_project)
    assert set(defn.sources) == {"synthetic.ticks"}
    assert set(defn.streams) == {"time.ticks.linear"}
    assert defn.dataset is not None
    assert defn.dataset.sample.cadence == "1h"
    # globals interpolated; YAML timestamps keep their native type
    from datetime import datetime, timezone

    src = defn.sources["synthetic.ticks"]
    assert src.loader.args["start"] == datetime(2024, 1, 1, tzinfo=timezone.utc)


def test_ticks_stream_compiles(spark, ticks_project):
    from datapipeline_spark.plans import compile_project, load_project

    compiled = compile_project(spark, load_project(ticks_project))
    df = compiled.stream("time.ticks.linear")
    got = rows(df, "time")
    # 2h ticks 00..04 + ensure_cadence placeholders at 01,03 (value null)
    assert len(got) == 5
    times = [t.strftime("%H") for t, _ in got]
    assert times == ["00", "01", "02", "03", "04"]
    vals = [v for _, v in got]
    assert vals[0] is not None and vals[2] is not None and vals[4] is not None
    assert vals[1] is None and vals[3] is None
    # linear encoding = epoch seconds
    assert vals[0] == got[0][0].timestamp()


def test_drop_null_dataset(spark, ticks_project):
    """Golden: threshold 1.0 drops the placeholder-hour samples — exactly the
    reference drop_null_project behavior."""
    from datapipeline_spark.plans import compile_project, load_project
    from datapipeline_spark.plans.dataset_build import build_dataset

    build = build_dataset(compile_project(spark, load_project(ticks_project)))
    outs = build.outputs()
    assert set(outs) == {("all", "full")}
    got = rows(outs[("all", "full")].select("time", "time_linear"), "time")
    assert [t.strftime("%H") for t, _ in got] == ["00", "02", "04"]
    assert all(v == t.timestamp() for t, v in got)


@pytest.fixture()
def fusion_project(tmp_path):
    """Partitioned jsonl + broadcast combine + align + derived stream +
    time-split folds with a leakage-sensitive scaler — the regression_project
    / walk_forward_project shapes in one fixture."""
    root = tmp_path / "proj2"
    hum = [
        ("2024-03-01T00:00:00Z", "north", 40.0),
        ("2024-03-01T01:00:00Z", "north", 42.0),
        ("2024-03-01T02:00:00Z", "north", 44.0),
        ("2024-03-01T03:00:00Z", "north", 46.0),
        ("2024-03-01T00:00:00Z", "south", 50.0),
        ("2024-03-01T01:00:00Z", "south", 52.0),
        ("2024-03-01T02:00:00Z", "south", 54.0),
        ("2024-03-01T03:00:00Z", "south", 56.0),
    ]
    _write(
        root / "data" / "humidity.jsonl",
        "\n".join(
            json.dumps({"time": t, "location": p, "value": v}) for t, p, v in hum
        ),
    )
    base = [("2024-03-01T0%d:00:00Z" % h, float(h)) for h in range(4)]
    _write(
        root / "data" / "baseline.jsonl",
        "\n".join(json.dumps({"time": t, "value": v}) for t, v in base),
    )
    _write(
        root / "project.yaml",
        """
schema_version: 3
name: fusion
globals: {}
""",
    )
    _write(
        root / "sources" / "humidity.yaml",
        """
id: metrics.humidity
parser:
  entrypoint: core.temporal_record
loader:
  transport: fs
  path: data/humidity.jsonl
  reader: { format: jsonl }
""",
    )
    _write(
        root / "sources" / "baseline.yaml",
        """
id: metrics.baseline
parser:
  entrypoint: core.temporal_record
loader:
  transport: fs
  path: data/baseline.jsonl
  reader: { format: jsonl }
""",
    )
    _write(
        root / "streams" / "humidity.yaml",
        """
id: metrics.humidity
from: { source: metrics.humidity }
partition_by: [location]
""",
    )
    _write(
        root / "streams" / "baseline.yaml",
        """
id: metrics.baseline
from: { source: metrics.baseline }
""",
    )
    _write(
        root / "streams" / "adjusted.yaml",
        """
id: metrics.adjusted
from:
  stream: metrics.humidity
  broadcast: metrics.baseline
combine:
  entrypoint: select
  args:
    fields:
      location: metrics.humidity.location
      humidity: metrics.humidity.value
      baseline: metrics.baseline.value
    derive:
      - { to: value, left: humidity, operator: add, right_field: baseline }
transforms:
  - { operation: rolling_slope, x: baseline, y: humidity, window: 2, to: slope }
""",
    )
    _write(
        root / "streams" / "paired.yaml",
        """
id: metrics.paired
from:
  align: [metrics.humidity, metrics.adjusted]
combine:
  entrypoint: select
  args:
    fields:
      location: metrics.humidity.location
      raw: metrics.humidity.value
      adj: metrics.adjusted.value
    derive:
      - { to: value, left: adj, operator: sub, right_field: raw }
""",
    )
    _write(
        root / "dataset.yaml",
        """
sample:
  cadence: 1h
  keys: [location]
features:
  - id: humidity
    stream: metrics.humidity
    field: value
    scale: true
  - id: slope
    stream: metrics.adjusted
    field: slope
targets:
  - id: uplift
    stream: metrics.paired
    field: value
split:
  mode: time
  intervals:
    - { id: train_0, until: "2024-03-01T02:00:00Z" }
    - { id: val_0, until: "2024-03-01T03:00:00Z" }
    - { id: test_0 }
  folds:
    - { id: fold_0, train: [train_0], validation: [val_0], test: [test_0] }
""",
    )
    return root


def test_broadcast_and_align_streams(spark, fusion_project):
    from datapipeline_spark.plans import compile_project, load_project

    compiled = compile_project(spark, load_project(fusion_project))
    adj = rows(
        compiled.stream("metrics.adjusted").select("location", "time", "value", "slope"),
        "location",
        "time",
    )
    # value = humidity + baseline
    assert adj[0][2] == 40.0 and adj[1][2] == 43.0
    # slope of humidity on baseline over 2 rows = (42-40)/(1-0) = 2.0
    assert adj[0][3] is None and adj[1][3] == pytest.approx(2.0)
    paired = rows(
        compiled.stream("metrics.paired").select("location", "time", "value"),
        "location",
        "time",
    )
    # uplift = (humidity+baseline) - humidity = baseline = hour index
    assert [v for _, t, v in paired if t.hour == 2] == [2.0, 2.0]
    assert len(paired) == 8


def test_fusion_dataset_folds_and_leakage_free_scaler(spark, fusion_project):
    from datapipeline_spark.plans import compile_project, load_project
    from datapipeline_spark.plans.dataset_build import build_dataset

    build = build_dataset(compile_project(spark, load_project(fusion_project)))
    outs = build.outputs()
    assert set(outs) == {
        ("fold_0", "train"),
        ("fold_0", "validation"),
        ("fold_0", "test"),
    }
    train = rows(
        outs[("fold_0", "train")].select("time", "location", "humidity", "uplift"),
        "time",
        "location",
    )
    # train = hours 0,1 over both locations
    assert len(train) == 4
    # scaler fit ONLY on train-label rows: humidity train values {40,42,50,52}
    vals = [40.0, 42.0, 50.0, 52.0]
    mean = sum(vals) / 4
    std = math.sqrt(sum((v - mean) ** 2 for v in vals) / 4)
    assert train[0][2] == pytest.approx((40.0 - mean) / std)
    val = rows(
        outs[("fold_0", "validation")].select("time", "location", "humidity"),
        "time",
        "location",
    )
    assert len(val) == 2 and val[0][0].hour == 2
    # validation rows scaled with the SAME train stats (no leakage)
    assert val[0][2] == pytest.approx((44.0 - mean) / std)


def test_unknown_stream_reference_fails(tmp_path):
    from datapipeline_spark.plans import load_project

    root = tmp_path / "bad"
    _write(root / "project.yaml", "schema_version: 3\nname: bad\n")
    _write(
        root / "streams" / "s.yaml",
        "id: a.b\nfrom: { source: missing.src }\n",
    )
    with pytest.raises(ValueError, match="unknown source"):
        load_project(root)


def test_source_parse_rejects_infinity_passes_nan(spark, tmp_path):
    """±Inf raises at the parse boundary, naming the source and column,
    for a JSONL `Infinity` constant and a CSV `inf` cell alike; NaN passes
    through as a double (the operators treat it as missing)."""
    from datapipeline_spark.plans import load_project
    from datapipeline_spark.plans.compiler import load_source

    root = tmp_path / "inf"
    _write(root / "project.yaml", "schema_version: 3\nname: inf\n")
    t0, t1 = "2024-01-01T00:00:00Z", "2024-01-01T01:00:00Z"
    for sid, value in (("j.inf", "Infinity"), ("j.nan", "NaN")):
        _write(
            root / "data" / f"{sid}.jsonl",
            f'{{"time": "{t0}", "value": 1.5}}\n{{"time": "{t1}", "value": {value}}}\n',
        )
        _write(
            root / "sources" / f"{sid}.yaml",
            f"id: {sid}\nparser: {{ entrypoint: core.temporal_record }}\n"
            f"loader: {{ path: data/{sid}.jsonl, reader: {{ format: jsonl }} }}\n",
        )
    for sid, value in (("c.inf", "inf"), ("c.nan", "NaN")):
        _write(root / "data" / f"{sid}.csv", f"time;value\n{t0};1.5\n{t1};{value}\n")
        _write(
            root / "sources" / f"{sid}.yaml",
            f"id: {sid}\nparser: {{ entrypoint: core.temporal.csv }}\n"
            f"loader: {{ path: data/{sid}.csv, reader: {{ format: csv }} }}\n",
        )
    defn = load_project(root)

    def values(sid):
        df = load_source(spark, defn.sources[sid], defn)
        return [r.value for r in df.orderBy("time").collect()]

    for sid in ("j.inf", "c.inf"):
        msg = f"Infinite values are not allowed in source '{sid}' column 'value'"
        with pytest.raises(Exception, match=msg):
            values(sid)
    for sid in ("j.nan", "c.nan"):
        got = values(sid)
        assert got[0] == 1.5 and math.isnan(got[1])


def test_source_parse_rejects_nested_infinity(spark, tmp_path):
    """±Inf inside an array<double> element or a struct field raises,
    naming the source and the column path; nested NaN and NULL arrays or
    structs pass."""
    from datapipeline_spark.plans import load_project
    from datapipeline_spark.plans.compiler import load_source

    root = tmp_path / "nested_inf"
    _write(root / "project.yaml", "schema_version: 3\nname: nested_inf\n")
    rows_of = {
        "vec.inf": '{"vec": [1.0, Infinity], "s": {"x": 1.0}}',
        "s.inf": '{"vec": [1.0], "s": {"x": -Infinity}}',
        "ok": '{"vec": [NaN, 2.0], "s": {"x": NaN}}\n{"vec": null, "s": null}',
    }
    for sid, text in rows_of.items():
        _write(root / "data" / f"{sid}.jsonl", text + "\n")
        _write(
            root / "sources" / f"{sid}.yaml",
            f"id: {sid}\nloader: {{ path: data/{sid}.jsonl, reader: {{ format: jsonl }} }}\n",
        )
    defn = load_project(root)

    def collect(sid):
        return load_source(spark, defn.sources[sid], defn).collect()

    for sid, path in (("vec.inf", "'vec' element"), ("s.inf", "'s' field 'x'")):
        msg = f"Infinite values are not allowed in source '{sid}' column {path}"
        with pytest.raises(Exception, match=msg):
            collect(sid)
    got = sorted(collect("ok"), key=lambda r: r.vec is None)
    assert math.isnan(got[0].vec[0]) and got[0].vec[1] == 2.0
    assert math.isnan(got[0].s.x)
    assert got[1].vec is None and got[1].s is None


def test_beyond_reference_transforms_in_yaml_grammar(spark):
    """ewma / rolling_corr are reachable from the declarative plan layer with
    the same per-stream transform shape as the reference grammar."""
    from datetime import datetime, timedelta

    from datapipeline_spark.plans.compiler import apply_transform
    from datapipeline_spark.plans.config import TransformSpec

    t0 = datetime(2024, 1, 1)
    rows = [("A", t0 + timedelta(hours=i), float(i), float(i) * 2) for i in range(6)]
    df = spark.createDataFrame(rows, "part string, time timestamp, value double, v2 double")

    out = apply_transform(
        df,
        TransformSpec(operation="ewma", field="value", window=4, decay=0.5, to="e"),
        ["part"],
    )
    got = [r.e for r in out.orderBy("time").collect()]
    assert got[0] == 0.0 and abs(got[1] - (0.5 * 0 + 1.0) / 1.5) < 1e-12

    out = apply_transform(
        df,
        TransformSpec(operation="rolling_corr", x="value", y="v2", window=3, to="c"),
        ["part"],
    )
    got = [r.c for r in out.orderBy("time").collect()]
    # y = 2x exactly: correlation 1.0 once the window is full
    assert got[:2] == [None, None] and all(abs(c - 1.0) < 1e-9 for c in got[2:])


def test_transform_spec_validates_ewma_and_rolling_corr():
    import pytest

    from datapipeline_spark.plans.config import TransformSpec

    with pytest.raises(ValueError, match="ewma requires"):
        TransformSpec(operation="ewma", to="e")  # no field/window
    with pytest.raises(ValueError, match="decay"):
        TransformSpec(operation="ewma", field="v", window=4, decay=1.5, to="e")
    with pytest.raises(ValueError, match="rolling_corr requires"):
        TransformSpec(operation="rolling_corr", x="a", window=3, to="c")  # no y
    with pytest.raises(ValueError, match="window must be >= 2"):
        TransformSpec(operation="rolling_corr", x="a", y="b", window=1, to="c")


def test_cusum_via_yaml_grammar(spark):
    """cusum is reachable from the declarative transform grammar and the
    compiled result equals the operator call."""
    from datapipeline_spark import operators as ops
    from datapipeline_spark.plans.compiler import apply_transform
    from datapipeline_spark.plans.config import TransformSpec
    import pytest

    df = spark.createDataFrame(
        [(1, i, float(v)) for i, v in enumerate([10, 30, 25, 40])],
        "user_id long, time long, value double",
    )
    spec = TransformSpec(operation="cusum", field="value", target=20, slack=2, to="c")
    got = {
        r.time: r.c
        for r in apply_transform(df, spec, ["user_id"]).collect()
    }
    want = {
        r.time: r.c
        for r in ops.cusum(
            df, "value", target=20.0, slack=2.0, partition_by=["user_id"], out="c"
        ).collect()
    }
    assert got == want and got[3] > 0

    with pytest.raises(ValueError, match="cusum requires"):
        TransformSpec(operation="cusum", field="value", to="c")  # no target


def test_impute_mode_via_yaml_grammar(spark):
    """impute_mode is reachable from the declarative grammar: nulls fill
    from the stream-partition group's modal value."""
    import pytest

    from datapipeline_spark.plans.compiler import apply_transform
    from datapipeline_spark.plans.config import TransformSpec

    df = spark.createDataFrame(
        [(1, 0, "a"), (1, 1, "a"), (1, 2, None), (2, 0, None)],
        "user_id long, time long, seg string",
    )
    spec = TransformSpec(operation="impute_mode", field="seg")
    got = {(r.user_id, r.time): r.seg
           for r in apply_transform(df, spec, ["user_id"]).collect()}
    assert got[(1, 2)] == "a"       # filled from user 1's mode
    assert got[(2, 0)] is None      # all-null group stays null

    with pytest.raises(ValueError, match="impute_mode requires"):
        TransformSpec(operation="impute_mode")


def test_holt_via_yaml_grammar(spark):
    """holt is reachable from the declarative grammar: per-stream-key
    running level/trend columns, bit-exact at the default smoothing 0.5."""
    import pytest

    from datapipeline_spark.plans.compiler import apply_transform
    from datapipeline_spark.plans.config import TransformSpec

    df = spark.createDataFrame(
        [(1, 0, 4.0), (1, 1, 8.0), (1, 2, 2.0)],
        "user_id long, time long, value double",
    )
    spec = TransformSpec(operation="holt", field="value")
    got = {r.time: (r.holt_level, r.holt_trend)
           for r in apply_transform(df, spec, ["user_id"]).collect()}
    assert got[0] == (4.0, 0.0)
    # l1 = .5*8 + .5*4 = 6 ; b1 = .5*(6-4) = 1
    assert got[1] == (6.0, 1.0)
    # l2 = .5*2 + .5*7 = 4.5 ; b2 = .5*(4.5-6) + .5*1 = -0.25
    assert got[2] == (4.5, -0.25)

    with pytest.raises(ValueError, match="holt requires"):
        TransformSpec(operation="holt")
    with pytest.raises(ValueError, match="holt decay"):
        TransformSpec(operation="holt", field="value", decay=1.5)


def test_hampel_via_yaml_grammar(spark):
    import pytest

    from datapipeline_spark.plans.compiler import apply_transform
    from datapipeline_spark.plans.config import TransformSpec

    df = spark.createDataFrame(
        [(1, t, 9000 if t == 4 else 100) for t in range(8)],
        "user_id long, time long, value long",
    )
    spec = TransformSpec(operation="hampel", field="value", window=5)
    got = {r.time: r.hampel
           for r in apply_transform(df, spec, ["user_id"]).collect()}
    assert got[4] == 100      # spike repaired
    assert got[6] == 100      # inlier untouched

    with pytest.raises(ValueError, match="hampel requires"):
        TransformSpec(operation="hampel", field="value", window=1)


def test_plugin_entrypoint_auto_discovery(spark, tmp_path, monkeypatch):
    """A pip-installed distribution's entry points resolve with NO
    register_* call (reference contract: pyproject.toml entry-points
    groups resolved at compile time). Simulated with a synthetic
    dist-info on sys.path declaring a mapper under the
    'datapipeline_spark.mappers' group."""
    import sys

    site = tmp_path / "site"
    site.mkdir()
    _write(
        site / "acme_plugin.py",
        """
from datapipeline_spark.plans.registry import MAPPERS

def double_linear(df, args):
    base = MAPPERS["encode_time"](df, {"mode": "linear"})
    return base.withColumn("value", base["value"] * 2)
""",
    )
    dist = site / "acme_plugin-1.0.dist-info"
    _write(dist / "METADATA", "Metadata-Version: 2.1\nName: acme-plugin\nVersion: 1.0\n")
    _write(
        dist / "entry_points.txt",
        "[datapipeline_spark.mappers]\nacme.double_linear = acme_plugin:double_linear\n",
    )
    _write(dist / "RECORD", "")
    monkeypatch.syspath_prepend(str(site))

    from datapipeline_spark.plans import compile_project, load_project
    from datapipeline_spark.plans.registry import MAPPERS

    assert "acme.double_linear" not in MAPPERS  # nothing registered it
    root = tmp_path / "proj"
    _write(
        root / "project.yaml",
        """
schema_version: 3
artifact_revision: 1
name: plugin_project
globals: {}
""",
    )
    _write(
        root / "sources" / "synthetic.ticks.yaml",
        """
id: synthetic.ticks
parser:
  entrypoint: core.synthetic.ticks
loader:
  entrypoint: core.synthetic.ticks
  args: { start: 2024-01-01T00:00:00Z, end: 2024-01-01T02:00:00Z, frequency: "1h" }
""",
    )
    _write(
        root / "streams" / "t.yaml",
        """
id: time.ticks.doubled
from:
  source: synthetic.ticks
map:
  entrypoint: acme.double_linear
""",
    )
    compiled = compile_project(spark, load_project(root))
    got = rows(compiled.stream("time.ticks.doubled"), "time")
    assert len(got) == 3
    assert got[0][1] == got[0][0].timestamp() * 2  # plugin transform applied
    try:
        assert "acme.double_linear" in MAPPERS  # memoized by discovery
    finally:
        MAPPERS.pop("acme.double_linear", None)  # keep registry clean


def test_project_log_raises_on_domain_violation(spark):
    """A project stream's log/log1p raises outside the domain, as the
    reference's logarithm transform does (Spark's F.log gives NULL there);
    NULL input still passes through."""
    from datetime import datetime

    from datapipeline_spark.plans.compiler import apply_transform
    from datapipeline_spark.plans.config import TransformSpec

    def run(op, values):
        df = spark.createDataFrame(
            [("A", datetime(2024, 1, 1, h), v) for h, v in enumerate(values)],
            "part string, time timestamp, value double",
        )
        spec = TransformSpec(operation=op, field="value", to="out")
        return [r.out for r in apply_transform(df, spec, ["part"]).orderBy("time").collect()]

    assert run("log", [math.e, None]) == [pytest.approx(1.0), None]
    assert run("log1p", [0.0, None]) == [0.0, None]
    for op, bad in (("log", 0.0), ("log", -1.0), ("log1p", -1.0), ("log1p", -2.0)):
        with pytest.raises(Exception, match="domain violation"):
            run(op, [1.0, bad])


def test_project_derive_div_by_zero_raises(spark):
    """derive's division raises on a zero divisor: the session runs in ANSI
    mode, where `/` fails with DIVIDE_BY_ZERO (the reference raises too)."""
    from datetime import datetime

    from datapipeline_spark.plans.compiler import apply_transform
    from datapipeline_spark.plans.config import TransformSpec

    def frame(b):
        return spark.createDataFrame(
            [("A", datetime(2024, 1, 1), 6.0, b)], "part string, time timestamp, a double, b double"
        )

    by_field = TransformSpec(operation="derive", left="a", operator="div", right_field="b", to="q")
    by_value = TransformSpec(operation="derive", left="a", operator="div", right_value=0.0, to="q")
    assert apply_transform(frame(2.0), by_field, ["part"]).collect()[0].q == 3.0
    for spec in (by_field, by_value):
        with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
            apply_transform(frame(0.0), spec, ["part"]).collect()
