"""Seeded input generators for the benchmark.

Everything the engine reads in a benchmark run is written here, inside the
benchmark's work directory, from a seed:

- ``make_tables(dir, seed)``: the ten registry tables (region, nation,
  customer, supplier, part, orders, lineitem, events, documents, embeddings)
  at the shape and value ranges of the sf0.1 test tables: same schemas,
  key ranges, categorical domains, 2-decimal money, timestamp[us] columns,
  one row group per file. The registry queries and their DuckDB oracles
  read these files only.
- ``make_sensor_project(dir, seed, sites, days)``: a sensor project in the
  engine's YAML layout. Parquet readings from ``sites`` sites over ``days``
  days with in-hour jitter, ~20% duplicate readings, ~8% missing hours and
  ~5% NaN values, plus one global hourly weather stream. The streams run
  the paper's stages (floor_time, collapse, ensure_cadence, fill, rolling,
  lag, forward_fill, forward_sum), a broadcast combine with a derive, sample
  keys ``[site]``, a train/validation/test time split, scaling and
  postprocess thresholds of 1.0.

The same seed gives byte-identical files (pyarrow writes no timestamps into
parquet footers).
"""

from __future__ import annotations

import datetime as dt
import os
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Row counts of the sf0.1 test tables.
SF01_ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}

#: The registry tables, in the order ``make_tables`` writes them.
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "red", "hot", "new", "large", "small", "old", "cold"]
PART_NOUN = ["anvil", "bolt", "ring", "rod", "plate", "widget", "gear", "spring"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.145, 0.15, 0.145, 0.15]
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()


def _write(table: pa.Table, path: Path) -> None:
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 22)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Uniform 2-decimal amounts in [lo, hi], exact to the cent."""
    cents = rng.integers(round(lo * 100), round(hi * 100) + 1, n)
    return np.round(cents / 100.0, 2)


def _days(rng: np.random.Generator, start: str, end: str, n: int) -> np.ndarray:
    lo = np.datetime64(start, "D")
    span = int((np.datetime64(end, "D") - lo).astype(int))
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _names(prefix: str, keys: np.ndarray) -> pa.Array:
    return pa.array([f"{prefix}#{k:09d}" for k in keys.tolist()])


def make_tables(out_dir: str | os.PathLike, seed: int, scale: float = 1.0) -> None:
    """Write the ten registry tables under ``out_dir`` (sf0.1 at scale 1)."""
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = {t: max(1, int(r * scale)) for t, r in SF01_ROWS.items()}
    i32, i64, f64, ts = pa.int32(), pa.int64(), pa.float64(), pa.timestamp("us")

    _write(
        pa.table({"r_regionkey": pa.array(range(5), i32), "r_name": REGIONS}),
        out / "region.parquet",
    )
    _write(
        pa.table(
            {
                "n_nationkey": pa.array(range(25), i32),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
            }
        ),
        out / "nation.parquet",
    )

    keys = np.arange(n["customer"])
    _write(
        pa.table(
            {
                "c_custkey": pa.array(keys, i64),
                "c_name": _names("Customer", keys),
                "c_nationkey": pa.array(rng.integers(0, 25, len(keys)), i32),
                "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, len(keys)), f64),
                "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, len(keys))]),
            }
        ),
        out / "customer.parquet",
    )

    keys = np.arange(n["supplier"])
    _write(
        pa.table(
            {
                "s_suppkey": pa.array(keys, i64),
                "s_name": _names("Supplier", keys),
                "s_nationkey": pa.array(rng.integers(0, 25, len(keys)), i32),
                "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, len(keys)), f64),
            }
        ),
        out / "supplier.parquet",
    )

    keys = np.arange(n["part"])
    adj = np.array(PART_ADJ)[rng.integers(0, len(PART_ADJ), len(keys))]
    noun = np.array(PART_NOUN)[rng.integers(0, len(PART_NOUN), len(keys))]
    _write(
        pa.table(
            {
                "p_partkey": pa.array(keys, i64),
                "p_name": pa.array(np.char.add(np.char.add(adj, " "), noun)),
                "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, len(keys)).tolist()]),
                "p_type": pa.array(np.array(PART_TYPES)[rng.integers(0, 6, len(keys))]),
                "p_size": pa.array(rng.integers(1, 51, len(keys)), i32),
                "p_retailprice": pa.array(np.round(900.0 + (keys % 1000) / 10.0, 1), f64),
            }
        ),
        out / "part.parquet",
    )

    n_orders = n["orders"]
    _write(
        pa.table(
            {
                "o_orderkey": pa.array(np.arange(n_orders), i64),
                "o_custkey": pa.array(rng.integers(0, n["customer"], n_orders), i64),
                "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)]),
                "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_orders), f64),
                "o_orderdate": pa.array(_days(rng, "1995-01-01", "2001-08-01", n_orders), ts),
                "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n_orders)]),
            }
        ),
        out / "orders.parquet",
    )

    m = n["lineitem"]
    _write(
        pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, n_orders, m), i64),
                "l_partkey": pa.array(rng.integers(0, n["part"], m), i64),
                "l_suppkey": pa.array(rng.integers(0, n["supplier"], m), i64),
                "l_linenumber": pa.array(rng.integers(1, 8, m), i32),
                "l_quantity": pa.array(rng.integers(1, 51, m).astype(np.float64), f64),
                "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, m), f64),
                "l_discount": pa.array(np.round(rng.integers(0, 11, m) / 100.0, 2), f64),
                "l_tax": pa.array(np.round(rng.integers(0, 9, m) / 100.0, 2), f64),
                "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, m)]),
                "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, m)]),
                "l_shipdate": pa.array(_days(rng, "1995-01-02", "2001-11-04", m), ts),
            }
        ),
        out / "lineitem.parquet",
    )

    e = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offsets = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, e))
    _write(
        pa.table(
            {
                "event_id": pa.array(np.arange(e), i64),
                "ts": pa.array(start + offsets.astype("timedelta64[us]"), ts),
                "user_id": pa.array(rng.integers(0, max(1, e * 15 // 1000), e), i64),
                "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, e)]),
                "value": pa.array(np.round(rng.exponential(50.0, e), 2), f64),
                "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, e).tolist()]),
            }
        ),
        out / "events.parquet",
    )

    d = n["documents"]
    vocab = np.array(VOCAB)
    texts: list[str] = []
    for i in range(d):
        if i > 20 and rng.random() < 0.05:
            # near duplicate of an earlier document: what the dedup,
            # near-dup and similarity-join operators exist to find
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(10, 101)))]))
    _write(
        pa.table(
            {
                "doc_id": pa.array(np.arange(d), i64),
                "text": pa.array(texts),
                "lang": pa.array(np.array(LANGS)[rng.choice(len(LANGS), d, p=LANG_P)]),
                "source": pa.array([f"src{i % 20}" for i in range(d)]),
                "n_chars": pa.array([len(t) for t in texts], i64),
            }
        ),
        out / "documents.parquet",
    )

    v = n["embeddings"]
    vecs = rng.standard_normal((v, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(
        pa.table(
            {
                "vec_id": pa.array(np.arange(v), i64),
                "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
                "label": pa.array(rng.integers(0, 10, v), i32),
            }
        ),
        out / "embeddings.parquet",
    )


# --------------------------------------------------------------------------- #
# sensor project
# --------------------------------------------------------------------------- #

#: Project start; days count from here. Split boundaries are whole days.
T0 = dt.datetime(2024, 3, 1, tzinfo=dt.timezone.utc)


def _iso(t: dt.datetime) -> str:
    return t.strftime("%Y-%m-%dT%H:%M:%SZ")


def split_bounds(days: int) -> tuple[dt.datetime, dt.datetime]:
    """(validation start, test start): 70% / 15% / 15% of the days."""
    train = max(1, round(days * 0.7))
    val = max(1, round(days * 0.15))
    return T0 + dt.timedelta(days=train), T0 + dt.timedelta(days=train + val)


def _readings(rng: np.random.Generator, sites: int, days: int) -> pa.Table:
    hours = days * 24
    site = np.repeat(np.arange(sites), hours)
    hour = np.tile(np.arange(hours), sites)
    keep = rng.random(len(site)) >= 0.08  # 8% missing hours
    site, hour = site[keep], hour[keep]
    dup = rng.random(len(site)) < 0.20  # 20% duplicate readings in the hour
    site = np.concatenate([site, site[dup]])
    hour = np.concatenate([hour, hour[dup]])
    jitter = rng.integers(0, 3600, len(site))  # seconds into the hour
    phase = site % 24
    temp = 15 + 8 * np.sin((hour + phase) * 2 * np.pi / 24) + rng.normal(0, 1.5, len(site))
    load = 50 + 20 * np.cos(hour * 2 * np.pi / 24) + rng.normal(0, 5, len(site)) + site % 7
    temp[rng.random(len(site)) < 0.05] = np.nan
    load[rng.random(len(site)) < 0.05] = np.nan
    order = rng.permutation(len(site))  # raw files arrive unordered
    t = np.datetime64(T0.replace(tzinfo=None), "s") + (hour * 3600 + jitter).astype("timedelta64[s]")
    return pa.table(
        {
            "time": pa.array(t[order].astype("datetime64[us]"), pa.timestamp("us", tz="UTC")),
            "site": pa.array([f"s{s:04d}" for s in site[order].tolist()]),
            "temp": pa.array(np.round(temp[order], 3)),
            "load": pa.array(np.round(load[order], 3)),
        }
    )


def _weather(rng: np.random.Generator, days: int) -> pa.Table:
    hours = np.arange(days * 24)
    t = np.datetime64(T0.replace(tzinfo=None), "s") + (hours * 3600).astype("timedelta64[s]")
    value = 10 + 5 * np.sin(hours * 2 * np.pi / 24) + rng.normal(0, 1.0, len(hours))
    return pa.table(
        {
            "time": pa.array(t.astype("datetime64[us]"), pa.timestamp("us", tz="UTC")),
            "value": pa.array(np.round(value, 3)),
        }
    )


def _source_yaml(source_id: str, path: str) -> str:
    return (
        f"id: {source_id}\n"
        "parser: { entrypoint: core.temporal_record }\n"
        f"loader: {{ transport: fs, path: {path}, reader: {{ format: parquet }} }}\n"
    )


def _sensor_stream(stream_id: str, field: str) -> str:
    return f"""id: {stream_id}
from: {{ source: bench.readings }}
partition_by: [site]
transforms:
  - {{ operation: floor_time, cadence: 1h }}
  - {{ operation: collapse, keep: last }}
  - {{ operation: ensure_cadence, cadence: 1h }}
  - {{ operation: fill, field: {field}, statistic: mean, window: 6, min_samples: 1 }}
  - {{ operation: rolling, field: {field}, window: 6, statistic: mean, min_samples: 1, to: {field}_roll6 }}
  - {{ operation: lag, field: {field}, periods: 1, to: {field}_lag1 }}
  - {{ operation: forward_fill, field: {field}_lag1 }}
  - {{ operation: forward_sum, field: {field}, window: 3, to: {field}_next3 }}
"""


def make_sensor_project(
    out_dir: str | os.PathLike, seed: int, sites: int, days: int
) -> Path:
    """Write a sensor project under ``out_dir`` and return its root."""
    root = Path(out_dir)
    for sub in ("data", "sources", "streams", "profiles"):
        (root / sub).mkdir(parents=True, exist_ok=True)
    rng = np.random.default_rng(seed)
    _write(_readings(rng, sites, days), root / "data" / "readings.parquet")
    _write(_weather(rng, days), root / "data" / "weather.parquet")
    val_start, test_start = split_bounds(days)
    files = {
        "project.yaml": "schema_version: 3\nname: sensor_bench\n",
        "sources/readings.yaml": _source_yaml("bench.readings", "data/readings.parquet"),
        "sources/weather.yaml": _source_yaml("bench.weather", "data/weather.parquet"),
        "streams/temp.yaml": _sensor_stream("sensor.temp", "temp"),
        "streams/load.yaml": _sensor_stream("sensor.load", "load"),
        "streams/weather.yaml": """id: weather.hourly
from: { source: bench.weather }
transforms:
  - { operation: ensure_cadence, cadence: 1h }
  - { operation: fill, field: value, statistic: mean, window: 3, min_samples: 1 }
""",
        "streams/temp_adjusted.yaml": """id: sensor.temp.adjusted
from:
  stream: sensor.temp
  broadcast: weather.hourly
combine:
  entrypoint: select
  args:
    fields:
      site: sensor.temp.site
      temp: sensor.temp.temp
      outside: weather.hourly.value
    derive:
      - { to: value, left: temp, operator: sub, right_field: outside }
""",
        "dataset.yaml": f"""sample:
  cadence: 1h
  keys: [site]
features:
  - {{ id: temp, stream: sensor.temp, field: temp, scale: true }}
  - {{ id: temp_roll6, stream: sensor.temp, field: temp_roll6, scale: true }}
  - {{ id: temp_lag1, stream: sensor.temp, field: temp_lag1, scale: true }}
  - {{ id: load, stream: sensor.load, field: load, scale: true }}
  - {{ id: load_roll6, stream: sensor.load, field: load_roll6, scale: true }}
  - {{ id: temp_minus_outside, stream: sensor.temp.adjusted, field: value }}
targets:
  - {{ id: load_next3, stream: sensor.load, field: load_next3 }}
split:
  mode: time
  intervals:
    - {{ id: train, until: "{_iso(val_start)}" }}
    - {{ id: validation, until: "{_iso(test_start)}" }}
    - {{ id: test }}
  folds:
    - {{ id: main, train: [train], validation: [validation], test: [test] }}
postprocess:
  samples:
    features:
      threshold: 1.0
    targets:
      threshold: 1.0
""",
        "profiles/serve.dataset.yaml": "operation: dataset\n",
        "profiles/serve.defaults.yaml": (
            "output: { transport: fs, format: parquet, directory: output }\n"
        ),
    }
    for rel, text in files.items():
        (root / rel).write_text(text, encoding="utf-8")
    return root


def make_tiny_project(out_dir: str | os.PathLike, seed: int) -> Path:
    """The session warm-up project: one sensor stream with the same
    transforms over 2 sites x 2 days, two features, no split, one parquet
    output. Small in jobs as well as rows, so a restart's warm-up stays
    cheap."""
    root = Path(out_dir)
    for sub in ("data", "sources", "streams", "profiles"):
        (root / sub).mkdir(parents=True, exist_ok=True)
    _write(_readings(np.random.default_rng(seed), 2, 2), root / "data" / "readings.parquet")
    files = {
        "project.yaml": "schema_version: 3\nname: sensor_warmup\n",
        "sources/readings.yaml": _source_yaml("bench.readings", "data/readings.parquet"),
        "streams/temp.yaml": _sensor_stream("sensor.temp", "temp"),
        "dataset.yaml": """sample:
  cadence: 1h
  keys: [site]
features:
  - { id: temp, stream: sensor.temp, field: temp, scale: true }
  - { id: temp_roll6, stream: sensor.temp, field: temp_roll6 }
""",
        "profiles/serve.dataset.yaml": "operation: dataset\n",
        "profiles/serve.defaults.yaml": (
            "output: { transport: fs, format: parquet, directory: output }\n"
        ),
    }
    for rel, text in files.items():
        (root / rel).write_text(text, encoding="utf-8")
    return root
