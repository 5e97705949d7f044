"""Source connectors (SURVEY.md §2.1).

Strictness contracts from the reference, expressed Spark-side:
- CSV: header required, configurable single-char delimiter (default ';'),
  strict field count (FAILFAST), duplicate/empty header rejection
  (sources/decoders.py:80-130);
- JSON: whole-document with optional array-field unwrap; JSONL line mode
  (decoders.py:133-173). Spark's JSON parser accepts the NaN/Infinity
  constants by default; ±Inf is rejected after parsing, at the project
  parse boundary (plans/compiler.load_source), and NaN passes as missing;
- parquet: file or sorted glob, duplicate-column rejection
  (sources/parquet_loader.py:8-62);
- synthetic time ticks: bounded start..end at fixed frequency
  (sources/synthetic/time/loader.py:9-44) — generated distributed via
  sequence/explode, not on the driver;
- HTTP: driver-side streaming fetch to a staging file, then a normal
  distributed read (adapters/http.py:10-50 — Spark has no HTTP source; at
  scale this is a manifest-driven fetch fan-out instead).

gzip is transparent for text sources in Spark (fs.py:17-18 equivalent).
"""

from __future__ import annotations

import os
import tempfile
from datetime import datetime
from typing import Mapping, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datapipeline_spark.functions.time import parse_cadence_seconds


def _check_headers(df: DataFrame, context: str) -> DataFrame:
    cols = list(df.columns)
    if any(not c or c.strip() == "" or c.startswith("_c") for c in cols):
        empties = [c for c in cols if not c or c.strip() == "" or c.startswith("_c")]
        raise ValueError(f"{context}: empty/unnamed header fields {empties}")
    lowered = [c for c in cols]
    if len(set(lowered)) != len(lowered):
        dupes = sorted({c for c in lowered if lowered.count(c) > 1})
        raise ValueError(f"{context}: duplicate header fields {dupes}")
    return df


def _sniff_csv_header(spark: SparkSession, path, delimiter: str) -> None:
    """Reject duplicate/empty header fields from the raw first line —
    Spark silently renames duplicates (a → a0, a1), the reference errors
    (decoders.py:96-109)."""
    first = spark.read.text(list(path) if isinstance(path, (list, tuple)) else path).limit(1).collect()
    if not first:
        return
    fields = [f.strip().strip('"') for f in first[0][0].split(delimiter)]
    if any(not f for f in fields):
        raise ValueError(f"csv {path}: empty header field in {fields}")
    if len(set(fields)) != len(fields):
        dupes = sorted({f for f in fields if fields.count(f) > 1})
        raise ValueError(f"csv {path}: duplicate header fields {dupes}")


def read_csv(
    spark: SparkSession,
    path: str | Sequence[str],
    delimiter: str = ";",
    strict: bool = True,
    schema: str | None = None,
) -> DataFrame:
    """Header CSV with the reference's strict contract."""
    if isinstance(delimiter, str) and len(delimiter) != 1:
        raise ValueError(f"CSV delimiter must be a single character, got {delimiter!r}")
    if strict:
        _sniff_csv_header(spark, path, delimiter)
    reader = (
        spark.read.option("header", True)
        .option("sep", delimiter)
        .option("mode", "FAILFAST" if strict else "PERMISSIVE")
        .option("enforceSchema", False)
    )
    if schema:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", True)
    df = reader.csv(list(path) if isinstance(path, (list, tuple)) else path)
    return _check_headers(df, f"csv {path}")


def read_jsonl(spark: SparkSession, path: str | Sequence[str], schema: str | None = None) -> DataFrame:
    reader = spark.read
    if schema:
        reader = reader.schema(schema)
    return reader.json(list(path) if isinstance(path, (list, tuple)) else path)


def read_json(
    spark: SparkSession,
    path: str,
    array_field: str | None = None,
    schema: str | None = None,
) -> DataFrame:
    """Whole-document JSON; optional unwrap of a nested array field
    (decoders.py:133-160)."""
    reader = spark.read.option("multiLine", True)
    if schema:
        reader = reader.schema(schema)
    df = reader.json(path)
    if array_field:
        if array_field not in df.columns:
            raise ValueError(f"json {path}: array field {array_field!r} not present")
        df = df.select(F.explode(F.col(array_field)).alias("row")).select("row.*")
    return df


def read_parquet_glob(spark: SparkSession, path: str | Sequence[str]) -> DataFrame:
    df = spark.read.parquet(*(path if isinstance(path, (list, tuple)) else [path]))
    cols = [c.lower() for c in df.columns]
    if len(set(cols)) != len(cols):
        dupes = sorted({c for c in cols if cols.count(c) > 1})
        raise ValueError(f"parquet {path}: duplicate columns {dupes}")
    return df


def read_orc_glob(spark: SparkSession, path: str | Sequence[str]) -> DataFrame:
    """ORC source (beyond the reference loader set — the other columnar
    lake format). Same duplicate-column contract as the parquet loader."""
    df = spark.read.orc(*(path if isinstance(path, (list, tuple)) else [path]))
    cols = [c.lower() for c in df.columns]
    if len(set(cols)) != len(cols):
        dupes = sorted({c for c in cols if cols.count(c) > 1})
        raise ValueError(f"orc {path}: duplicate columns {dupes}")
    return df


def time_ticks(
    spark: SparkSession,
    start: str | datetime,
    end: str | datetime,
    frequency: str = "1h",
) -> DataFrame:
    """Bounded synthetic tick stream [start, end] inclusive at `frequency`.

    Distributed generation: one sequence() per coarse chunk, exploded on
    executors — no driver-side materialization, so a century of seconds is
    still fine.
    """
    from datapipeline_spark.operators.where import _parse_dt

    start_dt = _parse_dt(start) if isinstance(start, str) else start
    end_dt = _parse_dt(end) if isinstance(end, str) else end
    step = parse_cadence_seconds(frequency)
    s = int(start_dt.timestamp())
    e = int(end_dt.timestamp())
    if e < s:
        raise ValueError("time_ticks: end before start")
    # chunk into ~10k-tick spans so each executor row explodes boundedly
    chunk = step * 10_000
    chunks = spark.range(s, e + 1, chunk).select(
        F.col("id").alias("lo"), F.least(F.col("id") + chunk - 1, F.lit(e)).alias("hi")
    )
    return chunks.select(
        F.explode(
            F.sequence(
                F.col("lo"),
                F.col("hi"),
                F.lit(step),
            )
        ).alias("s")
    ).select(F.timestamp_seconds(F.col("s")).alias("time"))


def http_source(
    spark: SparkSession,
    url: str,
    format: str = "jsonl",
    headers: Mapping[str, str] | None = None,
    params: Mapping[str, str] | None = None,
    timeout: float = 30.0,
    **read_kwargs,
) -> DataFrame:
    """Driver-side HTTP GET → staging file → distributed read
    (reference adapters/http.py:10-50; Spark has no native HTTP source).
    """
    import urllib.parse
    import urllib.request

    if params:
        sep = "&" if "?" in url else "?"
        url = url + sep + urllib.parse.urlencode(params)
    req = urllib.request.Request(url, headers=dict(headers or {}))
    staging_dir = tempfile.mkdtemp(prefix="http_source_")
    suffix = {"jsonl": ".jsonl", "json": ".json", "csv": ".csv"}.get(format, ".dat")
    staged = os.path.join(staging_dir, "payload" + suffix)
    with urllib.request.urlopen(req, timeout=timeout) as resp, open(staged, "wb") as out:
        while True:
            chunk = resp.read(1 << 20)
            if not chunk:
                break
            out.write(chunk)
    if format == "jsonl":
        return read_jsonl(spark, staged, **read_kwargs)
    if format == "json":
        return read_json(spark, staged, **read_kwargs)
    if format == "csv":
        return read_csv(spark, staged, **read_kwargs)
    raise ValueError(f"http_source: unsupported format {format!r}")
