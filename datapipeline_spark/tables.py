"""Loaders for the driver-generated test tables (TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one parquet each under /root/testdata/sf{X}/.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLE_NAMES = (
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

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: Analyzed-scan cache: (appId, sf_dir, table, file-stats) → DataFrame.
#: One bench/checker process touches the same table dozens of times; the
#: repeated spark.read.parquet costs driver-side footer reads + file listing
#: (~10-50 ms each) that dominate tiny-aggregate queries. The stat stamp in
#: the key invalidates automatically when the driver regenerates testdata.
_SCAN_CACHE: dict[tuple, DataFrame] = {}


def _nanos_timestamp_columns(path: str) -> list[str]:
    """Columns stored as parquet TIMESTAMP(NANOS), from the footer only."""
    import pyarrow.parquet as pq
    import pyarrow as pa

    try:
        schema = pq.read_schema(path)
    except Exception:
        return []
    return [
        f.name
        for f in schema
        if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
    ]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one test table.

    The driver's testdata has stored timestamps two ways across
    regenerations; both normalize to session-UTC TIMESTAMP (LTZ) here:
    - TIMESTAMP(NANOS): rejected by Spark's parquet reader unless
      `nanosAsLong` is on; arrives as epoch-nano longs, converted to micros
      (same truncation DuckDB applies casting nanos to its native micros).
    - timestamp[us] with isAdjustedToUTC=false: read as TIMESTAMP_NTZ, cast
      to TIMESTAMP (the session tz is UTC, so wall-clock values are
      preserved and match DuckDB's naive-timestamp comparisons). Streaming
      event time / watermarks require TIMESTAMP, not NTZ.
    """
    from datapipeline_spark.session import apply_runtime_conf
    from pyspark.sql import functions as F
    from pyspark.sql.types import TimestampNTZType, TimestampType

    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        st = os.stat(path)
        stamp = (st.st_size, st.st_mtime_ns)
    except OSError:
        stamp = None
    key = (spark.sparkContext.applicationId, os.path.abspath(sf_dir), name, stamp)
    cached = _SCAN_CACHE.get(key)
    if cached is not None:
        return cached

    apply_runtime_conf(spark)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    for col in _nanos_timestamp_columns(path):
        # integer DIV — float division loses precision on epoch-nano magnitudes
        df = df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` DIV 1000")))
    ntz = [f.name for f in df.schema.fields if isinstance(f.dataType, TimestampNTZType)]
    for col in ntz:
        df = df.withColumn(col, F.col(col).cast(TimestampType()))
    _SCAN_CACHE[key] = df
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}


def spread(df: DataFrame) -> DataFrame:
    """Round-robin rebalance into `defaultParallelism` partitions before a
    compute-heavy map stage.

    Scan parallelism is bounded by file splits, and a parquet file is not
    splittable below the row group — the single-row-group test tables
    (and any skewed/coarse file layout in production) therefore serialize
    explode/shingle/vector-fold projections into one task no matter how
    many cores are free. One explicit exchange of the narrow input buys
    full-width compute downstream. The count must be EXPLICIT: a bare
    repartition() is AQE-coalescible by post-shuffle byte size, which says
    nothing about the compute fan-out behind each row (that silently
    serialized the fuzzy-match levenshtein stage until round 3).

    Apply only where the downstream op is compute-bound and
    partition-invariant (every oracle-checked query here is); pure
    column-pruned scans or cheap maps should NOT pay the exchange — and
    neither should pipelines whose first shuffle is an aggregation keyed by
    a HIGH-CARDINALITY key (terms, shingles): a single scan task combines
    partial aggregates perfectly, while an N-way spread multiplies the
    shuffled partial rows by up to N (measured: tfidf 0.52 s → 0.90 s,
    unigram LM 0.33 s → 0.62 s when spread). The winners are agg-light,
    compute-heavy stages: vector folds, levenshtein residuals, per-doc-keyed
    signatures.
    """
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)
