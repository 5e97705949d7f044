"""Dataset-layer queries with DuckDB oracles: series projection/ids,
metadata, coverage select, row drops, folded scaler, sequence windows,
tick-grid reindex, window bounds."""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datapipeline_spark import operators as ops
from datapipeline_spark.dataset import (
    collect_series_metadata,
    fit_scaler,
    project_series,
    time_split_label,
)
from datapipeline_spark.dataset.postprocess import row_coverage_expr
from datapipeline_spark.operators.ticks import ensure_ticks, tick_grid
from datapipeline_spark.queries_core import (
    EVENTS_BASE,
    HOURLY_BASE,
    ORDER,
    W,
    events_stream,
    hourly_stream,
    query,
)
from datapipeline_spark.tables import load_table


@query(
    "series_project",
    """
WITH {base}
SELECT 'value__@user_id:!i:' || user_id::VARCHAR AS series_id, time, value
FROM base
""".format(base=EVENTS_BASE),
)
def series_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long-format projection with reference series-id grammar
    (domain/series_id.py:36-59): leftover partition field → @field:!i:n."""
    s = events_stream(spark, sf_dir)
    return project_series(s, "value", partition_by=["user_id"], entity_keys=[])


@query(
    "metadata_collect",
    """
WITH {base},
long AS (
  SELECT 'value__@user_id:!i:' || user_id::VARCHAR AS series_id, time, value_n AS value
  FROM base
)
SELECT series_id, count(*) AS n_rows, count(value) AS n_present,
       count(*) - count(value) AS n_null,
       min(time) AS first_time, max(time) AS last_time
FROM long GROUP BY series_id
""".format(base=EVENTS_BASE),
)
def metadata_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = events_stream(spark, sf_dir).withColumn("value", F.col("value_n"))
    long = project_series(s, "value", partition_by=["user_id"], entity_keys=[])
    return collect_series_metadata(long)


@query(
    "window_bounds",
    """
WITH {base},
long AS (SELECT user_id AS series_id, min(time) AS first_time, max(time) AS last_time
         FROM base GROUP BY 1)
SELECT min(first_time) AS union_start, max(last_time) AS union_end,
       max(first_time) AS inter_start, min(last_time) AS inter_end
FROM long
""".format(base=EVENTS_BASE),
)
def window_bounds_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union/intersection corpus window (operations/artifacts/metadata.py:93-109)."""
    s = events_stream(spark, sf_dir)
    per = s.groupBy("user_id").agg(
        F.min("time").alias("first_time"), F.max("time").alias("last_time")
    )
    return per.agg(
        F.min("first_time").alias("union_start"),
        F.max("last_time").alias("union_end"),
        F.max("first_time").alias("inter_start"),
        F.min("last_time").alias("inter_end"),
    )


@query(
    "coverage_select",
    """
WITH {base},
wide AS (
  SELECT user_id, date_trunc('day', time) AS day,
         avg(CASE WHEN event_type = 'click'    THEN value END) AS ev_click,
         avg(CASE WHEN event_type = 'error'    THEN value END) AS ev_error,
         avg(CASE WHEN event_type = 'purchase' THEN value END) AS ev_purchase,
         avg(CASE WHEN event_type = 'signup'   THEN value END) AS ev_signup,
         avg(CASE WHEN event_type = 'view'     THEN value END) AS ev_view
  FROM base GROUP BY 1, 2
),
cov AS (
  SELECT 'ev_click' AS column, count(ev_click) * 1.0 / count(*) AS coverage FROM wide
  UNION ALL SELECT 'ev_error', count(ev_error) * 1.0 / count(*) FROM wide
  UNION ALL SELECT 'ev_purchase', count(ev_purchase) * 1.0 / count(*) FROM wide
  UNION ALL SELECT 'ev_signup', count(ev_signup) * 1.0 / count(*) FROM wide
  UNION ALL SELECT 'ev_view', count(ev_view) * 1.0 / count(*) FROM wide
)
SELECT "column", round(coverage, 6) AS coverage, coverage >= 0.4 AS selected FROM cov
""".format(base=EVENTS_BASE),
)
def coverage_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plan-time column selection by corpus coverage
    (reference drop/vertical.py:101-173) — emitted long-form so the
    decision itself is oracle-checked."""
    s = events_stream(spark, sf_dir)
    from datapipeline_spark.functions.time import floor_time_expr

    wide = (
        s.groupBy("user_id", floor_time_expr("time", "1d").alias("day"))
        .pivot("event_type", ["click", "error", "purchase", "signup", "view"])
        .agg(F.avg("value"))
        .withColumnsRenamed({t: f"ev_{t}" for t in ["click", "error", "purchase", "signup", "view"]})
    )
    cols = [f"ev_{t}" for t in ["click", "error", "purchase", "signup", "view"]]
    from datapipeline_spark.dataset import column_coverage

    cov = column_coverage(wide, cols)
    rows = [(c, round(cov[c], 6), cov[c] >= 0.4) for c in cols]
    return spark.createDataFrame(rows, "column string, coverage double, selected boolean")


@query(
    "drop_rows_coverage",
    """
WITH {base},
wide AS (
  SELECT user_id, date_trunc('day', time) AS day,
         avg(CASE WHEN event_type = 'click'    THEN value END) AS ev_click,
         avg(CASE WHEN event_type = 'error'    THEN value END) AS ev_error,
         avg(CASE WHEN event_type = 'purchase' THEN value END) AS ev_purchase,
         avg(CASE WHEN event_type = 'signup'   THEN value END) AS ev_signup,
         avg(CASE WHEN event_type = 'view'     THEN value END) AS ev_view
  FROM base GROUP BY 1, 2
)
SELECT user_id, day
FROM wide
WHERE ((CASE WHEN ev_click IS NOT NULL THEN 1.0 ELSE 0.0 END)
     + (CASE WHEN ev_error IS NOT NULL THEN 1.0 ELSE 0.0 END)
     + (CASE WHEN ev_purchase IS NOT NULL THEN 1.0 ELSE 0.0 END)
     + (CASE WHEN ev_signup IS NOT NULL THEN 1.0 ELSE 0.0 END)
     + (CASE WHEN ev_view IS NOT NULL THEN 1.0 ELSE 0.0 END)) / 5.0 >= 0.6
""".format(base=EVENTS_BASE),
)
def drop_rows_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level coverage filter (reference drop/horizontal.py:17-62)."""
    from datapipeline_spark.functions.time import floor_time_expr

    s = events_stream(spark, sf_dir)
    types = ["click", "error", "purchase", "signup", "view"]
    wide = (
        s.groupBy("user_id", floor_time_expr("time", "1d").alias("day"))
        .pivot("event_type", types)
        .agg(F.avg("value"))
        .withColumnsRenamed({t: f"ev_{t}" for t in types})
    )
    cols = [f"ev_{t}" for t in types]
    return wide.filter(row_coverage_expr(wide, cols) >= 0.6).select("user_id", "day")


@query(
    "fold_scaler",
    """
WITH {base},
labeled AS (
  SELECT *, CASE WHEN time < TIMESTAMP '2024-01-15 00:00:00' THEN 'train'
                 WHEN time < TIMESTAMP '2024-01-23 00:00:00' THEN 'validation'
                 ELSE 'test' END AS label,
         CASE WHEN time < TIMESTAMP '2024-01-15 00:00:00' THEN 'f0' ELSE 'f1' END AS fold
  FROM base
)
SELECT fold, event_type,
       round(avg(value), 6) AS mean,
       round(greatest(stddev_pop(value), 1e-12), 6) AS std,
       count(value) AS n_obs
FROM labeled WHERE label = 'train' OR (fold = 'f1' AND label = 'validation')
GROUP BY fold, event_type
""".format(base=EVENTS_BASE),
)
def fold_scaler(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-fold train-only scaler fit (leakage-proof —
    reference operations/artifacts/scaler.py:87-129)."""
    s = events_stream(spark, sf_dir)
    intervals = [("train", datetime(2024, 1, 15)), ("validation", datetime(2024, 1, 23)), ("test", None)]
    labeled = s.withColumn("label", time_split_label("time", intervals)).withColumn(
        "fold",
        F.when(F.col("time") < F.lit(datetime(2024, 1, 15)), "f0").otherwise("f1"),
    )
    train = (F.col("label") == "train") | ((F.col("fold") == "f1") & (F.col("label") == "validation"))
    stats = fit_scaler(
        labeled.withColumnRenamed("event_type", "series_id"),
        fold_col="fold",
        train_filter=train,
    )
    return stats.select(
        "fold",
        F.col("series_id").alias("event_type"),
        F.round("mean", 6).alias("mean"),
        F.round("std", 6).alias("std"),
        "n_obs",
    )


@query(
    "sequence_windows",
    """
WITH {hourly},
numbered AS (
  SELECT user_id, time, value,
         row_number() OVER (PARTITION BY user_id ORDER BY time) AS rn,
         lag(value, 2) OVER (PARTITION BY user_id ORDER BY time) AS v0,
         lag(value, 1) OVER (PARTITION BY user_id ORDER BY time) AS v1,
         value AS v2
  FROM hourly
),
full_windows AS (
  SELECT * FROM numbered WHERE rn >= 3 AND (rn - 3) % 2 = 0
)
SELECT user_id, time, g.i AS pos,
       CASE g.i WHEN 0 THEN v0 WHEN 1 THEN v1 ELSE v2 END AS value
FROM full_windows CROSS JOIN generate_series(0, 2) g(i)
""".format(hourly=HOURLY_BASE),
)
def sequence_windows_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding sequences size=3 stride=2 (reference series/stages.py:32-60),
    exploded to (key, time, pos, value) rows so the oracle compare is
    array-free."""
    h = hourly_stream(spark, sf_dir)
    seq = ops.sequence_windows(h, "value", size=3, stride=2, partition_by=["user_id"], out="seq", order_by=("time",))
    return seq.select(
        "user_id", "time", F.posexplode_outer("seq").alias("pos", "value")
    )


@query(
    "sample_multivalue",
    """
WITH {base},
ded AS (
  SELECT user_id, time, max_by(value, event_id) AS value
  FROM base WHERE event_type = 'click' GROUP BY 1, 2
),
cells AS (
  SELECT user_id, date_trunc('day', time) AS time,
         list(value ORDER BY time) AS vs
  FROM ded GROUP BY 1, 2
)
SELECT user_id, time, unnest(range(len(vs))) AS pos, unnest(vs) AS value
FROM cells
""".format(base=EVENTS_BASE),
)
def sample_multivalue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-value bucket assembly (reference operations/artifacts/series.py:
    336-367 _assemble_values: a cadence bucket holding >1 observation becomes
    a time-ordered list cell). Exact-time collisions are collapsed to the
    last arrival first so the in-bucket order is total; the list column is
    posexploded so the oracle compare is array-free."""
    s = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select("user_id", "time", "value", "event_id")
    )
    s = ops.collapse(s, ["user_id"], keep="last", arrival_col="event_id")
    long = s.withColumn("series_id", F.lit("clicks"))
    from datapipeline_spark.dataset.sample import assemble_samples

    wide = assemble_samples(
        long,
        cadence="1d",
        entity_keys=["user_id"],
        series_ids=[],
        list_ids=["clicks"],
    )
    return wide.select(
        "user_id", "time", F.posexplode_outer("clicks").alias("pos", "value")
    )


@query(
    "synthetic_ticks",
    """
SELECT unnest(generate_series(TIMESTAMP '2024-01-01 00:00:00',
                              TIMESTAMP '2024-03-01 00:00:00',
                              INTERVAL 10 MINUTE)) AS time
""",
)
def synthetic_ticks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded synthetic tick source (reference
    sources/synthetic/time/loader.py:9-44), generated distributed."""
    from datapipeline_spark.sources import time_ticks

    return time_ticks(spark, "2024-01-01T00:00:00Z", "2024-03-01T00:00:00Z", "10m")


@query(
    "ensure_ticks_grid",
    """
WITH {hourly},
bounds AS (
  SELECT user_id, min(time) AS lo, max(time) AS hi FROM hourly GROUP BY user_id
),
grid AS (
  SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS time FROM bounds
)
SELECT coalesce(g.user_id, h.user_id) AS user_id,
       coalesce(g.time, h.time) AS time,
       h.value
FROM grid g FULL OUTER JOIN hourly h ON g.user_id = h.user_id AND g.time = h.time
""".format(hourly=HOURLY_BASE),
)
def ensure_ticks_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reindex against a prebuilt tick-grid artifact
    (reference ensure_ticks.py:42-92 + artifacts/ticks.py:20-54)."""
    h = hourly_stream(spark, sf_dir)
    grid = tick_grid(h, "1h", ["user_id"])
    return ensure_ticks(h, grid, ["user_id"])


@query(
    "conform_columns",
    """
WITH {base}
SELECT user_id, date_trunc('day', time) AS time,
       round(avg(CASE WHEN event_type = 'click' THEN value END), 6) AS ev_click,
       CAST(NULL AS DOUBLE)                                         AS ev_absent,
       round(avg(CASE WHEN event_type = 'view'  THEN value END), 6) AS ev_view
FROM base GROUP BY 1, 2
""".format(base=EVENTS_BASE),
)
def q_conform_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conform: order columns by the metadata contract, materializing absent
    ids as typed nulls (reference transforms/vector/conform.py:10-75)."""
    from datapipeline_spark.dataset.postprocess import conform_columns
    from datapipeline_spark.functions.time import floor_time_expr

    s = events_stream(spark, sf_dir)
    wide = (
        s.groupBy("user_id", floor_time_expr("time", "1d").alias("time"))
        .pivot("event_type", ["click", "view"])
        .agg(F.round(F.avg("value"), 6))
        .withColumnsRenamed({"click": "ev_click", "view": "ev_view"})
    )
    contract = [
        ("ev_click", "scalar", None),
        ("ev_absent", "scalar", None),
        ("ev_view", "scalar", None),
    ]
    return conform_columns(wide, contract)
