"""Streaming queries for the driver contract (SURVEY.md §2.10).

Each entry runs a Structured Streaming job to completion (availableNow
trigger → memory sink) and returns the result as a batch DataFrame, so the
driver's oracle comparison works unchanged. The streaming rolling mean uses
the same semantics as the batch operator, so the batch SQL oracle applies —
this is the §2.10 "streaming == batch" equivalence, checked by the grader's
own hash comparison.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datapipeline_spark.queries_core import EVENTS_BASE, W, events_stream, query
from datapipeline_spark.tables import load_table


def _staged_events(spark: SparkSession, sf_dir: str) -> str:
    """Stage the (timestamp-converted) events table once as a single parquet
    file so the file streaming source sees exactly one deterministic batch.
    Cache key covers the source file stats plus a staging-format version
    (v2 = timestamps normalized to session-UTC LTZ in load_table), so
    regenerated driver data or a conversion change invalidates the staging."""
    src = os.path.join(sf_dir, "events.parquet")
    try:
        st = os.stat(src)
        stamp = f"v2|{src}|{st.st_size}|{st.st_mtime_ns}"
    except OSError:
        stamp = f"v2|{src}"
    key = hashlib.sha256(stamp.encode()).hexdigest()[:12]
    staging = f"/tmp/spark_graft_stream_{key}"
    marker = os.path.join(staging, "_SUCCESS")
    if not os.path.exists(marker):
        events_stream(spark, sf_dir).coalesce(1).write.mode("overwrite").parquet(staging)
    return staging


def _stream_of(spark: SparkSession, staging: str) -> DataFrame:
    batch = spark.read.parquet(staging)
    schema = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in batch.schema.fields)
    return spark.readStream.schema(schema).parquet(staging)


def _run_to_memory(out: DataFrame, name: str, mode: str) -> None:
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError(f"streaming query {name} did not finish within 300s")


@query(
    "streaming_cadence_buckets",
    """
WITH {base},
ded AS (
  SELECT user_id, time, max_by(value, event_id) AS value
  FROM base GROUP BY 1, 2
)
SELECT date_trunc('day', time) AS time, user_id,
       max_by(value, time) AS value
FROM ded GROUP BY 1, 2
""".format(base=EVENTS_BASE),
)
def streaming_cadence_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming cadence-bucket assembly (SURVEY.md §2.10 first row): tumbling
    1-day window per user, last-by-time value — the streaming analogue of the
    batch sample assembly. Exact-time collisions are collapsed batch-side at
    staging (last arrival by event_id) so last-by-time is total; complete
    output mode emits open buckets too, making the batch GROUP BY an exact
    oracle."""
    from datapipeline_spark.operators.record import collapse
    from datapipeline_spark.streaming import cadence_assembly_stream

    staging = _staged_events(spark, sf_dir)
    key = hashlib.sha256(staging.encode()).hexdigest()[:8]
    ded_dir = f"/tmp/spark_graft_stream_ded_{key}"
    if not os.path.exists(os.path.join(ded_dir, "_SUCCESS")):
        ded = collapse(
            spark.read.parquet(staging).select("user_id", "time", "value", "event_id"),
            ["user_id"],
            keep="last",
            arrival_col="event_id",
        )
        ded.coalesce(1).write.mode("overwrite").parquet(ded_dir)
    out = cadence_assembly_stream(
        _stream_of(spark, ded_dir),
        cadence="1d",
        entity_keys=["user_id"],
        value_cols=["value"],
        watermark="0 seconds",
    )
    name = "stream_cad_" + key
    _run_to_memory(out, name, "complete")
    return spark.table(name).select("time", "user_id", "value")


@query(
    "streaming_dedupe",
    """
WITH {base}
SELECT DISTINCT user_id, time FROM base
""".format(base=EVENTS_BASE),
)
def streaming_dedupe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked streaming dedup (dropDuplicatesWithinWatermark — the
    bounded-state streaming contract for the reference's fail-on-duplicates
    alignment, SURVEY.md §2.10 late/duplicate row). Key projection only, so
    which arrival survives is irrelevant and SELECT DISTINCT is an exact
    oracle."""
    from datapipeline_spark.streaming import dedupe_stream

    staging = _staged_events(spark, sf_dir)
    sdf = _stream_of(spark, staging).select("user_id", "time")
    out = dedupe_stream(sdf, ["user_id"], watermark="1 hour")
    name = "stream_ded_" + hashlib.sha256(staging.encode()).hexdigest()[:8]
    _run_to_memory(out, name, "append")
    return spark.table(name).select("user_id", "time")


@query(
    "streaming_interval_join",
    """
WITH {base},
p AS (SELECT user_id, time, event_id FROM base WHERE event_type = 'purchase'),
c AS (SELECT user_id, time AS time_r, event_id AS event_id_r
      FROM base WHERE event_type = 'click')
SELECT p.user_id, p.time, p.event_id, c.time_r, c.event_id_r
FROM p JOIN c ON p.user_id = c.user_id
 AND c.time_r BETWEEN p.time - INTERVAL 1 HOUR AND p.time
""".format(base=EVENTS_BASE),
)
def streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (each purchase paired with the user's
    clicks in the preceding hour). Watermarks bound the join state; inner
    matches emit immediately, so the batch interval join is an exact oracle."""
    from datapipeline_spark.streaming import interval_join_stream

    staging = _staged_events(spark, sf_dir)
    purchases = (
        _stream_of(spark, staging)
        .filter(F.col("event_type") == "purchase")
        .select("user_id", "time", "event_id")
    )
    clicks = (
        _stream_of(spark, staging)
        .filter(F.col("event_type") == "click")
        .select("user_id", "time", "event_id")
    )
    out = interval_join_stream(purchases, clicks, ["user_id"], lookback="1h")
    name = "stream_ij_" + hashlib.sha256(staging.encode()).hexdigest()[:8]
    _run_to_memory(out, name, "append")
    return spark.table(name).select(
        "user_id", "time", "event_id", "time_r", "event_id_r"
    )


@query(
    "streaming_rolling_mean",
    """
WITH {base}
SELECT event_id, user_id,
       round(CASE WHEN count(value_n) OVER w4s >= 2
                  THEN avg(value_n) OVER w4s END, 6) AS roll_mean
FROM base
WINDOW w4s AS ({w} ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
""".format(base=EVENTS_BASE, w=W),
)
def streaming_rolling_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming rolling mean (applyInPandasWithState) over the
    events stream; same oracle as the batch `rolling_mean` query — streaming
    and batch semantics are identical on ordered input."""
    from datapipeline_spark.streaming import rolling_mean_stream

    staging = _staged_events(spark, sf_dir)
    batch = spark.read.parquet(staging)
    schema = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in batch.schema.fields)
    sdf = spark.readStream.schema(schema).parquet(staging)
    out = rolling_mean_stream(
        sdf,
        "value_n",
        window=4,
        entity_keys=["user_id"],
        min_samples=2,
        out="roll_mean",
        order_cols=("time", "event_id"),
    )
    name = "stream_roll_" + hashlib.sha256(staging.encode()).hexdigest()[:8]
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError("streaming_rolling_mean did not finish within 300s")
    return spark.table(name).select(
        "event_id", "user_id", F.round("roll_mean", 6).alias("roll_mean")
    )


@query(
    "streaming_sessionize",
    """
WITH {base},
flags AS (
  SELECT user_id, time, event_id,
         CASE WHEN lag(time) OVER ({w}) IS NULL
                OR epoch(time) - epoch(lag(time) OVER ({w})) >= 7200
              THEN 1 ELSE 0 END AS new_s
  FROM base
),
ids AS (
  SELECT user_id, time,
         sum(new_s) OVER ({w} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM flags
)
SELECT user_id,
       min(time) AS session_start,
       max(time) + INTERVAL 7200 SECOND AS session_end,
       count(*) AS n_events
FROM ids
GROUP BY user_id, sid
""".format(base=EVENTS_BASE, w=W),
)
def streaming_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session_window aggregation over the events stream (2h gap).
    Complete output mode so still-open sessions are included, which makes
    the batch gap-session SQL an exact oracle (session merges when the gap
    is strictly below 2h — hence >= in the oracle's new-session flag;
    session_end = last event + gap per Spark's session-window semantics)."""
    from datapipeline_spark.streaming import sessionize_stream

    staging = _staged_events(spark, sf_dir)
    batch = spark.read.parquet(staging)
    schema = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in batch.schema.fields)
    sdf = spark.readStream.schema(schema).parquet(staging)
    out = sessionize_stream(sdf, "2h", ["user_id"], watermark="0 seconds")
    name = "stream_sess_" + hashlib.sha256(staging.encode()).hexdigest()[:8]
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError("streaming_sessionize did not finish within 300s")
    return spark.table(name).select(
        "user_id", "session_start", "session_end", "n_events"
    )


@query(
    "streaming_enrich",
    """
WITH {base}
SELECT b.event_id, b.user_id, n.n_name AS nation, b.value
FROM base b
JOIN customer c ON b.user_id = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
""".format(base=EVENTS_BASE),
)
def streaming_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static dimension enrichment: the event stream joins two static
    dims (customer → nation) that Spark plans as broadcast hash joins — the
    stream is never shuffled and needs no watermark (map-side, stateless).
    The production shape for attaching slowly-changing metadata to a live
    feed; at 100 TB/day the static side refreshes per micro-batch without
    restarting the query."""
    staging = _staged_events(spark, sf_dir)
    stream = _stream_of(spark, staging)
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    dim = F.broadcast(c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey))
    out = (
        stream.join(dim, stream.user_id == dim.c_custkey)
        .select("event_id", "user_id", F.col("n_name").alias("nation"), "value")
    )
    _run_to_memory(out, "streaming_enrich_mem", "append")
    return spark.table("streaming_enrich_mem")


@query(
    "streaming_quality_filter",
    """
WITH d AS (
  SELECT doc_id,
         round(0.3 * least(len(string_split_regex(trim(text), '\\s+')) / 100.0, 1.0)
             + 0.3 * (len(list_distinct(string_split_regex(trim(text), '\\s+'))) * 1.0
                      / len(string_split_regex(trim(text), '\\s+')))
             + 0.4 * (length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) * 1.0 / length(text)),
               6) AS quality
  FROM documents
)
SELECT doc_id, quality FROM d WHERE quality >= 0.5
""",
)
def streaming_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming corpus ingestion filter: the same fused quality projection
    used batch-side (text/analysis.py quality_score) applied to a document
    stream — stateless map, append mode, no watermark, no state store. This
    is the live-ingest shape for corpus curation: score-and-drop runs
    per-micro-batch with identical results to the batch pass (the oracle is
    the batch SQL)."""
    from datapipeline_spark.text import quality_score

    staging = _staged_documents(spark, sf_dir)
    stream = _stream_of(spark, staging)
    out = (
        quality_score(stream)
        .filter(F.col("quality") >= 0.5)
        .select("doc_id", "quality")
    )
    _run_to_memory(out, "streaming_quality_mem", "append")
    return spark.table("streaming_quality_mem")


@query(
    "streaming_left_interval_join",
    """
WITH {base},
p AS (SELECT user_id, time, event_id FROM base WHERE event_type = 'purchase'),
c AS (SELECT user_id, time AS time_r, event_id AS event_id_r
      FROM base WHERE event_type = 'click')
SELECT p.user_id, p.time, p.event_id, c.time_r, c.event_id_r
FROM p LEFT JOIN c ON p.user_id = c.user_id
 AND c.time_r BETWEEN p.time - INTERVAL 1 HOUR AND p.time
""".format(base=EVENTS_BASE),
)
def streaming_left_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join: every purchase emits, with
    nulls when no click preceded it within an hour. Outer results are held
    in state until the watermark passes their window, so the bounded run
    appends a heartbeat row beyond max(time)+lookback+watermark on both
    sides (filtered from the output) to drain the tail deterministically —
    the punctuation pattern any bounded replay of an outer streaming join
    needs. Oracle: the batch LEFT JOIN."""
    from datapipeline_spark.streaming import interval_join_stream

    staging = _staged_events(spark, sf_dir)
    key = hashlib.sha256(staging.encode()).hexdigest()[:8]
    hb_dir = f"/tmp/spark_graft_stream_hb_{key}"
    if not os.path.exists(os.path.join(hb_dir, "_SUCCESS")):
        base = spark.read.parquet(staging)
        flush = base.select(F.max("time").alias("m")).select(
            F.lit(-1).cast("long").alias("event_id"),
            F.lit(-1).cast("long").alias("user_id"),
            (F.col("m") + F.expr("INTERVAL 4 HOURS")).alias("time"),
            F.lit(None).cast("double").alias("value"),
            F.lit("heartbeat").alias("event_type"),
            F.lit(None).cast("double").alias("value_n"),
        )
        base.select(
            "event_id", "user_id", "time", "value", "event_type", "value_n"
        ).unionByName(flush).coalesce(1).write.mode("overwrite").parquet(hb_dir)
    purchases = (
        _stream_of(spark, hb_dir)
        .filter(F.col("event_type").isin("purchase", "heartbeat"))
        .select("user_id", "time", "event_id")
    )
    clicks = (
        _stream_of(spark, hb_dir)
        .filter(F.col("event_type").isin("click", "heartbeat"))
        .select("user_id", "time", "event_id")
    )
    out = interval_join_stream(
        purchases, clicks, ["user_id"], lookback="1h", how="leftOuter"
    )
    name = "stream_loj_" + key
    _run_to_memory(out, name, "append")
    return (
        spark.table(name)
        .filter(F.col("user_id") >= 0)
        .select("user_id", "time", "event_id", "time_r", "event_id_r")
    )


@query(
    "streaming_cm_sketch",
    """
WITH {base},
js AS (SELECT unnest([0, 1, 2, 3]) AS j)
SELECT j,
       CAST((('0x' || substr(sha256('cm' || j::VARCHAR || '|' || user_id::VARCHAR), 1, 13))::UBIGINT)::BIGINT % 256 AS INT) AS bucket,
       count(*) AS c
FROM base, js GROUP BY 1, 2
""".format(base=EVENTS_BASE),
)
def streaming_cm_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Count-Min sketch (sketch/cm.py over an unbounded stream —
    the canonical streaming-frequency use of the sketch): the cell table is
    a running aggregation in complete mode whose state is bounded by
    depth x width cells no matter how long the stream runs. Deterministic
    seeded-sha hashing means the final cells are byte-identical to the
    batch sketch, so the batch SQL is an exact oracle (streaming == batch,
    SURVEY.md §2.10)."""
    from datapipeline_spark.sketch import build_cm_sketch

    staging = _staged_events(spark, sf_dir)
    sdf = _stream_of(spark, staging)
    out = build_cm_sketch(sdf, "user_id", depth=4, width=256)
    name = "stream_cm_" + hashlib.sha256(staging.encode()).hexdigest()[:8]
    _run_to_memory(out, name, "complete")
    return spark.table(name).select("j", "bucket", "c")


@query(
    "streaming_cdc_state",
    """
WITH {base},
snap AS (
  SELECT user_id, time, event_id, value, 'U' AS op FROM (
    SELECT user_id, time, event_id, value,
           row_number() OVER (PARTITION BY user_id ORDER BY time DESC, event_id DESC) AS rn
    FROM base WHERE time < TIMESTAMP '2024-01-16 00:00:00'
  ) WHERE rn = 1
),
chg AS (
  SELECT user_id, time, event_id, value,
         CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op
  FROM base WHERE time >= TIMESTAMP '2024-01-16 00:00:00'
),
merged AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY time DESC, event_id DESC) AS rn
    FROM (SELECT * FROM snap UNION ALL SELECT * FROM chg)
  ) WHERE rn = 1
)
SELECT user_id, time, event_id, value FROM merged WHERE op <> 'D'
""".format(base=EVENTS_BASE),
)
def streaming_cdc_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC consumption (cdc_upsert_sink — SURVEY.md §2.10 meets
    the CDC merge): the pre-Jan-16 snapshot is seeded as the state table,
    later events stream in as a changelog (errors = deletes) and fold
    batch-by-batch through foreachBatch apply_changes with tombstone
    retention. The materialized final state equals the one-shot batch
    merge, so cdc_apply_changes' SQL is an exact oracle — the strongest
    form of the streaming == batch contract (stateful, multi-batch,
    delete-bearing).

    Only the snapshot and changelog inputs are cached across calls (keyed
    by the staging path, as ``_staged_events`` is); every call folds them
    into a fresh state directory, stages the result and removes it."""
    import shutil
    import tempfile

    from pyspark.sql import Window

    from datapipeline_spark.streaming.ops import cdc_upsert_sink, read_cdc_state

    staging = _staged_events(spark, sf_dir)
    key = hashlib.sha256(("cdc|" + staging).encode()).hexdigest()[:8]
    prefix = f"/tmp/spark_graft_cdc_state_{key}"
    snap_dir, chg_dir = prefix + "_snap", prefix + "_chg"
    base = spark.read.parquet(staging)
    cutoff = F.lit("2024-01-16 00:00:00").cast("timestamp")
    cols = ["user_id", "time", "event_id", "value"]
    if not os.path.exists(os.path.join(snap_dir, "_SUCCESS")):
        w = Window.partitionBy("user_id").orderBy(F.col("time").desc(), F.col("event_id").desc())
        snap = base.filter(F.col("time") < cutoff).withColumn("__rn__", F.row_number().over(w))
        snap = snap.filter(F.col("__rn__") == 1).select(*cols, F.lit("U").alias("op"))
        snap.write.mode("overwrite").parquet(snap_dir)
    if not os.path.exists(os.path.join(chg_dir, "_SUCCESS")):
        op = F.when(F.col("event_type") == "error", "D").otherwise("U").alias("op")
        chg = base.filter(F.col("time") >= cutoff).select(*cols, op)
        chg.repartition(3).write.mode("overwrite").parquet(chg_dir)  # 3 files -> 3 micro-batches
    run = tempfile.mkdtemp(prefix=prefix + "_run_", dir="/tmp")
    try:
        # seed the state table with the snapshot (tombstone-bearing layout)
        state = os.path.join(run, "state")
        shutil.copytree(snap_dir, state)
        sch = "user_id bigint, time timestamp, event_id bigint, value double, op string"
        stream = spark.readStream.schema(sch).option("maxFilesPerTrigger", 1).parquet(chg_dir)
        q = (
            stream.writeStream.foreachBatch(
                cdc_upsert_sink(state, ["user_id"], ["time", "event_id"])
            )
            .option("checkpointLocation", os.path.join(run, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError("streaming_cdc_state did not finish in 300s")
        return read_cdc_state(spark, state).select(*cols).localCheckpoint()
    finally:
        shutil.rmtree(run, ignore_errors=True)


@query(
    "streaming_ewma",
    """
WITH {base},
fr AS (
  SELECT event_id, user_id, time, value,
         list(value) OVER (PARTITION BY user_id ORDER BY time, event_id
                           ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS a
  FROM base
)
SELECT event_id, user_id, time, value,
       round(
         list_reduce(list_transform(a, (x, i) -> x * pow(0.5, len(a) - i)), (p, q) -> p + q)
         / list_reduce(list_transform(a, (x, i) -> pow(0.5, len(a) - i)), (p, q) -> p + q),
       6) AS ewma
FROM fr
""".format(base=EVENTS_BASE),
)
def streaming_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming truncated EWMA (streaming/ops.py ewma_stream,
    applyInPandasWithState): per-user stateful fold over the event stream.
    Because the Python fold performs the identical IEEE operations as the
    batch JVM array fold and decay 0.5 weights are exact powers of two,
    the streamed values are bit-identical to batch — so the batch SQL is
    an exact oracle even though the computation ran through per-key state
    across micro-batches."""
    from datapipeline_spark.streaming.ops import ewma_stream

    staging = _staged_events(spark, sf_dir)
    sdf = _stream_of(spark, staging).select("event_id", "user_id", "time", "value")
    out = ewma_stream(
        sdf, "value", window=8, entity_keys=["user_id"],
        order_cols=["time", "event_id"],
    )
    name = "stream_ewma_" + hashlib.sha256(staging.encode()).hexdigest()[:8]
    _run_to_memory(out, name, "append")
    return spark.table(name).select(
        "event_id", "user_id", "time", "value", F.round(F.col("ewma"), 6).alias("ewma")
    )


@query(
    "streaming_user_profile",
    """
WITH {base}
SELECT user_id,
       count(*) AS n_events,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_cents,
       min(value) AS min_value,
       max(value) AS max_value
FROM base GROUP BY user_id
""".format(base=EVENTS_BASE),
)
def streaming_user_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key running profile via `applyInPandasWithState`
    (streaming/ops.py profile_stream).
    One availableNow batch → one final profile row per user, so the batch
    aggregate is an exact oracle: the sum folds integer cents in state
    (batch-split invariant), min/max are moved doubles."""
    from datapipeline_spark.streaming import profile_stream

    staging = _staged_events(spark, sf_dir)
    sdf = _stream_of(spark, staging).select("user_id", "value")
    out = profile_stream(sdf, ["user_id"], "value")
    name = "stream_prof_" + hashlib.sha256(staging.encode()).hexdigest()[:8]
    _run_to_memory(out, name, "append")
    return spark.table(name).select(
        "user_id", "n_events", "total_cents", "min_value", "max_value"
    )


def _staged_documents(spark: SparkSession, sf_dir: str) -> str:
    """Stage documents with a synthetic ingest time (doc_id seconds from
    epoch — deterministic, monotone in ingestion order) as one parquet file
    for the file streaming source."""
    src = os.path.join(sf_dir, "documents.parquet")
    try:
        st = os.stat(src)
        stamp = f"v2|{src}|{st.st_size}|{st.st_mtime_ns}"
    except OSError:
        stamp = f"v2|{src}"
    key = hashlib.sha256(stamp.encode()).hexdigest()[:12]
    staging = f"/tmp/spark_graft_stream_docs_{key}"
    if not os.path.exists(os.path.join(staging, "_SUCCESS")):
        d = load_table(spark, sf_dir, "documents").select(
            "doc_id",
            "text",
            # base 2024-01-01: a row whose event time equals the INITIAL
            # watermark (epoch 0) is dropped as late by
            # dropDuplicatesWithinWatermark — doc_id 0 vanished until offset
            F.timestamp_seconds(F.col("doc_id") + F.lit(1704067200)).alias("time"),
        )
        d.coalesce(1).write.mode("overwrite").parquet(staging)
    return staging


def _row_minhash_sig_sql() -> str:
    """Per-doc signature in SQL — identical constants to the Spark-side
    row_minhash (min over the shingle multiset == min over the set, so the
    grouped form here equals the per-row array fold)."""
    from datapipeline_spark.queries_data import BIGRAMS, H48, MOD, PARAMS

    mins = ", ".join(
        f"min(({a} * h + {b}) % {MOD}) AS mh{j}" for j, (a, b) in enumerate(PARAMS.coeffs)
    )
    concat = ", ".join(f"mh{j}" for j in range(PARAMS.num_hashes))
    return f"""{BIGRAMS},
hashed AS (SELECT doc_id, {H48.format(col='s')} AS h FROM sh),
sig AS (SELECT doc_id, {mins} FROM hashed GROUP BY doc_id),
sigs AS (SELECT doc_id, concat_ws('_', {concat}) AS minhash_sig FROM sig)"""


@query(
    "streaming_near_dup",
    f"WITH {_row_minhash_sig_sql()}\nSELECT DISTINCT minhash_sig FROM sigs",
)
def streaming_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time streaming near-dup filter (streaming/ops.py
    near_dup_filter_stream): per-row minhash signature — a pure map stage,
    legal in append mode — then watermarked first-occurrence dedup on the
    full signature. Emits one surviving row per distinct signature;
    signature projection makes which arrival survives irrelevant, so
    DISTINCT over the batch-computed signatures is an exact oracle (same
    §2.10 key-projection convention as streaming_dedupe)."""
    from datapipeline_spark.streaming import near_dup_filter_stream

    staging = _staged_documents(spark, sf_dir)
    sdf = _stream_of(spark, staging)
    out = near_dup_filter_stream(sdf, "text", watermark="1 hour", time_field="time")
    name = "stream_ndup_" + hashlib.sha256(staging.encode()).hexdigest()[:8]
    _run_to_memory(out, name, "append")
    return (
        spark.table(name)
        .filter(F.col("minhash_sig").isNotNull())
        .select("minhash_sig")
    )


@query(
    "streaming_cusum",
    """
WITH {base},
nn AS (SELECT event_id, user_id, time, value FROM base WHERE value IS NOT NULL),
dev AS (
  SELECT event_id, user_id, time,
         CAST(round(value * 100) AS BIGINT) - CAST(round(55.0 * 100) AS BIGINT) AS d
  FROM nn
),
pre AS (
  SELECT event_id, user_id, time,
         CAST(sum(d) OVER ({w}) AS BIGINT) AS p
  FROM dev
)
SELECT event_id, user_id,
       CAST(p - least(CAST(0 AS BIGINT), min(p) OVER ({w})) AS BIGINT) AS cusum_cents
FROM pre
""".format(base=EVENTS_BASE, w=W),
)
def streaming_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CUSUM drift monitor (streaming/ops.cusum_stream): per-key
    state is TWO bigints (prefix sum + running min — the same identity the
    batch operator evaluates with window functions), so the emitted
    statistic equals the batch result bit-for-bit and the batch window SQL
    is an exact oracle."""
    from datapipeline_spark.streaming import cusum_stream

    staging = _staged_events(spark, sf_dir)
    sdf = (
        _stream_of(spark, staging)
        .filter(F.col("value").isNotNull())
        .select("event_id", "user_id", "time", "value")
    )
    out = cusum_stream(
        sdf, "value", target=50.0, slack=5.0, scale=100,
        entity_keys=["user_id"], out="cusum_cents",
        order_cols=["time", "event_id"],
    )
    name = "stream_cusum_" + hashlib.sha256(staging.encode()).hexdigest()[:8]
    _run_to_memory(out, name, "append")
    return spark.table(name).select("event_id", "user_id", "cusum_cents")


def _streaming_hll_sql() -> str:
    from datapipeline_spark.sketch.hll import alpha_numerator

    p = 10
    m = 1 << p
    rem_bits = 60 - p
    mask = (1 << rem_bits) - 1
    rho_max = rem_bits + 1
    num = repr(alpha_numerator(p))
    return f"""
WITH {EVENTS_BASE},
h AS (
  SELECT event_type,
         (('0x' || substr(md5(user_id::VARCHAR), 1, 15))::UBIGINT)::BIGINT AS h
  FROM base
),
r AS (
  SELECT event_type, h >> {rem_bits} AS reg,
         max(CASE WHEN (h & {mask}) = 0 THEN {rho_max}
                  ELSE {rho_max} - length(bin(h & {mask})) END) AS rho
  FROM h GROUP BY 1, 2
),
s AS (
  SELECT event_type, count(*)::BIGINT AS n_registers,
         (sum(1::BIGINT << ({rho_max} - rho))
          + ({m} - count(*)) * (1::BIGINT << {rho_max}))::BIGINT AS scaled_harmonic
  FROM r GROUP BY 1
)
SELECT event_type, n_registers, scaled_harmonic,
       {num} / scaled_harmonic::DOUBLE AS est_raw
FROM s
"""


@query("streaming_hll", _streaming_hll_sql())
def streaming_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming HyperLogLog distinct users per event type (sketch/hll.py
    over an unbounded stream): the register table is a running max
    aggregation in complete mode whose state is bounded by m=1024 rows per
    group no matter how long the stream runs — the canonical streaming
    distinct-count. Deterministic md5 registers mean the streamed state is
    bit-identical to the batch sketch, so the batch SQL is an exact oracle
    (streaming == batch, SURVEY.md §2.10); the estimate row is a tiny
    batch post-aggregate over the materialized registers."""
    from datapipeline_spark.sketch.hll import hll_estimate, hll_registers

    staging = _staged_events(spark, sf_dir)
    sdf = _stream_of(spark, staging)
    regs = hll_registers(
        sdf.select("event_type", "user_id"), "user_id", ["event_type"]
    )
    name = "stream_hll_" + hashlib.sha256(staging.encode()).hexdigest()[:8]
    _run_to_memory(regs, name, "complete")
    return hll_estimate(spark.table(name), ["event_type"])


@query(
    "streaming_ab_ztest",
    """
WITH u AS (
  SELECT user_id, (user_id % 2)::BIGINT AS arm,
         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS conv
  FROM events GROUP BY user_id
),
a AS (
  SELECT sum(1 - arm)::BIGINT AS n0, sum((1 - arm) * conv)::BIGINT AS c0,
         sum(arm)::BIGINT AS n1, sum(arm * conv)::BIGINT AS c1
  FROM u
)
SELECT n0, c0, n1, c1,
       round((c1::DOUBLE / n1::DOUBLE - c0::DOUBLE / n0::DOUBLE)
             / sqrt(((c0::DOUBLE + c1::DOUBLE) / (n0::DOUBLE + n1::DOUBLE))
                    * (1 - (c0::DOUBLE + c1::DOUBLE) / (n0::DOUBLE + n1::DOUBLE))
                    * (1 / n0::DOUBLE + 1 / n1::DOUBLE)), 6) AS z
FROM a
""",
)
def streaming_ab_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming A/B conversion monitor: per-user "ever purchased" state as
    a complete-mode max aggregation (one row per user — the same state
    class as streaming_user_profile), then the two-proportion z statistic
    (operators/stats.proportion_ztest) as a tiny batch post-aggregate over
    the materialized per-user table. After the stream drains, the per-user
    max state equals the batch per-user max exactly, so the batch SQL is
    an exact oracle (streaming == batch) — the live-experiment readout the
    batch ab_purchase_ztest entry models offline."""
    from datapipeline_spark.operators.stats import proportion_ztest

    staging = _staged_events(spark, sf_dir)
    sdf = _stream_of(spark, staging)
    conv = sdf.groupBy("user_id").agg(
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("conv")
    )
    name = "stream_ab_" + hashlib.sha256(staging.encode()).hexdigest()[:8]
    _run_to_memory(conv, name, "complete")
    u = spark.table(name).select(
        (F.col("user_id") % 2).cast("long").alias("arm"), "conv"
    )
    return proportion_ztest(u, "arm", "conv")


@query(
    "streaming_holt",
    """
WITH RECURSIVE {base},
seq AS MATERIALIZED (
  SELECT event_id, user_id, time, value,
         row_number() OVER (PARTITION BY user_id ORDER BY time, event_id)
           AS i,
         CAST(value AS DOUBLE) AS y
  FROM base
),
rec AS (
  SELECT user_id, i, y AS l, 0.0::DOUBLE AS b FROM seq WHERE i = 1
  UNION ALL
  SELECT s.user_id, s.i,
         0.5 * s.y + 0.5 * (r.l + r.b),
         0.5 * ((0.5 * s.y + 0.5 * (r.l + r.b)) - r.l) + 0.5 * r.b
  FROM rec r JOIN seq s ON s.user_id = r.user_id AND s.i = r.i + 1
)
SELECT s.event_id, s.user_id, s.time, s.value,
       r.l AS level, r.b AS trend
FROM seq s JOIN rec r ON r.user_id = s.user_id AND r.i = s.i
""".format(base=EVENTS_BASE),
)
def streaming_holt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Holt linear-trend fold (streaming/ops.holt_stream,
    applyInPandasWithState): per-user (level, trend) state — O(1) doubles
    per key, never a buffer — emitting the updated state per event. The
    Python fold runs the identical IEEE operations as the batch JVM array
    fold (operators/holt.holt_linear), so at α=β=½ the streamed rows are
    bit-identical to the batch recursion and the step-for-step recursive
    CTE is an exact oracle of the STREAMING computation."""
    from datapipeline_spark.streaming.ops import holt_stream

    staging = _staged_events(spark, sf_dir)
    sdf = _stream_of(spark, staging).select(
        "event_id", "user_id", "time", "value"
    )
    out = holt_stream(
        sdf, "value", entity_keys=["user_id"], order_cols=["time", "event_id"]
    )
    name = "stream_holt_" + hashlib.sha256(staging.encode()).hexdigest()[:8]
    _run_to_memory(out, name, "append")
    return spark.table(name).select(
        "event_id", "user_id", "time", "value", "level", "trend"
    )


@query(
    "streaming_hampel",
    """
WITH {base},
v AS (
  SELECT event_id, user_id, time,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM base
),
fr AS (
  SELECT event_id, user_id, time, cents,
         list_sort(list(cents) OVER (PARTITION BY user_id
                                     ORDER BY time, event_id
                                     ROWS BETWEEN 6 PRECEDING
                                     AND CURRENT ROW)) AS a
  FROM v
),
m AS (
  SELECT event_id, user_id, time, cents, a,
         a[(len(a) + 1) // 2] AS med
  FROM fr
),
d AS (
  SELECT *,
         list_sort(list_transform(a, x -> abs(x - med)))
           [(len(a) + 1) // 2] AS mad
  FROM m
)
SELECT event_id, user_id, time, cents,
       CASE WHEN len(a) >= 3 AND abs(cents - med) > 3 * mad
            THEN med ELSE cents END AS hampel
FROM d
""".format(base=EVENTS_BASE),
)
def streaming_hampel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Hampel repair (streaming/ops.hampel_stream): per-user
    bounded integer buffer, lower median/MAD selections per event —
    pure integer arithmetic so the streamed repair EQUALS the batch
    operator row for row, and the batch SQL is an exact oracle of the
    STREAMING computation (the integer sibling of streaming_ewma's
    bit-exact float contract)."""
    from datapipeline_spark.streaming.ops import hampel_stream

    staging = _staged_events(spark, sf_dir)
    sdf = (
        _stream_of(spark, staging)
        .select(
            "event_id",
            "user_id",
            "time",
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
    )
    out = hampel_stream(
        sdf, "cents", window=7, entity_keys=["user_id"],
        order_cols=["time", "event_id"],
    )
    name = "stream_hampel_" + hashlib.sha256(staging.encode()).hexdigest()[:8]
    _run_to_memory(out, name, "append")
    return spark.table(name).select(
        "event_id", "user_id", "time", "cents", "hampel"
    )
