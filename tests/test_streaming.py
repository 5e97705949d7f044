"""Structured Streaming ops: file source → availableNow trigger → memory sink.

The reference is batch-only; these verify the streaming equivalents declared
in SURVEY.md §2.10 produce the same values as their batch counterparts.
"""

from __future__ import annotations

import json
import uuid

import pytest


SCHEMA = "time timestamp, loc string, value double"


def _feed(tmp_path, rows, name="batch0.jsonl"):
    d = tmp_path / "in"
    d.mkdir(exist_ok=True)
    (d / name).write_text("\n".join(json.dumps(r) for r in rows))
    return str(d)


def _run(sdf, sort_cols):
    name = "t" + uuid.uuid4().hex[:8]
    q = sdf.writeStream.format("memory").queryName(name).outputMode("append").trigger(
        availableNow=True
    ).start()
    q.awaitTermination(120)
    out = sdf.sparkSession.table(name).orderBy(*sort_cols)
    return [tuple(r) for r in out.collect()]


def _rows(n=6):
    return [
        {"time": f"2024-01-01T{h:02d}:00:00Z", "loc": loc, "value": float(h + (10 if loc == "b" else 0))}
        for h in range(n)
        for loc in ("a", "b")
    ]


def test_rolling_mean_stream(spark, tmp_path):
    from datapipeline_spark.streaming import rolling_mean_stream, stream_jsonl_source

    src = stream_jsonl_source(spark, _feed(tmp_path, _rows(4)), SCHEMA)
    sdf = rolling_mean_stream(
        src, "value", window=2, entity_keys=["loc"], min_samples=1, order_cols=["time"]
    )
    got = _run(sdf, ["loc", "time"])
    a = [(t.hour, rm) for t, loc, v, rm in got if loc == "a"]
    assert a == [(0, 0.0), (1, 0.5), (2, 1.5), (3, 2.5)]
    b = [rm for _, loc, _, rm in got if loc == "b"]
    assert b == [10.0, 10.5, 11.5, 12.5]


def test_cadence_assembly_stream(spark, tmp_path):
    from datapipeline_spark.streaming import cadence_assembly_stream, stream_jsonl_source

    rows = [
        {"time": "2024-01-01T00:10:00Z", "loc": "a", "value": 1.0},
        {"time": "2024-01-01T00:50:00Z", "loc": "a", "value": 2.0},  # same bucket, later
        {"time": "2024-01-01T01:20:00Z", "loc": "a", "value": 3.0},
        {"time": "2024-01-01T09:00:00Z", "loc": "a", "value": 99.0},  # advances watermark
    ]
    src = stream_jsonl_source(spark, _feed(tmp_path, rows), SCHEMA)
    sdf = cadence_assembly_stream(src, "1h", ["loc"], ["value"], watermark="2 hours")
    got = _run(sdf, ["time"])
    closed = [(t.hour, v) for t, loc, v in got]
    # watermark at 07:00 closes buckets 00 and 01; last-by-time wins in bucket 0
    assert (0, 2.0) in closed and (1, 3.0) in closed


def test_dedupe_stream(spark, tmp_path):
    from datapipeline_spark.streaming import dedupe_stream, stream_jsonl_source

    rows = [
        {"time": "2024-01-01T00:00:00Z", "loc": "a", "value": 1.0},
        {"time": "2024-01-01T00:00:00Z", "loc": "a", "value": 1.0},
        {"time": "2024-01-01T01:00:00Z", "loc": "a", "value": 2.0},
    ]
    src = stream_jsonl_source(spark, _feed(tmp_path, rows), SCHEMA)
    sdf = dedupe_stream(src, ["loc"], watermark="1 hour")
    got = _run(sdf, ["time"])
    assert len(got) == 2


def test_streaming_matches_batch_rolling(spark, tmp_path):
    """Metamorphic: streaming rolling mean == batch rolling mean on the same
    data (the §2.10 equivalence the survey claims)."""
    from datapipeline_spark.operators.window import rolling
    from datapipeline_spark.streaming import rolling_mean_stream, stream_jsonl_source

    rows = _rows(6)
    src = stream_jsonl_source(spark, _feed(tmp_path, rows), SCHEMA)
    got_stream = _run(
        rolling_mean_stream(
            src, "value", window=3, entity_keys=["loc"], min_samples=1, order_cols=["time"]
        ),
        ["loc", "time"],
    )
    batch = spark.createDataFrame(
        [(r["time"].replace("Z", "+00:00"), r["loc"], r["value"]) for r in rows],
        "time string, loc string, value double",
    ).selectExpr("cast(time as timestamp) time", "loc", "value")
    got_batch = [
        tuple(r)
        for r in rolling(
            batch, "value", 3, "mean", 1, ["loc"], out="rolling_mean"
        )
        .orderBy("loc", "time")
        .collect()
    ]
    assert [g[-1] for g in got_stream] == pytest.approx([g[-1] for g in got_batch])


def test_sessionize_stream_matches_batch(spark, tmp_path):
    from datapipeline_spark.operators.asof import sessionize
    from datapipeline_spark.streaming import sessionize_stream, stream_jsonl_source
    from pyspark.sql import functions as F

    rows = [
        {"time": "2024-01-01T00:00:00Z", "loc": "a", "value": 1.0},
        {"time": "2024-01-01T00:10:00Z", "loc": "a", "value": 2.0},
        {"time": "2024-01-01T02:00:00Z", "loc": "a", "value": 3.0},  # new session
        {"time": "2024-01-01T02:20:00Z", "loc": "a", "value": 4.0},
        {"time": "2024-01-01T00:05:00Z", "loc": "b", "value": 5.0},
        {"time": "2024-01-01T09:00:00Z", "loc": "b", "value": 6.0},  # new session
    ]
    src = stream_jsonl_source(spark, _feed(tmp_path, rows), SCHEMA)
    sdf = sessionize_stream(src, "30m", ["loc"], watermark="0 seconds")
    got = _run(sdf, ["loc", "session_start"])
    sessions = [(loc, s.hour, e.hour, e.minute, n) for loc, s, e, n in got]
    # session_end = last event + gap (30m). Append mode emits only sessions
    # CLOSED by the watermark (max event time 09:00): b's 09:00 session ends
    # at 09:30 > watermark, so it correctly stays open in state.
    assert sessions == [
        ("a", 0, 0, 40, 2),
        ("a", 2, 2, 50, 2),
        ("b", 0, 0, 35, 1),
    ]

    # batch sessionize agrees on session membership and counts
    batch = spark.createDataFrame(
        [(r["time"].replace("Z", "+00:00"), r["loc"], r["value"]) for r in rows],
        "time string, loc string, value double",
    ).select(F.to_timestamp("time").alias("time"), "loc", "value")
    b = sessionize(batch, "30m", ["loc"])
    counts = {
        (r["loc"], r["session_id"]): r["n"]
        for r in b.groupBy("loc", "session_id").agg(F.count("*").alias("n")).collect()
    }
    assert counts == {("a", 0): 2, ("a", 1): 2, ("b", 0): 1, ("b", 1): 1}


def test_interval_join_stream_matches_batch(spark, tmp_path):
    """Stream-stream interval join == batch interval join on the same data."""
    from datapipeline_spark.streaming import interval_join_stream, stream_jsonl_source

    left_rows = [
        {"time": "2024-01-01T01:00:00Z", "loc": "a", "value": 1.0},
        {"time": "2024-01-01T03:00:00Z", "loc": "a", "value": 2.0},
        {"time": "2024-01-01T01:30:00Z", "loc": "b", "value": 3.0},
    ]
    right_rows = [
        {"time": "2024-01-01T00:30:00Z", "loc": "a", "value": 10.0},  # in 1h of L1
        {"time": "2024-01-01T01:00:00Z", "loc": "a", "value": 11.0},  # boundary: == L1.time
        {"time": "2024-01-01T02:30:00Z", "loc": "a", "value": 12.0},  # in 1h of L2
        {"time": "2024-01-01T01:00:00Z", "loc": "b", "value": 13.0},  # in 1h of Lb
        {"time": "2024-01-01T02:45:00Z", "loc": "b", "value": 14.0},  # after Lb → no match
    ]
    (tmp_path / "l").mkdir()
    (tmp_path / "r").mkdir()
    lsrc = stream_jsonl_source(spark, _feed(tmp_path / "l", left_rows), SCHEMA)
    rsrc = stream_jsonl_source(spark, _feed(tmp_path / "r", right_rows), SCHEMA)
    sdf = interval_join_stream(lsrc, rsrc, ["loc"], lookback="1h")
    got = _run(sdf, ["loc", "time", "time_r"])
    pairs = sorted((loc, v, vr) for (t, loc, v, tr, vr) in got)
    assert pairs == [
        ("a", 1.0, 10.0),
        ("a", 1.0, 11.0),
        ("a", 2.0, 12.0),
        ("b", 3.0, 13.0),
    ]

    # batch equivalence on the same rows
    from pyspark.sql import functions as F

    l = spark.createDataFrame(
        [(r["time"], r["loc"], r["value"]) for r in left_rows], "time string, loc string, value double"
    ).withColumn("time", F.to_timestamp("time"))
    r = spark.createDataFrame(
        [(x["time"], x["loc"], x["value"]) for x in right_rows], "time string, loc string, value double"
    ).withColumn("time", F.to_timestamp("time"))
    batch = l.join(
        r.withColumnsRenamed({"time": "time_r", "value": "value_r"}),
        (F.col("time_r") >= F.col("time") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("time_r") <= F.col("time"))
        & (l["loc"] == r["loc"]),
    )
    bpairs = sorted((row["loc"], row["value"], row["value_r"]) for row in batch.collect())
    assert bpairs == pairs


def test_stream_static_enrich_matches_batch(spark):
    """Stream-static broadcast enrichment equals the batch join, and the
    stream side is never shuffled (stateless map-side join)."""
    from datapipeline_spark.queries_streaming import streaming_enrich
    from datapipeline_spark.queries_core import events_stream
    from datapipeline_spark.tables import load_table
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    got = streaming_enrich(spark, sf)
    c = load_table(spark, sf, "customer")
    n = load_table(spark, sf, "nation")
    batch = (
        events_stream(spark, sf)
        .join(F.broadcast(c), F.col("user_id") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("event_id", "user_id", F.col("n_name").alias("nation"), "value")
    )
    a = sorted(tuple(r) for r in got.collect())
    b = sorted(tuple(r) for r in batch.collect())
    assert a == b and len(a) > 0


def test_multi_microbatch_equals_single_batch(spark, tmp_path):
    """State carries correctly across micro-batch boundaries: processing the
    source one file per trigger (3 micro-batches) must produce the same
    dedup result as one batch — the incremental-processing invariant."""
    from datapipeline_spark.streaming import dedupe_stream

    src = str(tmp_path / "src")
    rows = [(i % 7, f"2024-01-01 0{i % 8}:00:00") for i in range(24)]
    df = spark.createDataFrame(rows, "user_id long, ts string").selectExpr(
        "user_id", "CAST(ts AS TIMESTAMP) AS time"
    )
    # three separate files → three micro-batches at maxFilesPerTrigger=1
    df.repartition(3).write.parquet(src)

    stream = (
        spark.readStream.schema("user_id long, time timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    # watermark must cover the full disorder span: a duplicate arriving in a
    # later micro-batch AFTER the watermark passed its event time is
    # legitimately re-emitted (bounded-state contract), so give the dedup
    # state a horizon wider than the data's time range
    out = dedupe_stream(stream, ["user_id"], watermark="1 day")
    q = (
        out.writeStream.format("memory")
        .queryName("mb_dedupe")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    assert q.lastProgress is not None

    got = sorted(
        (r["user_id"], r["time"]) for r in spark.table("mb_dedupe").collect()
    )
    want = sorted((r["user_id"], r["time"]) for r in df.dropDuplicates(["user_id", "time"]).collect())
    assert got == want


def test_ewma_stream_matches_batch_bit_exact(spark, tmp_path):
    """Streaming EWMA (stateful, multi-micro-batch) equals the batch array
    fold bit-for-bit at decay 0.5 (exact powers of two)."""
    from datapipeline_spark.operators.window import ewma
    from datapipeline_spark.streaming.ops import ewma_stream

    src = str(tmp_path / "src")
    rows = [
        (u, float(h), (h * 37 + u * 11) % 100 / 3.0)
        for u in range(5)
        for h in range(40)
    ]
    df = spark.createDataFrame(rows, "user_id long, t double, v double").selectExpr(
        "user_id", "CAST(timestamp '2024-01-01' + t * INTERVAL 1 HOUR AS TIMESTAMP) AS time", "v"
    )
    df.orderBy("time").coalesce(1).write.parquet(src)

    want = {
        (r.user_id, r.time): r.ewma
        for r in ewma(
            df, "v", window=6, decay=0.5, partition_by=["user_id"], order_by=["time"]
        ).collect()
    }

    stream = (
        spark.readStream.schema("user_id long, time timestamp, v double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = ewma_stream(stream, "v", window=6, entity_keys=["user_id"], order_cols=["time"])
    q = (
        out.writeStream.format("memory")
        .queryName("ewma_stream_t")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)
    got = {
        (r.user_id, r.time): r.ewma for r in spark.table("ewma_stream_t").collect()
    }
    assert len(got) == len(want)
    assert got == want  # bit-exact, no tolerance


def test_profile_stream_fold_equals_one_shot(spark, tmp_path):
    """profile_stream's applyInPandasWithState fold: folding the source
    over 3 micro-batches must end at the same per-key profile as one
    batch, with the cent-sum exact under any batch split."""
    from pyspark.sql import functions as F

    from datapipeline_spark.streaming import profile_stream

    src = str(tmp_path / "src")
    rows = [(i % 5, round(0.07 * i + (i % 3) * 10, 2)) for i in range(60)]
    df = spark.createDataFrame(rows, "user_id long, value double")
    df.repartition(3).write.parquet(src)

    stream = (
        spark.readStream.schema("user_id long, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = profile_stream(stream, ["user_id"], "value")
    q = (
        out.writeStream.format("memory")
        .queryName("prof_fold")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)

    # running emissions: keep each key's LAST (largest n_events)
    emitted = spark.table("prof_fold").toPandas()
    final = emitted.sort_values("n_events").groupby("user_id").last().reset_index()

    want = (
        df.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("total_cents"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
        .toPandas()
    )
    merged = final.merge(want, on="user_id", suffixes=("", "_want"))
    assert len(merged) == 5
    for c in ["n_events", "total_cents", "min_value", "max_value"]:
        assert (merged[c] == merged[f"{c}_want"]).all(), c


def test_near_dup_filter_stream_keeps_first_and_passes_sigless(spark, tmp_path):
    """Streaming near-dup filter: one survivor per signature; rows without a
    signature (fewer than 2 words) pass through untouched."""
    from datapipeline_spark.streaming import near_dup_filter_stream

    src = str(tmp_path / "docs")
    spark.createDataFrame(
        [
            (1, "spark dedup test alpha", "2024-01-01 10:00:00"),
            (2, "spark dedup test alpha", "2024-01-01 10:00:01"),  # exact dup
            (3, "totally different words here", "2024-01-01 10:00:02"),
            (4, "solo", "2024-01-01 10:00:03"),  # <2 words: no signature
            (5, "solo", "2024-01-01 10:00:04"),  # also sig-less: NOT deduped
            (6, "alone", "2024-01-01 10:00:03"),  # sig-less, SAME time as 4:
            # distinct short docs sharing a timestamp must both survive
        ],
        "doc_id long, text string, t string",
    ).selectExpr("doc_id", "text", "CAST(t AS TIMESTAMP) AS time").coalesce(
        1
    ).write.parquet(src)
    batch = spark.read.parquet(src)
    schema = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in batch.schema.fields)
    sdf = spark.readStream.schema(schema).parquet(src)
    out = near_dup_filter_stream(sdf, "text", watermark="1 hour", time_field="time")
    q = (
        out.writeStream.format("memory").queryName("ndup_unit")
        .outputMode("append").trigger(availableNow=True).start()
    )
    assert q.awaitTermination(120)
    rows = spark.table("ndup_unit").collect()
    ids = sorted(r.doc_id for r in rows)
    assert {3, 4, 5, 6} <= set(ids)                    # sig-less passthrough
    assert len([i for i in ids if i in (1, 2)]) == 1   # near-dup collapsed
    sigless = [r for r in rows if r.doc_id in (4, 5, 6)]
    assert all(r.minhash_sig is None for r in sigless)


def test_cusum_stream_matches_batch_across_batches(spark, tmp_path):
    """Streaming CUSUM folds (prefix, running-min) state across
    micro-batches and equals the batch window identity exactly — including
    resets (values straddle the target so the max(0, ...) clamp fires)."""
    from datapipeline_spark.operators.window import cusum
    from datapipeline_spark.streaming.ops import cusum_stream

    src = str(tmp_path / "src")
    rows = [
        (u, float(h), ((h * 37 + u * 11) % 100) / 2.0)  # 0..49.5, target 25
        for u in range(4)
        for h in range(30)
    ]
    df = spark.createDataFrame(rows, "user_id long, t double, v double").selectExpr(
        "user_id",
        "CAST(timestamp '2024-01-01' + t * INTERVAL 1 HOUR AS TIMESTAMP) AS time",
        "v",
    )
    # multiple files => multiple micro-batches with maxFilesPerTrigger=1.
    # The file source orders by modification time, so the chunks must be
    # WRITTEN sequentially in event-time order — a single
    # repartitionByRange write gives all parts the same mtime and the
    # arrival order of the batches is then arbitrary (observed reordered).
    import time as _time

    for lo, hi in ((0, 10), (10, 20), (20, 30)):
        df.filter(f"t >= {lo} AND t < {hi}").orderBy("time").coalesce(1).write.mode(
            "append"
        ).parquet(src)
        _time.sleep(1.1)

    want = {
        (r.user_id, r.time): r.c
        for r in cusum(
            df, "v", target=25.0, slack=0.0, scale=100,
            partition_by=["user_id"], out="c", order_by=["time"],
        ).collect()
    }
    stream = (
        spark.readStream.schema("user_id long, time timestamp, v double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = cusum_stream(
        stream, "v", target=25.0, entity_keys=["user_id"], out="c", order_cols=["time"]
    )
    q = (
        out.writeStream.format("memory").queryName("cusum_stream_t")
        .outputMode("append").trigger(availableNow=True).start()
    )
    assert q.awaitTermination(180)
    got = {(r.user_id, r.time): r.c for r in spark.table("cusum_stream_t").collect()}
    assert got == want and any(v == 0 for v in want.values())


def test_streaming_hll_equals_batch(spark, tmp_path):
    """The streamed register state must be bit-identical to one batch pass."""
    from datapipeline_spark.sketch.hll import hll_registers

    d = spark.range(5000).selectExpr("id % 37 AS user_id", "'t' AS event_type")
    p = str(tmp_path / "ev")
    d.coalesce(1).write.parquet(p)
    batch = spark.read.parquet(p)
    sdf = spark.readStream.schema("user_id bigint, event_type string").parquet(p)
    regs = hll_registers(sdf, "user_id", ["event_type"])
    q = (
        regs.writeStream.format("memory")
        .queryName("t_stream_hll")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    got = sorted(map(tuple, spark.table("t_stream_hll").collect()))
    want = sorted(map(tuple, hll_registers(batch, "user_id", ["event_type"]).collect()))
    assert got == want


def test_holt_stream_matches_batch_bit_exact(spark, tmp_path):
    """Streaming Holt (O(1) two-double state, multi-micro-batch) equals the
    batch array fold bit-for-bit at alpha=beta=0.5: the final streamed
    (level, trend) per key is the batch holt_linear state."""
    from datapipeline_spark.operators.holt import holt_linear
    from datapipeline_spark.streaming.ops import holt_stream

    src = str(tmp_path / "src")
    rows = [
        (u, float(h), ((h * 29 + u * 13) % 97) / 7.0 - 5.0)
        for u in range(4)
        for h in range(35)
    ]
    df = spark.createDataFrame(
        rows, "user_id long, t double, v double"
    ).selectExpr(
        "user_id",
        "CAST(timestamp '2024-01-01' + t * INTERVAL 1 HOUR AS TIMESTAMP)"
        " AS time",
        "v",
    )
    df.orderBy("time").coalesce(1).write.parquet(src)

    want = {
        r.user_id: (r.level, r.trend)
        for r in holt_linear(
            df, key_cols=["user_id"], y_col="v", order_cols=["time"]
        ).collect()
    }

    stream = (
        spark.readStream.schema("user_id long, time timestamp, v double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = holt_stream(stream, "v", entity_keys=["user_id"], order_cols=["time"])
    q = (
        out.writeStream.format("memory")
        .queryName("holt_stream_t")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)
    rows_out = spark.table("holt_stream_t").collect()
    assert len(rows_out) == len(rows)
    last = {}
    for r in sorted(rows_out, key=lambda r: (r.user_id, r.time)):
        last[r.user_id] = (r.level, r.trend)
    assert last == want  # bit-exact, no tolerance


def test_hampel_stream_matches_batch_exactly(spark, tmp_path):
    """Streaming Hampel (bounded integer buffer, multi-micro-batch)
    equals the batch window operator row for row — integer arithmetic,
    no tolerance."""
    from datapipeline_spark.operators.window import hampel
    from datapipeline_spark.streaming.ops import hampel_stream

    src = str(tmp_path / "src")
    rows = [
        (u, float(h), 90000 if h % 11 == 7 else 100 + ((h * 13 + u) % 9))
        for u in range(4)
        for h in range(40)
    ]
    df = spark.createDataFrame(
        rows, "user_id long, t double, v long"
    ).selectExpr(
        "user_id",
        "CAST(timestamp '2024-02-01' + t * INTERVAL 1 HOUR AS TIMESTAMP)"
        " AS time",
        "v",
    )
    df.orderBy("time").coalesce(1).write.parquet(src)

    want = {
        (r.user_id, r.time): r.hampel
        for r in hampel(
            df, "v", window=7, k=3, partition_by=["user_id"],
            order_by=["time"],
        ).collect()
    }
    stream = (
        spark.readStream.schema("user_id long, time timestamp, v long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = hampel_stream(stream, "v", window=7, entity_keys=["user_id"], order_cols=["time"])
    q = (
        out.writeStream.format("memory")
        .queryName("hampel_stream_t")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)
    got = {
        (r.user_id, r.time): r.hampel
        for r in spark.table("hampel_stream_t").collect()
    }
    assert got == want
