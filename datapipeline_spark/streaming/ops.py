"""Structured Streaming equivalents of the reference's stream-shaped batch ops.

Reference mapping (SURVEY.md §2.10): the reference is batch over bounded
sources but its dataflow is stream-shaped. This module provides the unbounded
versions:

| reference concept                  | here                                    |
|------------------------------------|-----------------------------------------|
| cadence bucket grouping            | tumbling `F.window(time, cadence)` agg  |
| late/duplicate data (hard errors)  | watermark + `dropDuplicatesWithinWatermark` |
| per-key generator state (rolling)  | `applyInPandasWithState` per-key state  |

Scale posture: state is partitioned by key across executors (RocksDB-backed
state store in production configs); watermarks bound state size; all
aggregations are incremental. Each op returns a streaming DataFrame — callers
pick the sink/trigger (tests use file source + availableNow + memory sink).
"""

from __future__ import annotations

from typing import Iterable, Sequence

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from datapipeline_spark.functions.time import (
    parse_cadence_seconds,
    parse_timecode_seconds,
)


def stream_jsonl_source(
    spark: SparkSession,
    path: str,
    schema: str,
) -> DataFrame:
    """File-based streaming source (new files under `path` become batches).
    Schema is mandatory — streaming reads never infer (plan stability)."""
    return spark.readStream.schema(schema).json(path)


def dedupe_stream(
    sdf: DataFrame,
    keys: Sequence[str],
    watermark: str = "1 hour",
    time_field: str = "time",
) -> DataFrame:
    """Drop duplicate `(keys)` rows arriving within the watermark horizon.

    The reference fails hard on duplicates (alignment/engine.py:56-65); a
    stream can't fail on late arrivals, so the streaming contract is
    watermarked dedup — state size stays bounded by the watermark.
    """
    return sdf.withWatermark(time_field, watermark).dropDuplicatesWithinWatermark(
        [*keys, time_field]
    )


def cadence_assembly_stream(
    sdf: DataFrame,
    cadence: str,
    entity_keys: Sequence[str],
    value_cols: Sequence[str],
    watermark: str = "1 hour",
    time_field: str = "time",
) -> DataFrame:
    """Streaming sample assembly: tumbling cadence window per entity with
    last-by-time per value column (batch analogue: dataset/sample.py
    `assemble_samples`). Watermark closes buckets so append-mode sinks emit
    exactly one final row per (bucket, entity)."""
    seconds = parse_cadence_seconds(cadence)
    w = F.window(F.col(time_field), f"{seconds} seconds")
    aggs = [F.max_by(F.col(c), F.col(time_field)).alias(c) for c in value_cols]
    return (
        sdf.withWatermark(time_field, watermark)
        .groupBy(w.alias("bucket"), *entity_keys)
        .agg(*aggs)
        .select(F.col("bucket.start").alias("time"), *entity_keys, *value_cols)
    )


def rolling_mean_stream(
    sdf: DataFrame,
    field: str,
    window: int,
    entity_keys: Sequence[str],
    out: str = "rolling_mean",
    *,
    min_samples: int,
    order_cols: Sequence[str],
) -> DataFrame:
    """Per-key trailing `window`-row mean over event-time order — the
    streaming form of operators/window.rolling (reference
    transforms/stream/rolling.py:34-77), implemented with
    `applyInPandasWithState`: state = last `window` values per key, exactly
    the reference's per-partition generator state made distributed/durable.

    Rows within one micro-batch are processed in ``order_cols`` order
    (the registry query breaks time ties by event_id); across batches
    arrival order applies. Per-key state has no timeout: a key's last
    `window` values stay in the state store for the life of the query.
    """
    payload = [c for c in sdf.columns]
    sort_cols = list(order_cols)
    out_schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in sdf.schema.fields
    ) + f", `{out}` double"
    state_schema = "values array<double>"

    def fn(
        key: tuple, pdf_iter: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        if state.exists:
            (buf,) = state.get
            buf = list(buf)
        else:
            buf = []
        for pdf in pdf_iter:
            pdf = pdf.sort_values(sort_cols)
            means = []
            for v in pdf[field]:
                buf.append(None if pd.isna(v) else float(v))
                if len(buf) > window:
                    buf.pop(0)
                present = [x for x in buf if x is not None]
                means.append(
                    sum(present) / len(present)
                    if len(present) >= min_samples
                    else None
                )
            pdf = pdf.copy()
            pdf[out] = pd.Series(means, index=pdf.index, dtype="float64")
            yield pdf[payload + [out]]
        state.update((buf,))

    return sdf.groupBy(*entity_keys).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def interval_join_stream(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
    lookback: str,
    time_field: str = "time",
    right_suffix: str = "_r",
    watermark: str = "1 hour",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream join: pair each left row with right rows sharing
    `keys` whose time falls in ``[left.time - lookback, left.time]``.

    The unbounded analogue of the reference's alignment joins (SURVEY.md §2.5
    align/broadcast — batch, exact-key) generalized to a time interval: both
    sides carry watermarks, and the time-range predicate lets Spark expire
    buffered rows once the watermark passes `lookback`, so join state is
    bounded. Inner-join results emit as soon as both sides match — no
    watermark-close wait. All non-key right columns are suffixed with
    `right_suffix`.

    ``how`` may be "inner" or "leftOuter". Outer results (left rows with no
    match) are held back until the watermark passes their window, so in a
    bounded run the tail of the stream only flushes if something advances
    the watermark beyond it — append a heartbeat/punctuation row past
    ``max(time) + lookback + watermark`` (and filter it from the output) to
    drain the state deterministically.
    """
    if how not in ("inner", "leftOuter"):
        raise ValueError(f"interval_join_stream supports inner/leftOuter, got {how!r}")
    lb_s = parse_timecode_seconds(lookback)
    l = left.withWatermark(time_field, watermark)
    renames = {
        c: c + right_suffix for c in right.columns if c not in keys
    }
    r = right.withColumnsRenamed(renames).withWatermark(
        time_field + right_suffix, watermark
    )
    rt = F.col(time_field + right_suffix)
    join_cond = (
        rt >= F.col(time_field) - F.expr(f"INTERVAL {lb_s} SECONDS")
    ) & (rt <= F.col(time_field))
    for k in keys:
        join_cond = join_cond & (l[k] == r[k])
    out = l.join(r, join_cond, how)
    # drop the duplicate key columns from the right side
    for k in keys:
        out = out.drop(r[k])
    return out


def sessionize_stream(
    sdf: DataFrame,
    gap: str,
    entity_keys: Sequence[str],
    time_field: str = "time",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming sessionization — the unbounded form of operators/asof.py
    `sessionize`, using Spark's native ``session_window`` aggregation: a
    session extends while events arrive within `gap` (timecode) of its end,
    and closes (emits one row) once the watermark passes session_end.

    Built-in incremental session state (no Python in the loop); state per
    open session only, bounded by the watermark. Output: (keys...,
    session_start, session_end, n_events) where session_end is last event
    time + gap, matching Spark's session-window semantics.
    """
    gap_s = parse_timecode_seconds(gap)
    return (
        sdf.withWatermark(time_field, watermark)
        .groupBy(
            *entity_keys,
            F.session_window(F.col(time_field), f"{gap_s} seconds"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            *entity_keys,
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )


def cdc_upsert_sink(path: str, keys, seq, op_col: str = "op", delete_op: str = "D"):
    """foreachBatch CDC consumer: fold each micro-batch of changes into a
    materialized latest-state table (the Delta/Iceberg ``MERGE INTO``
    pattern, expressed on plain parquet).

    Each trigger applies :func:`datapipeline_spark.operators.cdc.
    apply_changes` — snapshot ⊕ batch — and swaps the state directory via a
    staging write + Hadoop FileSystem rename (never overwriting a directory
    that is still being read; works on any FS the path's scheme resolves
    to). The state RETAINS tombstones (winning deletes, with ``op_col``):
    per-key ordering is only guaranteed within a source partition, so a
    late micro-batch can carry an upsert OLDER than an applied delete —
    without the tombstone it would resurrect the key. With tombstones the
    fold is associative (last-writer-wins by ``seq``), so folding N
    micro-batches equals one batch apply, which the test asserts. Read the
    live state with :func:`read_cdc_state`. On a transactional table format
    this whole function collapses to ``MERGE INTO`` per batch (with the
    format's own tombstone retention).

    Returns the function to pass to ``writeStream.foreachBatch``.
    """
    from datapipeline_spark.operators.cdc import apply_changes

    def process(batch_df, batch_id: int) -> None:
        spark = batch_df.sparkSession
        jvm = spark._jvm
        conf = spark._jsc.hadoopConfiguration()
        state = jvm.org.apache.hadoop.fs.Path(path)
        fs = state.getFileSystem(conf)
        if fs.exists(state):
            snap = spark.read.parquet(path)
        else:
            snap = spark.createDataFrame([], batch_df.schema)
        merged = apply_changes(
            snap, batch_df, keys, seq, op_col, delete_op, keep_tombstones=True
        )
        staging = path.rstrip("/") + f".staging-{batch_id}"
        merged.write.mode("overwrite").parquet(staging)
        fs.delete(state, True)
        fs.rename(jvm.org.apache.hadoop.fs.Path(staging), state)

    return process


def read_cdc_state(spark, path: str, op_col: str = "op", delete_op: str = "D"):
    """Live rows of a :func:`cdc_upsert_sink` state table (tombstones
    filtered, op column dropped)."""
    from pyspark.sql import functions as F

    st = spark.read.parquet(path)
    return st.filter(F.col(op_col) != delete_op).drop(op_col)


def ewma_stream(
    sdf: DataFrame,
    field: str,
    window: int,
    entity_keys: Sequence[str],
    decay: float = 0.5,
    out: str = "ewma",
    *,
    order_cols: Sequence[str],
) -> DataFrame:
    """Per-key truncated EWMA over event-time order — the streaming form of
    operators/window.ewma, via `applyInPandasWithState` (state = last
    `window` values per key, bounded). The fold runs the identical IEEE
    double operations as the batch JVM array fold (oldest→newest, acc from
    0.0), so with decay 0.5 (exact powers of two) streaming == batch
    bit-for-bit — asserted in tests/test_streaming.py."""
    payload = [c for c in sdf.columns]
    sort_cols = list(order_cols)
    out_schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in sdf.schema.fields
    ) + f", `{out}` double"
    state_schema = "values array<double>"

    def fn(
        key: tuple, pdf_iter: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        buf = list(state.get[0]) if state.exists else []
        for pdf in pdf_iter:
            pdf = pdf.sort_values(sort_cols)
            res = []
            for v in pdf[field]:
                buf.append(float(v))
                if len(buf) > window:
                    buf.pop(0)
                n = len(buf)
                num = 0.0
                den = 0.0
                for i, x in enumerate(buf):  # oldest -> newest, as the batch fold
                    w = decay ** float(n - 1 - i)
                    num = num + x * w
                    den = den + w
                res.append(num / den)
            pdf = pdf.copy()
            pdf[out] = pd.Series(res, index=pdf.index, dtype="float64")
            yield pdf[payload + [out]]
        state.update((buf,))

    return sdf.groupBy(*entity_keys).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def profile_stream(
    sdf: DataFrame,
    entity_keys: Sequence[str],
    value_field: str = "value",
) -> DataFrame:
    """Per-key running profile (count / exact-cent sum / min / max) via
    `applyInPandasWithState`. Emits ONE profile row per key per
    micro-batch (running totals), so with a single availableNow batch the
    batch aggregate is an exact oracle, and across batches the last
    emission folds to the one-shot result (tested). The sum accumulates
    integer cents in state — exact in any batch split; min/max are moved
    doubles.

    State is one fixed-width tuple per key, partitioned across executors:
    bounded by key cardinality, not data volume."""
    keys = list(entity_keys)
    key_fields = [f for f in sdf.schema.fields if f.name in keys]
    out_schema = (
        ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in key_fields)
        + ", `n_events` bigint, `total_cents` bigint,"
        + " `min_value` double, `max_value` double"
    )

    def fn(
        key: tuple, pdf_iter: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        n, s, mn, mx = state.get if state.exists else (0, 0, None, None)
        for pdf in pdf_iter:
            vals = pdf[value_field].astype("float64")
            n += int(len(vals))
            # exact integer cents, like the batch convention: round half
            # away handled identically because inputs are 2-dp doubles
            s += int((vals * 100).round().astype("int64").sum())
            bmn = float(vals.min())
            bmx = float(vals.max())
            mn = bmn if mn is None or bmn < mn else mn
            mx = bmx if mx is None or bmx > mx else mx
        state.update((n, s, mn, mx))
        yield pd.DataFrame(
            {
                **{k: [kv] for k, kv in zip(keys, key)},
                "n_events": [n],
                "total_cents": [s],
                "min_value": [mn],
                "max_value": [mx],
            }
        )

    return sdf.groupBy(*keys).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType="n bigint, s bigint, mn double, mx double",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def near_dup_filter_stream(
    sdf: DataFrame,
    text_col: str = "text",
    watermark: str = "1 hour",
    time_field: str = "time",
    shingle_words: int = 2,
) -> DataFrame:
    """Ingest-time streaming near-dup filter: per-ROW minhash signature
    (dedup/minhash.row_minhash — a pure map, legal in append mode where a
    per-doc aggregation is not) + watermarked first-occurrence dedup on the
    signature. Documents whose full signature was already seen within the
    watermark horizon are dropped — the streaming face of the batch
    MinHash dedup pipeline, with state bounded by (watermark window ×
    distinct-signature rate), not corpus size. Signature-less rows (fewer
    than `shingle_words` words) pass through untouched: they cannot be
    near-dups, and silently dropping them would lose data.
    """
    from datapipeline_spark.dedup.minhash import MinHashParams, row_minhash

    sig = row_minhash(
        sdf, text_col, MinHashParams(), shingle_words, out="minhash_sig"
    ).withWatermark(time_field, watermark)
    # Split, don't fabricate a key: routing signature-less rows through the
    # dedup with any shared fallback key (e.g. '∅'+event-time) would
    # deduplicate two DISTINCT short documents that share a timestamp.
    # They bypass the stateful operator entirely — truly untouched, and
    # the dedup state stays signature-only.
    with_sig = sig.filter(F.col("minhash_sig").isNotNull())
    no_sig = sig.filter(F.col("minhash_sig").isNull())
    return with_sig.dropDuplicatesWithinWatermark(["minhash_sig"]).unionByName(
        no_sig
    )


def cusum_stream(
    sdf: DataFrame,
    field: str,
    target: float,
    entity_keys: Sequence[str],
    slack: float = 0.0,
    scale: int = 100,
    out: str = "cusum",
    *,
    order_cols: Sequence[str],
) -> DataFrame:
    """Per-key streaming CUSUM — the streaming form of
    operators/window.cusum, via `applyInPandasWithState`.

    State per key is TWO integers (prefix sum and its running minimum) —
    the same prefix-sum/running-min identity the batch operator uses, so
    state is O(1) per key regardless of stream length, and the emitted
    statistic is the identical exact bigint: streaming == batch
    bit-for-bit under event-time order (asserted in tests). Deviations
    accumulate as integers at `scale` units per 1.0.
    """
    payload = [c for c in sdf.columns]
    sort_cols = list(order_cols)
    out_schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in sdf.schema.fields
    ) + f", `{out}` bigint"
    state_schema = "prefix bigint, run_min bigint"

    def _half_up(x: float) -> int:
        # Spark's round() is HALF_UP away from zero; Python round() is
        # banker's — match Spark exactly so streaming == batch on .5 ties
        import math

        return int(math.copysign(math.floor(abs(x) * scale + 0.5), x))

    t9 = _half_up(target + slack)

    def fn(
        key: tuple, pdf_iter: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        prefix, run_min = state.get if state.exists else (0, 0)
        for pdf in pdf_iter:
            pdf = pdf.sort_values(sort_cols)
            stats = []
            for v in pdf[field]:
                prefix += _half_up(float(v)) - t9
                run_min = min(run_min, prefix)
                stats.append(prefix - min(0, run_min))
            pdf = pdf.copy()
            pdf[out] = pd.Series(stats, index=pdf.index, dtype="int64")
            yield pdf[payload + [out]]
        state.update((prefix, run_min))

    return sdf.groupBy(*entity_keys).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def holt_stream(
    sdf: DataFrame,
    field: str,
    entity_keys: Sequence[str],
    alpha: float = 0.5,
    beta: float = 0.5,
    *,
    order_cols: Sequence[str],
) -> DataFrame:
    """Per-key Holt linear-trend fold over event-time order — the streaming
    form of operators/holt.holt_linear, via `applyInPandasWithState`. State
    is O(1) per key (level, trend, count — never a buffer: the recurrence
    is fully summarized by its two-double state, the property that makes
    Holt the canonical streaming forecaster). The Python fold performs the
    identical IEEE double operations as the batch JVM array fold, so with
    α=β=½ (exact power-of-two scalings) streaming == batch bit-for-bit."""
    payload = [c for c in sdf.columns]
    sort_cols = list(order_cols)
    out_schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in sdf.schema.fields
    ) + ", `level` double, `trend` double"
    state_schema = "l double, b double, n bigint"

    def fn(
        key: tuple, pdf_iter: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        if state.exists:
            l, b, n = state.get
        else:
            l, b, n = 0.0, 0.0, 0
        for pdf in pdf_iter:
            pdf = pdf.sort_values(sort_cols)
            levels, trends = [], []
            for v in pdf[field]:
                y = float(v)
                if n == 0:
                    l, b = y, 0.0
                else:
                    l_new = alpha * y + (1.0 - alpha) * (l + b)
                    b = beta * (l_new - l) + (1.0 - beta) * b
                    l = l_new
                n += 1
                levels.append(l)
                trends.append(b)
            pdf = pdf.copy()
            pdf["level"] = pd.Series(levels, index=pdf.index, dtype="float64")
            pdf["trend"] = pd.Series(trends, index=pdf.index, dtype="float64")
            yield pdf[payload + ["level", "trend"]]
        state.update((l, b, n))

    return sdf.groupBy(*entity_keys).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def hampel_stream(
    sdf: DataFrame,
    field: str,
    window: int,
    entity_keys: Sequence[str],
    *,
    order_cols: Sequence[str],
) -> DataFrame:
    """Per-key streaming Hampel repair — the streaming form of
    operators/window.hampel via `applyInPandasWithState`: state is the
    last ``window − 1`` integer values (bounded buffer, like
    ewma_stream). Lower median / lower MAD over the trailing frame are
    pure integer selections, so streaming output EQUALS the batch
    operator row for row — no float folds at all. A value is repaired
    when it lies more than 3 MADs from the median of a frame of at least
    3 values (the batch operator's k=3, min_samples=3)."""
    payload = [c for c in sdf.columns]
    sort_cols = list(order_cols)
    out_schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in sdf.schema.fields
    ) + ", `hampel` bigint"
    state_schema = "values array<long>"

    def fn(
        key: tuple, pdf_iter: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        buf = list(state.get[0]) if state.exists else []
        for pdf in pdf_iter:
            pdf = pdf.sort_values(sort_cols)
            res = []
            for v in pdf[field]:
                v = int(v)
                buf.append(v)
                if len(buf) > window:
                    buf.pop(0)
                frame = sorted(buf)
                n = len(frame)
                med = frame[(n + 1) // 2 - 1]
                mad = sorted(abs(x - med) for x in frame)[(n + 1) // 2 - 1]
                res.append(
                    med if n >= 3 and abs(v - med) > 3 * mad else v
                )
            pdf = pdf.copy()
            pdf["hampel"] = pd.Series(res, index=pdf.index, dtype="int64")
            yield pdf[payload + ["hampel"]]
        state.update((buf,))

    return sdf.groupBy(*entity_keys).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
