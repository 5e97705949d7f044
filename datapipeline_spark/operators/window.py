"""Per-partition ordered window transforms.

Reference semantics (SURVEY.md §2.7): every transform runs inside one series
partition over canonical `(partition, time)` order with a row-based trailing
frame. In Spark that is `Window.partitionBy(*partition_by).orderBy(*order_by)`
— Tungsten's window exec sorts within shuffle partitions; no global sort is
ever needed, so this scales linearly with partition count.

Missing = null (NaN should be normalized upstream, functions/values.py).
`min_samples` gates count *non-null values inside the row frame*, which is
exactly Spark's `count(col) OVER frame`.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F

TIME = "time"


def _nn(field: str) -> Column:
    """Null-if-NaN view of a numeric column: the reference's missing test is
    `None or NaN` (transforms/utils.py:11-16), Spark's `count`/`avg` treat
    only null as missing — this closes the gap without an extra pass."""
    c = F.col(field)
    return F.when(c.isNotNull() & ~F.isnan(c.cast("double")), c)


def canonical_window(
    partition_by: Sequence[str], order_by: Sequence[str] = (TIME,)
) -> WindowSpec:
    """Canonical per-series window (reference domain/stream.py:8-11)."""
    w = Window.partitionBy(*[F.col(c) for c in partition_by])
    return w.orderBy(*[F.col(c) for c in order_by])


def lag(
    df: DataFrame,
    field: str,
    periods: int = 1,
    partition_by: Sequence[str] = (),
    out: str | None = None,
    order_by: Sequence[str] = (TIME,),
) -> DataFrame:
    """Value `periods` rows back; null before (reference transforms/stream/lag.py:13-35)."""
    w = canonical_window(partition_by, order_by)
    return df.withColumn(out or field, F.lag(field, periods).over(w))


def lead(
    df: DataFrame,
    field: str,
    periods: int = 1,
    partition_by: Sequence[str] = (),
    out: str | None = None,
    order_by: Sequence[str] = (TIME,),
) -> DataFrame:
    """Value `periods` rows ahead; null at tail (reference transforms/stream/lead.py:13-53)."""
    w = canonical_window(partition_by, order_by)
    return df.withColumn(out or field, F.lead(field, periods).over(w))


_ROLLING_STATS = {"mean", "median", "stdev", "pstdev", "max", "min", "sum"}


def rolling_expr(
    field: str,
    window: int,
    statistic: str,
    min_samples: int | None = None,
    partition_by: Sequence[str] = (),
    order_by: Sequence[str] = (TIME,),
) -> Column:
    """Trailing `window`-row statistic, emitted only when the frame holds at
    least `min_samples` non-null values (default: a full window).

    Reference: transforms/stream/rolling.py:34-77 + rolling_window.py:28-212.
    The reference computes incrementally (Kahan sums, monotonic deques); Spark
    recomputes per frame but vectorized in the JVM — same results, and the
    frame never leaves whole-stage codegen.  stdev requires min_samples ≥ 2
    (config/transforms.py:168-177).
    """
    if statistic not in _ROLLING_STATS:
        raise ValueError(f"Unsupported rolling statistic: {statistic!r}")
    if window < 1:
        raise ValueError("rolling window must be >= 1")
    ms = window if min_samples is None else min_samples
    if statistic == "stdev" and ms < 2:
        raise ValueError("rolling stdev requires min_samples >= 2")

    w = canonical_window(partition_by, order_by).rowsBetween(-(window - 1), 0)
    c = _nn(field)
    agg = {
        "mean": F.avg(c),
        # exact median; F.median rejects window frames but percentile(0.5)
        # computes the same interpolated order statistic and is frame-capable
        "median": F.percentile(c, F.lit(0.5)),
        "stdev": F.stddev_samp(c),
        "pstdev": F.stddev_pop(c),
        "max": F.max(c),
        "min": F.min(c),
        "sum": F.sum(c),
    }[statistic]
    return F.when(F.count(c).over(w) >= F.lit(ms), agg.over(w))


def rolling(
    df: DataFrame,
    field: str,
    window: int,
    statistic: str = "mean",
    min_samples: int | None = None,
    partition_by: Sequence[str] = (),
    out: str | None = None,
    order_by: Sequence[str] = (TIME,),
) -> DataFrame:
    return df.withColumn(
        out or field,
        rolling_expr(field, window, statistic, min_samples, partition_by, order_by),
    )


def rolling_slope(
    df: DataFrame,
    x: str,
    y: str,
    window: int,
    partition_by: Sequence[str] = (),
    out: str = "slope",
    order_by: Sequence[str] = (TIME,),
) -> DataFrame:
    """OLS slope of y on x over a strict trailing window of `window` rows.

    Reference contract (transforms/stream/rolling_slope.py:15-53, engine
    transforms/rolling_slope.py:7-119): any missing (x, y) pair CLEARS the
    accumulated window — the stat restarts from scratch after a gap — and the
    slope is emitted only when `window` consecutive non-missing pairs are in
    hand.  Zero x-variance yields null here (the reference raises; validation
    is a separate action in a lazy engine).

    Spark shape: a missing-run id (`sum(missing) over unbounded preceding`)
    partitions each series into gap-free runs; because every missing row
    increments the id, a run contains at most its leading missing row, so
    `count(pair) over frame == window` is exactly the reset semantics.
    slope = covar_pop/var_pop over the frame — two shuffle-free window aggs.
    """
    # missing = None or NaN (reference transforms/utils.py:11-16)
    missing = (
        F.col(x).isNull() | F.col(y).isNull() | F.isnan(F.col(x)) | F.isnan(F.col(y))
    )
    run_id = F.sum(missing.cast("int")).over(
        canonical_window(partition_by, order_by).rowsBetween(Window.unboundedPreceding, 0)
    )
    run_col = "__slope_run__"
    with_run = df.withColumn(run_col, run_id)

    w = canonical_window([*partition_by, run_col], order_by).rowsBetween(-(window - 1), 0)
    pair_count = F.count(F.when(~missing, F.lit(1))).over(w)
    var_x = F.var_pop(F.col(x)).over(w)
    slope = F.covar_pop(F.col(x), F.col(y)).over(w) / F.nullif(var_x, F.lit(0.0))
    gated = F.when(pair_count >= F.lit(window), slope)
    return with_run.withColumn(out, gated).drop(run_col)


def rolling_corr(
    df: DataFrame,
    x: str,
    y: str,
    window: int,
    partition_by: Sequence[str] = (),
    out: str = "corr",
    order_by: Sequence[str] = (TIME,),
) -> DataFrame:
    """Pearson correlation of (x, y) over a strict trailing window — the
    natural companion to `rolling_slope` (same reference reset contract:
    any missing pair clears the window, emit only on `window` consecutive
    complete pairs; degenerate zero-variance windows yield null).

    corr = covar_pop / (stddev_pop(x) · stddev_pop(y)) over the same
    missing-run frame as rolling_slope — three shuffle-free window aggs
    sharing one Exchange+Sort with any other ops on the same window."""
    missing = (
        F.col(x).isNull() | F.col(y).isNull() | F.isnan(F.col(x)) | F.isnan(F.col(y))
    )
    run_id = F.sum(missing.cast("int")).over(
        canonical_window(partition_by, order_by).rowsBetween(Window.unboundedPreceding, 0)
    )
    run_col = "__corr_run__"
    with_run = df.withColumn(run_col, run_id)

    w = canonical_window([*partition_by, run_col], order_by).rowsBetween(-(window - 1), 0)
    pair_count = F.count(F.when(~missing, F.lit(1))).over(w)
    denom = F.stddev_pop(F.col(x)).over(w) * F.stddev_pop(F.col(y)).over(w)
    corr = F.covar_pop(F.col(x), F.col(y)).over(w) / F.nullif(denom, F.lit(0.0))
    gated = F.when(pair_count >= F.lit(window), corr)
    return with_run.withColumn(out, gated).drop(run_col)


def forward_sum(
    df: DataFrame,
    field: str,
    window: int,
    partition_by: Sequence[str] = (),
    out: str | None = None,
    order_by: Sequence[str] = (TIME,),
) -> DataFrame:
    """Sum of exactly the next `window` rows (current excluded); null if any
    of them is missing or fewer than `window` rows remain.

    Reference: transforms/stream/forward_sum.py:17-66.
    """
    w = canonical_window(partition_by, order_by).rowsBetween(1, window)
    c = _nn(field)
    full = (F.count(F.lit(1)).over(w) == window) & (F.count(c).over(w) == window)
    return df.withColumn(out or field, F.when(full, F.sum(c).over(w)))


def fill(
    df: DataFrame,
    field: str,
    window: int,
    statistic: str = "mean",
    min_samples: int = 1,
    partition_by: Sequence[str] = (),
    out: str | None = None,
    order_by: Sequence[str] = (TIME,),
) -> DataFrame:
    """Impute missing values from the mean/median of the previous `window`
    rows' non-missing values (current row excluded), gated by `min_samples`.

    Reference: transforms/stream/fill.py:26-69 — the history window counts
    rows (ticks) and min_samples counts non-missing values within them, which
    is Spark's frame + `count(col)` exactly (SURVEY.md §2.7 note).
    """
    if statistic not in ("mean", "median"):
        raise ValueError(f"Unsupported fill statistic: {statistic!r}")
    w = canonical_window(partition_by, order_by).rowsBetween(-window, -1)
    c = _nn(field)
    agg = (F.avg(c) if statistic == "mean" else F.percentile(c, F.lit(0.5))).over(w)
    gated = F.when(F.count(c).over(w) >= F.lit(min_samples), agg)
    return df.withColumn(out or field, F.coalesce(c, gated))


def forward_fill(
    df: DataFrame,
    field: str,
    partition_by: Sequence[str] = (),
    out: str | None = None,
    order_by: Sequence[str] = (TIME,),
) -> DataFrame:
    """Carry the last non-missing value forward within the partition
    (reference transforms/stream/fill.py:72-100)."""
    w = canonical_window(partition_by, order_by).rowsBetween(Window.unboundedPreceding, 0)
    return df.withColumn(out or field, F.last(_nn(field), ignorenulls=True).over(w))


def sequence_window(
    field: str,
    size: int,
    stride: int = 1,
    partition_by: Sequence[str] = (),
    order_by: Sequence[str] = (TIME,),
) -> Column:
    """The trailing `size` values of `field` as an array on each row where a
    full window is available AND the offset from series start is a stride
    multiple; NULL on every other row (a kept window is never NULL).

    Reference: pipelines/series/stages.py:32-60 (emits only full windows
    aligned to stride from the series start; state resets per series).
    """
    w_frame = canonical_window(partition_by, order_by).rowsBetween(-(size - 1), 0)
    w_rank = canonical_window(partition_by, order_by)
    # collect_list drops nulls; wrap in a struct so null slots survive
    # (sequences must keep missing elements — reference series/stages.py:32-60).
    values = F.transform(
        F.collect_list(F.struct(F.col(field).alias("v"))).over(w_frame),
        lambda s: s["v"],
    )
    rn = F.row_number().over(w_rank)
    return F.when((rn >= size) & (((rn - size) % stride) == 0), values)


def sequence_windows(
    df: DataFrame,
    field: str,
    size: int,
    stride: int = 1,
    partition_by: Sequence[str] = (),
    *,
    out: str,
    order_by: Sequence[str] = (TIME,),
) -> DataFrame:
    """Sliding fixed-size windows per partition: the rows where
    ``sequence_window`` keeps a window, each carrying it in `out`."""
    df = df.withColumn(out, sequence_window(field, size, stride, partition_by, order_by))
    return df.filter(F.col(out).isNotNull())


def ewma(
    df: DataFrame,
    field: str,
    window: int,
    decay: float = 0.5,
    partition_by: Sequence[str] = (),
    out: str = "ewma",
    order_by: Sequence[str] = (TIME,),
) -> DataFrame:
    """Exponentially-weighted moving average over a strict trailing window.

    weight of the i-th newest row = ``decay**i``; normalized by the sum of
    weights actually present (shorter frames at a partition head use the
    weights they have — pandas ``ewm(adjust=True)`` semantics, truncated to
    ``window`` rows so state never grows unboundedly).

    Beyond-reference companion to `rolling` (the reference has no
    exponentially-weighted stats). Implementation is a JVM-side array fold
    over the frame (collect_list preserves frame order under the total
    ordering contract). With ``decay=0.5`` (the default) every weight is an
    exact power of two, so scaling is exact exponent arithmetic and the
    fold is bit-identical in any engine that folds left — the property the
    DuckDB oracle relies on; other decays are engine-parity-accurate only
    to pow() ulp differences.
    """
    w = canonical_window(partition_by, order_by).rowsBetween(-(window - 1), 0)
    arr = F.collect_list(field).over(w)
    n = F.size(arr)
    d = F.lit(float(decay))
    terms = F.transform(arr, lambda x, i: x * F.pow(d, (n - 1 - i).cast("double")))
    wts = F.transform(arr, lambda x, i: F.pow(d, (n - 1 - i).cast("double")))
    fold = lambda a: F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x)  # noqa: E731
    return df.withColumn(out, fold(terms) / fold(wts))


def cusum(
    df: DataFrame,
    field: str,
    target: float,
    slack: float = 0.0,
    scale: int = 100,
    partition_by: Sequence[str] = (),
    out: str = "cusum",
    order_by: Sequence[str] = (TIME,),
) -> DataFrame:
    """One-sided CUSUM drift statistic per series (changepoint detection —
    beyond-reference companion to the rolling family; the classic
    upward-shift monitor from statistical process control, cf. Page 1954).

    s_i = max(0, s_{i-1} + (x_i - target - slack)), but the recurrence is
    NEVER evaluated row-at-a-time: with P_i the prefix sum of the deviations
    d_i = x_i - target - slack, the identity

        s_i = P_i - min(0, min_{j<=i} P_j)

    turns the reset-at-zero recurrence into TWO native window functions
    (running sum + running min) over one (partition, time) sort — the same
    single-exchange shape as every other transform here, linear at any
    scale.

    Exactness: deviations are accumulated as integers at ``scale`` units
    per 1.0 (default cents), so prefix sums are order-exact bigints and the
    statistic is bit-identical in any engine; `out` holds the integer
    statistic, `out + "_alarm"` is a threshold-free helper the caller
    compares against h*scale.
    """
    w = canonical_window(partition_by, order_by).rowsBetween(
        Window.unboundedPreceding, 0
    )
    dev = (F.round(F.col(field) * scale) - F.round(F.lit(target + slack) * scale)).cast(
        "long"
    )
    pcol = f"__{out}_prefix__"
    # two projections, ONE exchange+sort: both windows share the identical
    # partitioning/ordering, so Tungsten evaluates them in a single window
    # exec pass (plan-asserted in tests)
    staged = df.withColumn(pcol, F.sum(dev).over(w))
    stat = F.col(pcol) - F.least(
        F.lit(0).cast("long"), F.min(pcol).over(w)
    )
    return staged.withColumn(out, stat).drop(pcol)


def interpolate_linear(
    df: DataFrame,
    field: str,
    partition_by: Sequence[str] = (),
    *,
    out: str,
    order_by: Sequence[str] = (TIME,),
    round_digits: int = 6,
) -> DataFrame:
    """Linear interpolation of interior nulls by event time into column
    ``out`` — the missing member of the gap-fill family (fill =
    trailing-window impute, forward_fill = carry last; this one draws the
    line between the nearest non-null neighbors). Leading/trailing nulls
    stay null (no extrapolation).

    Shape: two frames over ONE (partition, order) sort — a trailing
    last-non-null (value + its timestamp) and a leading first-non-null —
    then a pure row expression. Time ratios are exact integer microsecond
    differences divided in double, rounded to `round_digits`; observed
    values pass through bit-untouched.
    """
    time_col = order_by[0]
    w_back = canonical_window(partition_by, order_by).rowsBetween(
        Window.unboundedPreceding, -1
    )
    w_fwd = canonical_window(partition_by, order_by).rowsBetween(
        1, Window.unboundedFollowing
    )
    v = _nn(field)
    t_us = F.unix_micros(F.col(time_col))
    prev_v = F.last(v, ignorenulls=True).over(w_back)
    prev_t = F.last(F.when(v.isNotNull(), t_us), ignorenulls=True).over(w_back)
    next_v = F.first(v, ignorenulls=True).over(w_fwd)
    next_t = F.first(F.when(v.isNotNull(), t_us), ignorenulls=True).over(w_fwd)
    ratio = (t_us - prev_t).cast("double") / (next_t - prev_t).cast("double")
    interp = F.round(prev_v + (next_v - prev_v) * ratio, round_digits)
    return df.withColumn(
        out,
        F.when(v.isNotNull(), F.col(field)).otherwise(
            F.when(prev_v.isNotNull() & next_v.isNotNull(), interp)
        ),
    )


def hampel(
    df: DataFrame,
    field: str,
    window: int,
    k: int = 3,
    min_samples: int = 3,
    partition_by: Sequence[str] = (),
    out: str = "hampel",
    order_by: Sequence[str] = (TIME,),
) -> DataFrame:
    """Hampel filter over a trailing window — the robust outlier repair
    for sensor/metric streams (replace a point that sits more than
    ``k`` MADs from the window median WITH that median; median/MAD shrug
    off the very outliers that poison mean/stddev cleaning).

    Exact-integer discipline: ``field`` must be integral; the window
    median is the LOWER median of the sorted frame (index (n+1) DIV 2,
    1-based — total, no interpolation) and MAD is the lower median of
    absolute deviations, so the replace decision ``|v − med| > k·MAD``
    is pure integer comparison — engine-exact, no distributional
    assumptions. A zero-MAD frame (majority constant) replaces ANY
    deviating point — the standard, disclosed Hampel degeneracy — and
    frames shorter than ``min_samples`` pass values through unchanged
    (the rolling-family min_samples gate: a 2-row frame has MAD 0 by
    construction and would repair every inlier). Frame materialization
    is the rolling-median collect_list cost class."""
    w = canonical_window(partition_by, order_by).rowsBetween(-(window - 1), 0)
    arr = F.sort_array(F.collect_list(F.col(field).cast("long")).over(w))
    n = F.size(arr)
    med = F.element_at(arr, ((n + 1) / 2).cast("int"))
    devs = F.sort_array(
        F.transform(arr, lambda x: F.abs(x - med))
    )
    mad = F.element_at(devs, ((n + 1) / 2).cast("int"))
    v = F.col(field).cast("long")
    return df.withColumn(
        out,
        F.when(
            (n >= F.lit(int(min_samples)))
            & (F.abs(v - med) > F.lit(int(k)) * mad),
            med,
        ).otherwise(v),
    )
