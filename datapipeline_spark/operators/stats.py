"""Grouped Spearman rank correlation — monotonic-association analytics the
reference's linear pipeline has no analogue for (its statistics stop at the
Welford scaler, src/datapipeline/pipelines/dataset/scaler.py).

Spearman = Pearson on fractional ranks. Implemented Spark-first with the
repo's exact-integer discipline so the result is cross-engine
deterministic and oracle-checkable:

- fractional (average) ranks are carried DOUBLED — ``2*rank_min + ties - 1``
  — which is always an exact bigint (scaling both variables by 2 leaves
  correlation unchanged), so every per-group sum (Σx, Σy, Σx², Σy², Σxy)
  is exact integer arithmetic, order- and partition-invariant;
- the Pearson combination ``(nΣxy - ΣxΣy) / sqrt(nΣx² - (Σx)²) /
  sqrt(nΣy² - (Σy)²)`` runs in decimal(38,0) (HUGEINT on the oracle side)
  — products of 10^16-scale sums stay exact — and only then drops to
  double for sqrt/divide; sqrt is IEEE-correctly-rounded (unlike libm
  ln/exp), so the final rounded value hash-matches the SQL oracle.

Plan shape: one hash exchange on the group key feeds two in-partition
sorts (ranks for x and y from _rank2, the one rank kernel the rank-based
operators share; tie counts ride the same sorts), then one
map-side-combined aggregate. No joins, no collects.
"""

from __future__ import annotations

import math
from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from datapipeline_spark.operators.rank import prefix_scan

_D = "decimal(38,0)"

#: hi/lo split point for _xsum: both partial sums stay in int64 for
#: |x| < 2^62 and up to 2^32 rows per group
_XB = 31


def _xsum(x: F.Column) -> F.Column:
    """Exact Σx (as decimal(38,0)) of an int64 expression via TWO long
    accumulators instead of one decimal accumulator (round-7 opt, guide
    §2.3 — the entry-18 probe measured decimal(38,0) accumulation at
    ~5-10x a codegen long sum, and it also shuffles 16-byte partial
    states where two longs pack the same information exactly).

    x == (x >> b)·2^b + (x & (2^b − 1)) in two's complement for ANY
    int64 x (arithmetic shift = floor division, mask = non-negative
    remainder), so Σx = 2^b·Σhi + Σlo with the recombination exact in
    decimal. Bounds with b=31: |x| < 2^62 keeps |hi| < 2^31, so both
    Σhi and Σlo stay inside int64 for up to 2^32 (~4.3e9) rows per
    group; ANSI mode raises ARITHMETIC_OVERFLOW beyond, never silently
    wrong (_widesum is the unbounded decimal path)."""
    lo = x.bitwiseAND(F.lit((1 << _XB) - 1))
    hi = F.shiftright(x, _XB)
    return F.sum(hi).cast(_D) * F.lit(1 << _XB).cast(_D) + F.sum(lo).cast(_D)


def _sumprod(a: F.Column, b: F.Column) -> F.Column:
    """Exact Σ(a·b) for integer columns. The per-row product runs in
    native int64 — whole-stage-codegen multiply, ~10x cheaper than
    decimal(38)'s BigDecimal path — and the accumulation is the two-long
    _xsum, exact for |a·b| < 2^62 (|v| ≲ 2.1e9 when squaring —
    cents-scale business values sit at ~1e7) and ≤ 2^32 rows per group;
    ANSI mode raises ARITHMETIC_OVERFLOW on violation, never silently
    wrong."""
    return _xsum(a.cast("long") * b.cast("long"))


def _widesum(a: F.Column, b: F.Column) -> F.Column:
    """Exact Σ(a·b) that multiplies AND accumulates in decimal(38,0):
    unbounded magnitude at ~10x _sumprod's per-row cost."""
    return F.sum(a.cast(_D) * b.cast(_D))


def _rank2(groups: Sequence[str], col: str) -> tuple[F.Column, F.Column]:
    """The stats family's one rank kernel: ``(r2, t)`` for ``col`` per
    ``groups``. r2 is the doubled fractional rank 2*rank + ties - 1 =
    rank_min + rank_max (exact bigint) and t the size of the row's tie
    block. rank_max comes from a RANGE-frame count over the SAME window
    sort (peers of the current value are all inside the frame), so one
    (groups)-keyed exchange + one in-partition sort serves both:
    r2 = rank + cnt_le and t = cnt_le - rank + 1. NULL groups rank as
    their own partition; NULL values rank first as one tie block."""
    w = Window.partitionBy(*groups).orderBy(col)
    wr = w.rangeBetween(Window.unboundedPreceding, Window.currentRow)
    rk = F.rank().over(w).cast("long")
    cle = F.count(F.lit(1)).over(wr).cast("long")
    return rk + cle, cle - rk + 1


def spearman_corr(
    df: DataFrame,
    x: str,
    y: str,
    groups: Sequence[str] = (),
    out: str = "spearman",
) -> DataFrame:
    """Per-group Spearman rank correlation of ``x`` vs ``y`` (average ranks
    for ties). Output: groups + (n, <out>), corr rounded to 6 decimals.

    Doubled ranks are ≤ 2n, so per-row rank PRODUCTS fit _sumprod's
    int64 path up to ~1.0e9 rows per group; the SUMS of those products
    reach 4n³ — past bigint at ~1.3M rows per group (caught by the sf1 rehearsal, ANSI overflow) — so
    accumulation is the exact two-long _xsum recombined in decimal(38,0),
    order- and partition-invariant.

    Both ranks come from _rank2 windows over the same (groups) partitioning:
    one group-keyed exchange, two in-partition sorts (one per column). Each
    group sorts in one task — the cost ceiling when groups are few and
    large."""
    gx = list(groups)
    d = df.select(*gx, _rank2(gx, x)[0].alias("rx"), _rank2(gx, y)[0].alias("ry"))
    rx, ry = F.col("rx"), F.col("ry")
    a = d.groupBy(*gx).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        _xsum(rx).alias("sx"),
        _xsum(ry).alias("sy"),
        _sumprod(rx, rx).alias("sxx"),
        _sumprod(ry, ry).alias("syy"),
        _sumprod(rx, ry).alias("sxy"),
    )
    n, sx, sy, sxx, syy, sxy = [
        F.col(c).cast(_D) for c in ("n", "sx", "sy", "sxx", "syy", "sxy")
    ]
    num = (n * sxy - sx * sy).cast("double")
    vx = (n * sxx - sx * sx).cast("double")
    vy = (n * syy - sy * sy).cast("double")
    # a constant column (zero rank variance) leaves correlation undefined:
    # NULL, not a divide-by-zero (ANSI) or NaN
    corr = F.when(
        (vx == 0) | (vy == 0), F.lit(None).cast("double")
    ).otherwise(F.round(num / (F.sqrt(vx) * F.sqrt(vy)), 6))
    return a.select(*gx, F.col("n"), corr.alias(out))


def hhi(
    df: DataFrame,
    value: str,
    groups: Sequence[str] = (),
    out: str = "hhi",
) -> DataFrame:
    """Herfindahl-Hirschman concentration index per group: sum of squared
    value shares, in (1/n, 1]. ``value`` must be an exact-integer column
    (cents — the repo-wide convention): HHI = Σv² / (Σv)² is then a ratio
    of exact decimal(38,0) sums, and the single double division is
    IEEE-deterministic, so the rounded index hash-matches a SQL oracle.
    One aggregation; no sort."""
    gx = list(groups)
    a = df.groupBy(*gx).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        _xsum(F.col(value).cast("long")).alias("sv"),
        _sumprod(F.col(value), F.col(value)).alias("svv"),
    )
    ratio = F.col("svv").cast("double") / (F.col("sv") * F.col("sv")).cast("double")
    return a.select(
        *gx,
        F.col("n"),
        F.when(F.col("sv") == 0, F.lit(None).cast("double"))
        .otherwise(F.round(ratio, 6))
        .alias(out),
    )


def pearson_corr(
    df: DataFrame,
    x: str,
    y: str,
    groups: Sequence[str] = (),
    out: str = "pearson",
    wide: bool = False,
    prereduce: bool = False,
) -> DataFrame:
    """Per-group Pearson correlation of exact-integer columns, the signed
    companion to ols' r²: r = (nΣxy − ΣxΣy) / (√(nΣx²−(Σx)²)·√(nΣy²−(Σy)²))
    with all five sums exact decimal(38,0) from ONE map-side-combined
    aggregate and the same correctly-rounded sqrt/divide chain as
    spearman_corr (which is this function on doubled ranks). Output:
    groups + (n, <out>) rounded to 6 decimals; NULL when either variance
    is zero. Per-row products run in int64 (see _sumprod — |v| ≲ 3e9);
    ``wide=True`` takes _widesum's decimal products instead, for series
    whose magnitude grows with data volume (autocorr, cross_correlation).

    ``prereduce=True`` (round-7 opt, guide §2.3 partial aggregation):
    when the JOINT (x, y) value domain is small (categorical/quantized
    regressors — quantities, percent fields), first reduce to the
    (groups, x, y) frequency table, then combine the five sufficient
    statistics as Σ value·freq. Every sum is EXACTLY the per-row sum
    (Σ_rows f(x,y) ≡ Σ_values freq·f(x,y), NULL keys group separately so
    per-column NULL skipping is preserved), but the decimal(38,0)
    accumulation — ~10x a codegen long op — runs over distinct value
    combinations instead of rows, and the second exchange carries the
    frequency table. NOT for continuous domains: joint cardinality ~rows
    adds an exchange for nothing."""
    gx = list(groups)
    xc, yc = F.col(x), F.col(y)
    if prereduce:
        g = df.groupBy(*gx, x, y).agg(F.count(F.lit(1)).cast("long").alias("__c"))
        xd, yd, cd = xc.cast(_D), yc.cast(_D), F.col("__c").cast(_D)
        a = g.groupBy(*gx).agg(
            F.sum("__c").cast("long").alias("n"),
            F.sum(xd * cd).alias("sx"),
            F.sum(yd * cd).alias("sy"),
            F.sum(xd * xd * cd).alias("sxx"),
            F.sum(yd * yd * cd).alias("syy"),
            F.sum(xd * yd * cd).alias("sxy"),
        )
    else:
        sp = _widesum if wide else _sumprod
        a = df.groupBy(*gx).agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            _xsum(xc).alias("sx"),
            _xsum(yc).alias("sy"),
            sp(xc, xc).alias("sxx"),
            sp(yc, yc).alias("syy"),
            sp(xc, yc).alias("sxy"),
        )
    n = F.col("n").cast(_D)
    num = (n * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    vx = (n * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    vy = (n * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    corr = F.when((vx == 0) | (vy == 0), F.lit(None).cast("double")).otherwise(
        F.round(num / (F.sqrt(vx) * F.sqrt(vy)), 6)
    )
    return a.select(*gx, F.col("n"), corr.alias(out))


def autocorr(
    df: DataFrame,
    value: str,
    lag: int,
    groups: Sequence[str] = (),
    order_by: str = "time",
    out: str = "acf",
) -> DataFrame:
    """Per-group autocorrelation at ``lag``: Pearson correlation between
    the series and its lag-k self over the overlap rows (the standard
    sample ACF up to the mean convention — per-overlap means, which makes
    it exactly a Pearson pair and keeps every sum exact-integer).
    One window (group-keyed exchange + in-partition sort) then the
    pearson_corr aggregate. ``value`` must be an exact-integer column.

    Products take pearson_corr's ``wide=True`` decimal path: autocorr runs
    on series whose magnitude GROWS with data volume (daily/periodic
    SUMS: 10x the rows is 10x the value, so the int64 path's |v| ≲ 3e9
    squaring bound trips ANSI overflow — observed at sf1 on daily
    revenue cents)."""
    gx = list(groups)
    w = Window.partitionBy(*gx).orderBy(order_by)
    d = (
        df.select(*gx, F.col(value).alias("__y"), F.lag(value, lag).over(w).alias("__yl"))
        .filter(F.col("__yl").isNotNull())
    )
    return pearson_corr(d, "__yl", "__y", gx, out=out, wide=True)


def chi_square(df: DataFrame, x: str, y: str) -> DataFrame:
    """Chi-square test of independence between two categorical columns.

    Output: one row — (n, r, c, dof, chi2). The contingency table is one
    map-side-combined groupBy on (x, y); row/column/grand totals are window
    sums over the tiny cell table (≤ r*c rows — no joins, no second scan).
    Uses the identity χ² = Σ O²·N/(R·C) − N, which is exact even when some
    (x, y) combinations never occur (absent cells contribute 0 to the sum
    but E = RC/N to the textbook form — the identity absorbs them).
    Exactness discipline: O²·N and R·C stay exact in decimal(38,0)
    (HUGEINT on the oracle side), one IEEE division per cell, then each
    cell term is fixed to integer micro-units (floor(t*1e6 + 0.5)) so the
    cross-cell SUM is exact integer arithmetic — order- and
    engine-invariant — and only the final /1e6 − N touches float.
    The reference has no statistical-test surface (its stats stop at the
    Welford scaler, src/datapipeline/pipelines/dataset/scaler.py)."""
    cells = df.groupBy(x, y).agg(F.count(F.lit(1)).cast("long").alias("o"))
    wr = Window.partitionBy(x)
    wc = Window.partitionBy(y)
    wa = Window.partitionBy()
    t = cells.select(
        F.col(x),
        F.col(y),
        F.col("o").cast(_D).alias("o"),
        F.sum("o").over(wr).cast(_D).alias("r_tot"),
        F.sum("o").over(wc).cast(_D).alias("c_tot"),
        F.sum("o").over(wa).cast(_D).alias("n_tot"),
    )
    num = (F.col("o") * F.col("o") * F.col("n_tot")).cast("double")
    den = (F.col("r_tot") * F.col("c_tot")).cast("double")
    micro = F.floor(num / den * 1e6 + F.lit(0.5)).cast("long")
    agg = t.agg(
        F.max(F.col("n_tot").cast("long")).alias("n"),
        F.count_distinct(F.col(x)).cast("long").alias("r"),
        F.count_distinct(F.col(y)).cast("long").alias("c"),
        ((F.count_distinct(F.col(x)) - 1) * (F.count_distinct(F.col(y)) - 1))
        .cast("long")
        .alias("dof"),
        (
            F.sum(micro).cast("double") / 1e6 - F.max(F.col("n_tot")).cast("double")
        ).alias("_chi2"),
    )
    # Cramér's V = sqrt(chi2 / (n * min(r-1, c-1))) in [0, 1] — effect size
    # alongside the raw statistic; one more correctly-rounded sqrt chain
    vden = (
        F.col("n").cast("double")
        * F.least(F.col("r") - 1, F.col("c") - 1).cast("double")
    )
    return agg.select(
        "n",
        "r",
        "c",
        "dof",
        F.round(F.col("_chi2"), 6).alias("chi2"),
        F.when(F.col("dof") == 0, F.lit(None).cast("double"))
        .otherwise(F.round(F.sqrt(F.greatest(F.col("_chi2"), F.lit(0.0)) / vden), 6))
        .alias("cramers_v"),
    )


def ols(
    df: DataFrame,
    x: str,
    y: str,
    groups: Sequence[str] = (),
    prereduce: bool = False,
) -> DataFrame:
    """Per-group simple linear regression (OLS): slope, intercept, r2.

    ``x`` and ``y`` must be exact-integer columns (cast/scale upstream —
    the repo-wide cents convention). All five sufficient statistics
    (Σx, Σy, Σx², Σy², Σxy) are exact decimal(38,0) sums from ONE
    map-side-combined aggregation — no sort, no second pass, trivially
    100 TB-parallel. The combination drops to double only at the end:
    cov = n·Σxy − ΣxΣy and var_x = n·Σx² − (Σx)² stay exact in decimal,
    then slope = cov/var_x, intercept = (Σy − slope·Σx)/n and
    r² = cov²/(var_x·var_y) are short IEEE chains (+,−,*,/ are correctly
    rounded) so the rounded outputs hash-match a SQL oracle. Per-row
    products run in int64 (see _sumprod).

    ``prereduce=True`` (round-7 opt, guide §2.3): for a LOW-CARDINALITY
    regressor x (categorical/quantized — y may stay continuous), first
    reduce to the (groups, x) table carrying (count, Σy, Σy²), then
    combine: sx = Σx·c, sxx = Σx²·c, sxy = Σx·(Σy per x). Exactly the
    per-row sums (Σ_rows f ≡ Σ_x freq-weighted f; NULL x groups
    separately, preserving per-column NULL skipping), with per-row
    decimal accumulations cut from five to two (Σy, Σy²). NOT for
    continuous x: joint cardinality ~rows adds an exchange for nothing."""
    gx = list(groups)
    xc, yc = F.col(x), F.col(y)
    if prereduce:
        g = df.groupBy(*gx, x).agg(
            F.count(F.lit(1)).cast("long").alias("__c"),
            _xsum(yc).alias("__gy"),
            _sumprod(yc, yc).alias("__gyy"),
        )
        xd, cd = xc.cast(_D), F.col("__c").cast(_D)
        a = g.groupBy(*gx).agg(
            F.sum("__c").cast("long").alias("n"),
            F.sum(xd * cd).alias("sx"),
            F.sum("__gy").alias("sy"),
            F.sum(xd * xd * cd).alias("sxx"),
            F.sum("__gyy").alias("syy"),
            F.sum(xd * F.col("__gy")).alias("sxy"),
        )
    else:
        a = df.groupBy(*gx).agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            _xsum(xc).alias("sx"),
            _xsum(yc).alias("sy"),
            _sumprod(xc, xc).alias("sxx"),
            _sumprod(yc, yc).alias("syy"),
            _sumprod(xc, yc).alias("sxy"),
        )
    n = F.col("n").cast(_D)
    cov = (n * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    vx = (n * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    vy = (n * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    slope = cov / vx
    intercept = (
        F.col("sy").cast("double") - slope * F.col("sx").cast("double")
    ) / F.col("n").cast("double")
    undef = (vx == 0) | (vy == 0)
    return a.select(
        *gx,
        F.col("n"),
        F.when(vx == 0, F.lit(None).cast("double"))
        .otherwise(F.round(slope, 6))
        .alias("slope"),
        F.when(vx == 0, F.lit(None).cast("double"))
        .otherwise(F.round(intercept, 2))
        .alias("intercept"),
        F.when(undef, F.lit(None).cast("double"))
        .otherwise(F.round(cov * cov / (vx * vy), 6))
        .alias("r2"),
    )


def proportion_ztest(
    df: DataFrame,
    arm: str,
    success: str,
    groups: Sequence[str] = (),
) -> DataFrame:
    """Two-proportion z-test per group (the A/B-test primitive).

    ``arm`` must be 0/1 (control/treatment), ``success`` 0/1. One
    map-side-combined aggregation produces the four exact counts
    (n₀, c₀, n₁, c₁); the statistic
    z = (p₁ − p₀) / sqrt(p̂(1−p̂)(1/n₀ + 1/n₁)) with pooled
    p̂ = (c₀+c₁)/(n₀+n₁) is a fixed chain of IEEE +,−,*,/ and one
    correctly-rounded sqrt, so the rounded z hash-matches a SQL oracle.
    No sort, no join — A/B readout at any scale is one aggregate."""
    gx = list(groups)
    armc = F.col(arm).cast("long")
    succ = F.col(success).cast("long")
    a = df.groupBy(*gx).agg(
        F.sum(1 - armc).cast("long").alias("n0"),
        F.sum((1 - armc) * succ).cast("long").alias("c0"),
        F.sum(armc).cast("long").alias("n1"),
        F.sum(armc * succ).cast("long").alias("c1"),
    )
    n0, c0 = F.col("n0").cast("double"), F.col("c0").cast("double")
    n1, c1 = F.col("n1").cast("double"), F.col("c1").cast("double")
    p0, p1 = c0 / n0, c1 / n1
    pool = (c0 + c1) / (n0 + n1)
    se = F.sqrt(pool * (1 - pool) * (1 / n0 + 1 / n1))
    undef = (F.col("n0") == 0) | (F.col("n1") == 0) | (se == 0)
    return a.select(
        *gx,
        F.col("n0"),
        F.col("c0"),
        F.col("n1"),
        F.col("c1"),
        F.when(undef, F.lit(None).cast("double"))
        .otherwise(F.round((p1 - p0) / se, 6))
        .alias("z"),
    )


def ks_test(
    df: DataFrame, value: str, side: str, bucket_shift: int = 16
) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov test in exact integer arithmetic.

    ``value`` must be a NON-NEGATIVE integer column (the repo's cents
    convention), ``side`` 0/1. The KS distance is
    D = max over v of |F0(v) − F1(v)| = max |cum0·n1 − cum1·n0| / (n0·n1)
    — the maximized numerator is an exact decimal(38,0) integer, so the
    statistic is one IEEE division at the end and hash-matches a SQL
    oracle.

    Scale posture: cumulative counts over the value order and the grand
    totals are one operators/rank.prefix_scan with the value's high bits
    (``value >> bucket_shift``) as the bucket, so in-bucket cumsums run
    with executor parallelism. Never a single-partition row window (the
    oracle, engine-tiny, is allowed one). Output: one row —
    (n0, n1, d_num, ks)."""
    g = (
        # a NULL value is no sample: dropped here, below the aggregate,
        # or prefix_scan would keep its group and rank it first
        df.filter(F.col(value).isNotNull())
        .groupBy(F.col(value).alias("v"))
        .agg(
            F.sum(1 - F.col(side).cast("long")).alias("d0"),
            F.sum(F.col(side).cast("long")).alias("d1"),
        )
    )
    # the bucket keeps v's integral type: an int cast would raise (ANSI) or
    # wrap for v >= 2^(31 + bucket_shift)
    j = prefix_scan(
        g,
        [],
        F.shiftright(F.col("v"), bucket_shift),
        ["v"],
        {"cum0": "d0", "cum1": "d1"},
        totals={"n0t": "cum0", "n1t": "cum1"},
    )
    return (
        j.agg(
            F.max("n0t").alias("n0"),
            F.max("n1t").alias("n1"),
            F.max(
                F.abs(
                    F.col("cum0").cast(_D) * F.col("n1t").cast(_D)
                    - F.col("cum1").cast(_D) * F.col("n0t").cast(_D)
                )
            ).alias("d_num"),
        )
        .select(
            "n0",
            "n1",
            # BIGINT output contract: d_num <= n0*n1, i.e. exact until both
            # samples exceed ~3e9 rows (the internal max stays decimal)
            F.col("d_num").cast("long").alias("d_num"),
            F.when(
                (F.col("n0") == 0) | (F.col("n1") == 0), F.lit(None).cast("double")
            )
            .otherwise(
                F.round(
                    F.col("d_num").cast("double")
                    / (F.col("n0").cast(_D) * F.col("n1").cast(_D)).cast("double"),
                    6,
                )
            )
            .alias("ks"),
        )
    )


def mann_whitney(
    df: DataFrame,
    value: str,
    side: str,
    groups: Sequence[str] = (),
) -> DataFrame:
    """Per-group Mann-Whitney U test (rank-sum) with tie-corrected normal
    approximation — the nonparametric two-sample location test, built on
    the same doubled-fractional-rank discipline as spearman_corr: every
    rank sum is an exact bigint, the tie term T = Σ(t³−t) an exact
    decimal, and z's numerator/denominator are exact decimals dropped to
    double only for the final correctly-rounded sqrt/divide chain.

    With doubled ranks: U₂ = 2·U1 = ΣR₂(side=1) − n1(n1+1) (exact), mean
    μ₂ = n1·n0, and σ₂² = n1·n0·((n+1)·n·(n−1) − T) / (3·n·(n−1)).
    Output: groups + (n0, n1, u, z) where u = U₂/2 (exact halving).
    One group-keyed exchange, one in-partition rank sort, one aggregate —
    _rank2 yields the doubled rank AND the tie size from the same window
    sort, so no second (groups, value)-keyed exchange."""
    gx = list(groups)
    r2, t = _rank2(gx, value)
    d = df.select(
        *gx, F.col(side).cast("long").alias("__s"), r2.alias("r2"), t.alias("__t")
    )
    a = d.groupBy(*gx).agg(
        F.sum(1 - F.col("__s")).cast("long").alias("n0"),
        F.sum("__s").cast("long").alias("n1"),
        _xsum(F.col("__s") * F.col("r2")).alias("r1sum"),
        # each value-tie block of size t contributes t rows of (t^2 - 1):
        # sum over rows of (t^2 - 1) == sum over blocks of (t^3 - t)
        _xsum(F.col("__t") * F.col("__t") - 1).alias("tie_t"),
    )
    n0, n1 = F.col("n0").cast(_D), F.col("n1").cast(_D)
    n = (F.col("n0") + F.col("n1")).cast(_D)
    u2 = F.col("r1sum") - n1 * (n1 + 1)
    var_num = (n0 * n1 * ((n + 1) * n * (n - 1) - F.col("tie_t"))).cast("double")
    var_den = (3 * n * (n - 1)).cast("double")
    sigma2 = F.sqrt(var_num / var_den)
    undef = (F.col("n0") == 0) | (F.col("n1") == 0) | (sigma2 == 0)
    return a.select(
        *gx,
        F.col("n0"),
        F.col("n1"),
        (u2.cast("double") / 2).alias("u"),
        F.when(undef, F.lit(None).cast("double"))
        .otherwise(F.round((u2 - n1 * n0).cast("double") / sigma2, 6))
        .alias("z"),
    )


def welch_ttest(
    df: DataFrame,
    value: str,
    side: str,
    groups: Sequence[str] = (),
) -> DataFrame:
    """Per-group Welch's unequal-variance t-test on an exact-integer value
    column — the parametric companion to mann_whitney. One
    map-side-combined aggregation yields the exact decimal(38,0) sums
    (n, Σy, Σy²) per side carried in a single pass via conditional sums;
    means, sample variances, the t statistic
    t = (m1 − m0) / sqrt(s0²/n0 + s1²/n1) and the Welch-Satterthwaite
    degrees of freedom are fixed IEEE chains (+,−,*,/ and one sqrt) over
    those exact sums, so both outputs hash-match a SQL oracle. No sort,
    no join. Output: groups + (n0, n1, t, df_welch). Per-row squares run
    in int64 behind a when() gate — conditional-select, not a decimal
    multiply per side (see _sumprod's bound)."""
    gx = list(groups)
    s = F.col(side).cast("long")
    y = F.col(value).cast("long")
    yy = y * y

    def _side(expr, cond):
        return _xsum(F.when(cond, expr).otherwise(F.lit(0)).cast("long"))

    a = df.groupBy(*gx).agg(
        F.sum(1 - s).cast("long").alias("n0"),
        F.sum(s).cast("long").alias("n1"),
        _side(y, s == 0).alias("s0"),
        _side(y, s == 1).alias("s1"),
        _side(yy, s == 0).alias("q0"),
        _side(yy, s == 1).alias("q1"),
    )
    n0d, n1d = F.col("n0").cast("double"), F.col("n1").cast("double")
    n0, n1 = F.col("n0").cast(_D), F.col("n1").cast(_D)
    m0 = F.col("s0").cast("double") / n0d
    m1 = F.col("s1").cast("double") / n1d
    # sample variance: (nΣy² - (Σy)²) / (n(n-1)) — numerator exact decimal
    v0 = (n0 * F.col("q0") - F.col("s0") * F.col("s0")).cast("double") / (
        n0 * (n0 - 1)
    ).cast("double")
    v1 = (n1 * F.col("q1") - F.col("s1") * F.col("s1")).cast("double") / (
        n1 * (n1 - 1)
    ).cast("double")
    a0, a1 = v0 / n0d, v1 / n1d
    se = F.sqrt(a0 + a1)
    dof = (a0 + a1) * (a0 + a1) / (
        a0 * a0 / (n0d - 1) + a1 * a1 / (n1d - 1)
    )
    undef = (F.col("n0") < 2) | (F.col("n1") < 2) | (se == 0)
    return a.select(
        *gx,
        F.col("n0"),
        F.col("n1"),
        F.when(undef, F.lit(None).cast("double"))
        .otherwise(F.round((m1 - m0) / se, 6))
        .alias("t"),
        F.when(undef, F.lit(None).cast("double"))
        .otherwise(F.round(dof, 2))
        .alias("df_welch"),
    )


#: Benford first-digit shares log10(1 + 1/d), computed once in Python and
#: embedded as DOUBLE literals on BOTH engines — no libm call at query time
#: (ln/log10 are not bit-stable cross-engine; literals are).
BENFORD_P = {d: math.log10(1 + 1 / d) for d in range(1, 10)}


def benford(df: DataFrame, value: str) -> DataFrame:
    """Benford's-law first-digit audit of a positive integer column — the
    classic fraud/data-entry anomaly screen. Output: one row per leading
    digit 1-9 — (digit, observed, expected_micro, dev_micro).

    One map-side-combined aggregation over the rows (leading digit via a
    string head — invariant under the repo's x100 cents scaling, since
    powers of ten preserve the leading significant digit), then the
    expected counts from the embedded log10(1+1/d) literals. Everything
    emitted is an exact integer: expected_micro = floor(n·p_d·1e6 + 0.5)
    is a deterministic IEEE product of an exact count with a literal, and
    dev_micro = |observed·1e6 − expected_micro| is integer arithmetic —
    so the audit hash-matches a SQL oracle carrying the same literals.
    Zero and negative values are excluded (no leading digit)."""
    digit = F.substring(F.col(value).cast("string"), 1, 1).cast("int")
    counts = (
        df.filter(F.col(value) > 0)
        .groupBy(digit.alias("digit"))
        .agg(F.count(F.lit(1)).cast("long").alias("observed"))
    )
    n = F.sum("observed").over(Window.partitionBy())
    expected = F.when(
        F.col("digit") == 1, F.lit(BENFORD_P[1])
    )
    for d in range(2, 10):
        expected = expected.when(F.col("digit") == d, F.lit(BENFORD_P[d]))
    exp_micro = F.floor(
        n.cast("double") * expected * 1e6 + F.lit(0.5)
    ).cast("long")
    return counts.select(
        "digit",
        "observed",
        exp_micro.alias("expected_micro"),
        F.abs(F.col("observed") * F.lit(1_000_000) - exp_micro).alias("dev_micro"),
    )


def gini(
    df: DataFrame, value: str, groups: Sequence[str] = (), out: str = "gini"
) -> DataFrame:
    """Gini inequality coefficient per group via the sorted-rank identity
    G = Σ(2i - n - 1)·v_i / (n·Σv), i ascending by value. Tie-order
    invariant (equal values make the block's coefficient sum independent
    of order within the block), so row_number over the value alone is
    deterministic. With integer ``value`` every sum is exact in
    decimal(38,0) and the one double division is IEEE-deterministic.
    One exchange + in-partition sort + one aggregate."""
    gx = list(groups)
    w = Window.partitionBy(*gx).orderBy(value)
    d = df.select(
        *gx, F.col(value).cast("long").alias("v"), F.row_number().over(w).alias("i")
    )
    a = d.groupBy(*gx).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        _xsum(F.col("v")).alias("sv"),
        _xsum(F.col("v") * (2 * F.col("i"))).alias("s2iv"),
    )
    n = F.col("n").cast(_D)
    num = (F.col("s2iv") - (n + 1) * F.col("sv")).cast("double")
    den = (n * F.col("sv")).cast("double")
    return a.select(
        *gx,
        F.col("n"),
        F.when(F.col("sv") == 0, F.lit(None).cast("double"))
        .otherwise(F.round(num / den, 6))
        .alias(out),
    )


def diff_in_diff(
    df: DataFrame,
    treat_col: str,
    post_col: str,
    value_col: str,
) -> DataFrame:
    """Difference-in-differences estimator (Card-Krueger 1994 design):
    ``DiD = (ȳ_treat,post − ȳ_treat,pre) − (ȳ_control,post − ȳ_control,pre)``
    from the 2×2 cell means — the econometrics readout for natural
    experiments, one row out.

    ``treat_col``/``post_col`` are boolean columns; ``value_col`` must be
    exact integer units (cents), per the repo's stats-input discipline.
    All four cell sums/counts come from ONE map-side-combined conditional
    aggregation (no groupBy at all — the 4 cells are fixed); each mean is
    a single IEEE division of exact integers and the estimator is an IEEE
    subtraction chain on those — bit-stable cross-engine (the repo's
    "IEEE *,/ are correctly rounded" contract), so the double
    hash-matches the oracle. Cells with no rows yield null means and a
    null estimate.
    """
    t, p = F.col(treat_col), F.col(post_col)
    cells = {
        "t1": t & p,
        "t0": t & ~p,
        "c1": ~t & p,
        "c0": ~t & ~p,
    }
    aggs = []
    for k, cond in cells.items():
        aggs.append(
            F.sum(F.when(cond, F.col(value_col)).otherwise(F.lit(0)))
            .cast("decimal(38,0)")
            .alias(f"__s_{k}__")
        )
        aggs.append(
            F.sum(F.when(cond, 1).otherwise(0)).cast("long").alias(f"__n_{k}__")
        )
    g = df.agg(*aggs)
    mean = {
        k: F.when(
            F.col(f"__n_{k}__") > 0,
            F.col(f"__s_{k}__").cast("double") / F.col(f"__n_{k}__").cast("double"),
        )
        for k in cells
    }
    return g.select(
        *[F.col(f"__n_{k}__").alias(f"n_{k}") for k in cells],
        *[mean[k].alias(f"mean_{k}") for k in cells],
        (
            (mean["t1"] - mean["t0"]) - (mean["c1"] - mean["c0"])
        ).alias("did"),
    )


def weighted_median(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    weight_col: str,
) -> DataFrame:
    """Exact weighted median per group: the smallest value whose
    cumulative weight reaches half the group total (lower weighted
    median — a total, integer-exact definition; no interpolation).
    ``value_col`` and ``weight_col`` must be integral (weights
    non-negative). One group-keyed window over the group's rows plus one
    aggregate — the same cost class as any per-group rank; at corpus
    scale the window is bounded by group size, never table size. Rows of
    one value may cumulate in any order: the crossing test keeps the
    smallest crossing value, which only depends on each tie block's
    closing cumulative weight."""
    w = (
        Window.partitionBy(*group_cols)
        .orderBy(F.col("v"))  # post-rename name: the window runs on `cum`
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wg = Window.partitionBy(*group_cols)
    cum = df.select(
        *group_cols,
        F.col(value_col).cast("long").alias("v"),
        F.col(weight_col).cast("long").alias("wt"),
    ).withColumn("cw", F.sum("wt").over(w)).withColumn(
        "tw", F.sum("wt").over(wg)
    )
    return (
        cum.filter(F.col("cw") * 2 >= F.col("tw"))
        .groupBy(*group_cols)
        .agg(
            F.min("v").alias("weighted_median"),
            F.max("tw").cast("long").alias("total_weight"),
        )
    )


def mann_kendall(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    order_col: str,
) -> DataFrame:
    """Mann-Kendall trend statistic per series: S = Σ_{i<j} sign(x_j −
    x_i) over time order, with the exact tie-corrected variance NUMERATOR
    var18 = n(n−1)(2n+5) − Σ_t t(t−1)(2t+5) (the classic Var(S)·18 — kept
    as an exact integer; the normal-approximation z needs a sqrt that
    consumers apply downstream). The pair enumeration is a per-series
    self-join bounded by series length squared — the per-key sequence
    contract (cf. Kendall 1975; the nonparametric 'is this drifting'
    monitor that pairs with cusum's changepoint view)."""
    base = df.select(
        *group_cols,
        F.col(order_col).alias("o"),
        F.col(value_col).cast("long").alias("v"),
    )
    a = base
    b = base.withColumnsRenamed({"o": "o2", "v": "v2"})
    pairs = a.join(b, list(group_cols)).filter(F.col("o") < F.col("o2"))
    s = pairs.groupBy(*group_cols).agg(
        F.sum(F.signum(F.col("v2") - F.col("v")).cast("long"))
        .cast("long")
        .alias("s"),
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
    )
    n = base.groupBy(*group_cols).agg(F.count(F.lit(1)).cast("long").alias("n"))
    ties = (
        base.groupBy(*group_cols, "v")
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
        .filter(F.col("t") > 1)
        .groupBy(*group_cols)
        .agg(
            F.sum(
                F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
            )
            .cast("long")
            .alias("tie_term")
        )
    )
    return (
        s.join(n, list(group_cols))
        .join(ties, list(group_cols), "left")
        .select(
            *group_cols,
            "n",
            "s",
            (
                F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5)
                - F.coalesce(F.col("tie_term"), F.lit(0))
            )
            .cast("long")
            .alias("var18"),
        )
    )


def best_split(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    order_col: str,
) -> DataFrame:
    """Changepoint LOCALIZATION per series: the split position maximizing
    the between-segment mean shift — one step of binary segmentation
    (Scott & Knott 1974 lineage; cusum FLAGS drift, mann_kendall tests
    monotonicity, this says WHERE the level changed).

    Exactness: mean_left − mean_right at split i has denominator
    i·(n−i), so the cross-split comparison uses the integer score
    |P_i·(n−i) − (P_n−P_i)·i| · 1e6 DIV (i·(n−i)) — scaled-rational
    arithmetic with a single deterministic DIV, identical in any engine;
    ties break to the earliest split. One prefix-sum window per series
    plus one argmax aggregate (max_by over a struct order) — bounded by
    series length, no self-join. The score numerator runs in
    decimal(38,0) (≡ the oracle's HUGEINT window sums): prefix sums of
    aggregate series grow with data volume, and ·1e6 pushed the int64
    form within 9% of overflow at sf1 daily revenue — DIV on decimal
    operands still returns the exact integral quotient as a long."""
    from pyspark.sql import Window

    # NB: `base` renames order_col to the internal alias 'o' before any
    # window is applied, so the windows must order by 'o' (ordering by the
    # caller's name would throw UNRESOLVED_COLUMN whenever order_col != 'o')
    w = (
        Window.partitionBy(*group_cols)
        .orderBy("o")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wg = Window.partitionBy(*group_cols)
    base = df.select(
        *group_cols,
        F.col(order_col).alias("o"),
        F.col(value_col).cast("long").alias("v"),
    )
    pre = (
        base.withColumn("p", F.sum("v").over(w))
        .withColumn("i", F.row_number().over(w.orderBy("o")))
        .withColumn("n", F.count(F.lit(1)).over(wg))
        .withColumn("pn", F.sum("v").over(wg))
        .filter(F.col("i") < F.col("n"))
    )
    score = F.expr(
        "(abs(CAST(p AS DECIMAL(38,0)) * (n - i) - (CAST(pn AS DECIMAL(38,0)) - p) * i)"
        " * 1000000) DIV (CAST(i AS BIGINT) * (n - i))"
    )
    scored = pre.withColumn("score", score)
    return scored.groupBy(*group_cols).agg(
        F.max("n").cast("long").alias("n"),
        F.max(F.struct(F.col("score"), -F.col("i"), F.col("o")))["o"].alias(
            "split_at"
        ),
        F.max("score").cast("long").alias("shift_score_micros"),
    )


def cross_correlation(
    df: DataFrame,
    order_col: str,
    x: str,
    y: str,
    max_lag: int,
) -> DataFrame:
    """Sample cross-correlation function between two integer series on a
    shared time grid: for each lag k ∈ [−max_lag, max_lag], the Pearson
    correlation of x_t against y_{t+k} over the overlap rows — the
    lead-lag detector (does x move before y?). Autocorr's two-series
    generalization: one lag-exploded self-join on the (tiny, aggregated)
    series grid, then the exact-integer pearson_corr per lag. Overlap
    length shrinks by |k| — reported as n so consumers weigh the tails.
    Products take pearson_corr's ``wide=True`` decimal path: the series
    are aggregates whose magnitude grows with data volume (see
    autocorr)."""
    base = df.select(
        F.col(order_col).alias("o"),
        F.col(x).cast("long").alias("xv"),
        F.col(y).cast("long").alias("yv"),
    )
    lags = base.select(
        "o",
        "xv",
        F.explode(
            F.sequence(F.lit(-int(max_lag)), F.lit(int(max_lag)))
        ).alias("lag"),
    )
    shifted = base.select(
        F.col("o").alias("o2"), F.col("yv").alias("yl")
    )
    pairs = lags.join(
        shifted,
        lags["o"] + lags["lag"] == shifted["o2"],
    ).select("lag", "xv", "yl")
    return pearson_corr(pairs, "xv", "yl", ["lag"], out="xcorr", wide=True)


def theil_sen(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    order_col: str,
) -> DataFrame:
    """Theil-Sen slope per series: the lower median of all pairwise
    slopes (v_j − v_i)/(o_j − o_i), i<j — the robust trend ESTIMATOR that
    pairs with mann_kendall's trend TEST (same pair enumeration, 29.3%
    breakdown point vs OLS's zero). ``order_col`` must be integral (day
    index); slopes are quantized to exact micro-units (Δv·1e6 DIV Δo —
    deterministic truncation, identical cross-engine; exact-rational
    median ordering has no SQL sort key, and micro-slope resolution is
    far below any decision threshold). Pair volume is series-length
    squared — the per-key sequence contract."""
    base = df.select(
        *group_cols,
        F.col(order_col).cast("long").alias("o"),
        F.col(value_col).cast("long").alias("v"),
    )
    b = base.withColumnsRenamed({"o": "o2", "v": "v2"})
    slopes = (
        base.join(b, list(group_cols))
        .filter(F.col("o") < F.col("o2"))
        .select(
            *group_cols,
            F.expr("((v2 - v) * 1000000) DIV (o2 - o)").alias("sl"),
        )
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy(*group_cols)
        .orderBy("sl")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wg = Window.partitionBy(*group_cols)
    ranked = slopes.withColumn("i", F.row_number().over(w.orderBy("sl"))).withColumn(
        "np", F.count(F.lit(1)).over(wg)
    )
    return (
        ranked.filter(F.col("i") == F.expr("(np + 1) DIV 2"))
        .select(
            *group_cols,
            F.col("np").cast("long").alias("n_pairs"),
            F.col("sl").cast("long").alias("ts_slope_micros"),
        )
    )


def ols2(
    df: DataFrame,
    x1: str,
    x2: str,
    y: str,
    groups: Sequence[str] = (),
    prereduce: bool = False,
) -> DataFrame:
    """Per-group TWO-regressor OLS (y ~ b1·x1 + b2·x2 + intercept) — the
    multiple-regression step beyond `ols`, still one aggregation pass.

    All nine sufficient statistics are exact decimal(38,0) sums; the
    n-scaled centered moments (n·Σab − Σa·Σb, ≈10²⁸ at cents scale — still
    inside decimal(38)) stay exact, and only the 2×2 Cramer solve
      b1 = (S11·S22 − S12²)⁻¹ (S22·S1y − S12·S2y), …
    drops to double — whose determinant would overflow any fixed
    decimal (≈10⁵⁶). Every double op is correctly rounded and the
    expression order is pinned identically in the oracle, so rounded
    coefficients hash-match (the pearson/ols discipline one matrix
    dimension up). Collinear regressors (det = 0) → NULL. Per-row
    products run in int64 (see _sumprod).

    ``prereduce=True`` (round-7 opt, guide §2.3): for LOW-CARDINALITY
    regressors (categorical/quantized — y may stay continuous), first
    reduce to the (groups, x1, x2) table carrying (count, Σy), then
    combine the nine sufficient statistics as freq-weighted sums over
    value combinations (s1y = Σ x1·(Σy per (x1,x2)), …). Exactly the
    per-row sums (NULL keys group separately, preserving per-column NULL
    skipping), with per-row decimal accumulations cut from nine to one
    (Σy) — A/B at sf0.1: 2.3 → 0.8 s. NOT for continuous regressors:
    joint cardinality ~rows adds an exchange for nothing."""
    gx = list(groups)
    c1, c2, cy = F.col(x1), F.col(x2), F.col(y)
    if prereduce:
        g = df.groupBy(*gx, x1, x2).agg(
            F.count(F.lit(1)).cast("long").alias("__c"),
            _xsum(cy).alias("__gy"),
        )
        d1, d2, cd = c1.cast(_D), c2.cast(_D), F.col("__c").cast(_D)
        gy = F.col("__gy")
        a = g.groupBy(*gx).agg(
            F.sum("__c").cast("long").alias("n"),
            F.sum(d1 * cd).alias("s1"),
            F.sum(d2 * cd).alias("s2"),
            F.sum(gy).alias("sy"),
            F.sum(d1 * d1 * cd).alias("s11"),
            F.sum(d2 * d2 * cd).alias("s22"),
            F.sum(d1 * d2 * cd).alias("s12"),
            F.sum(d1 * gy).alias("s1y"),
            F.sum(d2 * gy).alias("s2y"),
        )
    else:
        a = df.groupBy(*gx).agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            _xsum(c1).alias("s1"),
            _xsum(c2).alias("s2"),
            _xsum(cy).alias("sy"),
            _sumprod(c1, c1).alias("s11"),
            _sumprod(c2, c2).alias("s22"),
            _sumprod(c1, c2).alias("s12"),
            _sumprod(c1, cy).alias("s1y"),
            _sumprod(c2, cy).alias("s2y"),
        )
    n = F.col("n").cast(_D)
    m11 = (n * F.col("s11") - F.col("s1") * F.col("s1")).cast("double")
    m22 = (n * F.col("s22") - F.col("s2") * F.col("s2")).cast("double")
    m12 = (n * F.col("s12") - F.col("s1") * F.col("s2")).cast("double")
    m1y = (n * F.col("s1y") - F.col("s1") * F.col("sy")).cast("double")
    m2y = (n * F.col("s2y") - F.col("s2") * F.col("sy")).cast("double")
    det = m11 * m22 - m12 * m12
    b1 = (m22 * m1y - m12 * m2y) / det
    b2 = (m11 * m2y - m12 * m1y) / det
    icept = (
        F.col("sy").cast("double")
        - b1 * F.col("s1").cast("double")
        - b2 * F.col("s2").cast("double")
    ) / F.col("n").cast("double")
    return a.select(
        *gx,
        F.col("n"),
        F.when(det == 0, F.lit(None).cast("double"))
        .otherwise(F.round(b1, 6))
        .alias("b1"),
        F.when(det == 0, F.lit(None).cast("double"))
        .otherwise(F.round(b2, 6))
        .alias("b2"),
        F.when(det == 0, F.lit(None).cast("double"))
        .otherwise(F.round(icept, 2))
        .alias("intercept"),
    )
