"""Deterministic HyperLogLog distinct-count sketch as a DataFrame aggregate.

HyperLogLog (Flajolet et al. 2007) expressed Spark-first: the sketch IS a
tiny DataFrame of at most ``m = 2**p`` register rows produced by one
map-side-combined aggregation, sketches MERGE by ``max`` per register
(associative — partial sketches over any partitioning of the data merge to
the identical state as one pass), and the estimate is one more tiny
aggregate.

Determinism contract (what makes this oracle-checkable, unlike the
engine-native ``approx_count_distinct`` whose HLL++ state is opaque): the
base hash is the first 15 hex chars of md5 (60 bits, identical in any
engine), the register index is the top ``p`` bits, and rho is derived from
the remaining ``60 - p`` bits via integer bit-length — so the register
state is bit-identical in Spark and ANSI SQL. The harmonic sum
``S = sum(2^-rho)`` is carried as the EXACT integer ``S * 2^rho_max``
(fits a bigint: m * 2^rho_max <= 2^61 for p >= 10), and the raw estimate
``alpha_m * m^2 / S`` is a single IEEE division of that integer by a
precomputed double constant — both correctly rounded, hence bit-equal
cross-engine. Only the small-range (linear counting) correction needs
``ln``, which is NOT bit-stable across libm implementations; it lives in
``corrected_estimate`` (driver-side, for consumers and tests), keeping the
distributed output exactly reproducible.

Scale posture: shuffle carries at most ``m`` register rows per map task
regardless of input rows; the estimate never materializes the key set.

Reference gap: the reference engine has no sketches (its distinct counting
is exact, via CoverageStatsAccumulator — see sketch/cm.py note).
"""

from __future__ import annotations

import math
from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: register-index bits: 2^10 = 1024 registers per group (~3.3% standard
#: error); the registry's SQL oracles replay the same p
P = 10
_HASH_BITS = 60  # 15 md5 hex chars / masked xxhash64 — inside signed bigint


def alpha_numerator(p: int) -> float:
    """The double constant ``alpha_m * m^2 * 2^rho_max`` such that the raw
    HLL estimate is exactly ``alpha_numerator(p) / scaled_harmonic``."""
    m = 1 << p
    alpha = 0.7213 / (1 + 1.079 / m)
    return alpha * m * m * float(1 << (_HASH_BITS - p + 1))


def hll_registers(
    df: DataFrame,
    key: str,
    groups: Sequence[str] = (),
) -> DataFrame:
    """Per-group HLL register state: ``groups + (reg, rho)`` with at most
    ``2**P`` register rows per group. One aggregation, map-side combined.

    Hashing is dual-mode (functions/hashing.hash60, chosen by
    $SPARK_GRAFT_HASH_MODE): ``oracle`` (default) uses the md5-prefix hash
    an ANSI-SQL oracle replays bit-exactly; ``fast`` uses codegen-native
    xxhash64 masked to 60 bits — identical sketch semantics and accuracy,
    ~10x cheaper per row, but a DIFFERENT register state (merge sketches
    of one mode only)."""
    from datapipeline_spark.functions.hashing import hash60

    rem_bits = _HASH_BITS - P
    mask = (1 << rem_bits) - 1
    rho_max = rem_bits + 1
    rem = F.col("__h").bitwiseAND(F.lit(mask))
    rho = (
        F.when(rem == 0, F.lit(rho_max))
        .otherwise(F.lit(rho_max) - F.length(F.bin(rem)))
        .cast("int")
    )
    return (
        df.select(*groups, hash60(F.col(key)).alias("__h"))
        .select(*groups, F.shiftright(F.col("__h"), rem_bits).alias("reg"), rho.alias("rho"))
        .groupBy(*groups, "reg")
        .agg(F.max("rho").alias("rho"))
    )


def hll_merge(registers: DataFrame, groups: Sequence[str] = ()) -> DataFrame:
    """Merge partial sketches (e.g. per-day) down to ``groups``: max per
    register. Associativity makes any merge tree equal to one direct pass."""
    return registers.groupBy(*groups, "reg").agg(F.max("rho").alias("rho"))


def hll_estimate(registers: DataFrame, groups: Sequence[str] = ()) -> DataFrame:
    """Collapse register state to one row per group:
    ``n_registers`` (occupied), ``scaled_harmonic`` (exact bigint
    ``S * 2^rho_max``, empty registers contributing ``2^rho_max`` each),
    and ``est_raw`` (the uncorrected HLL estimate, bit-deterministic)."""
    m = 1 << P
    rho_max = _HASH_BITS - P + 1
    agg = registers.groupBy(*groups).agg(
        F.count(F.lit(1)).cast("long").alias("n_registers"),
        F.expr(f"sum(shiftleft(1L, {rho_max} - rho))").cast("long").alias("__sp"),
    )
    scaled = F.col("__sp") + (F.lit(m).cast("long") - F.col("n_registers")) * F.lit(
        1 << rho_max
    ).cast("long")
    return agg.select(
        *groups,
        "n_registers",
        scaled.alias("scaled_harmonic"),
        (F.lit(alpha_numerator(P)) / scaled.cast("double")).alias("est_raw"),
    )


def corrected_estimate(n_registers: int, scaled_harmonic: int) -> float:
    """Driver-side bias correction (Flajolet small-range rule): linear
    counting when the raw estimate <= 2.5m and empty registers remain.
    Kept out of the distributed plan because ``ln`` is not bit-stable
    across libm implementations (cross-engine oracle would flap)."""
    m = 1 << P
    est = alpha_numerator(P) / scaled_harmonic
    zeros = m - n_registers
    if est <= 2.5 * m and zeros > 0:
        return m * math.log(m / zeros)
    return est


def hll_overlap(
    df: DataFrame,
    key: str,
    flag_col: str,
    flag_a: str,
    flag_b: str,
) -> DataFrame:
    """Sketch algebra: distinct-count estimates for two key sets, their
    union (register max-merge — exact sketch semantics), and their
    intersection by inclusion-exclusion ``est_a + est_b - est_union``.
    Everything stays in the deterministic regime (integer register states,
    one IEEE division each, two IEEE add/subs), so the whole row —
    including the intersection estimate — is bit-reproducible cross-engine.
    One row out; the three 1-row inputs combine via broadcast cross joins.
    Intersection error grows with |A∪B|/|A∩B| (inclusion-exclusion
    amplifies the union's relative error) — standard HLL-algebra caveat."""
    two = df.filter(F.col(flag_col).isin(flag_a, flag_b))
    regs = hll_registers(two, key, [flag_col])
    each = hll_estimate(regs, [flag_col])
    a = each.filter(F.col(flag_col) == flag_a).select(
        F.col("scaled_harmonic").alias("sh_a"), F.col("est_raw").alias("est_a")
    )
    b = each.filter(F.col(flag_col) == flag_b).select(
        F.col("scaled_harmonic").alias("sh_b"), F.col("est_raw").alias("est_b")
    )
    u = hll_estimate(hll_merge(regs, [])).select(
        F.col("scaled_harmonic").alias("sh_union"), F.col("est_raw").alias("est_union")
    )
    return (
        a.crossJoin(b)
        .crossJoin(u)
        .select(
            "sh_a",
            "sh_b",
            "sh_union",
            "est_a",
            "est_b",
            "est_union",
            (F.col("est_a") + F.col("est_b") - F.col("est_union")).alias(
                "est_intersection"
            ),
        )
    )


def hll_sliding_merge(
    registers: DataFrame,
    day_col: str,
    window_days: int = 7,
    groups: Sequence[str] = (),
) -> DataFrame:
    """Trailing-window sketch merge: the register state for day d becomes
    the max-merge of days (d − window_days, d]. Each per-day register row
    is exploded to the ``window_days`` target days it contributes to (at
    most m rows per day — sketch-sized, never data-sized — so the explode
    is bounded by m × window_days per day regardless of input rows), then
    one max-per-register aggregate; ghost days with no native data are
    dropped by a semi-join against the observed day set. This is the
    sliding-distinct trick: COUNT(DISTINCT) over a moving window without
    ever rescanning or retaining the window's raw keys."""
    days = registers.select(day_col).distinct()
    contrib = registers.withColumn(
        "__i", F.explode(F.sequence(F.lit(0), F.lit(int(window_days) - 1)))
    ).withColumn(
        day_col,
        F.expr(f"{day_col} + make_interval(0, 0, 0, __i, 0, 0, 0)"),
    )
    return (
        contrib.join(days, day_col, "left_semi")
        .groupBy(*groups, day_col, "reg")
        .agg(F.max("rho").alias("rho"))
    )
