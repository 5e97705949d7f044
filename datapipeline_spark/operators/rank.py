"""Distributed global rank and running sums without a single-partition window.

``row_number() OVER (ORDER BY key)`` or a running sum over a global order
collapses to ONE task in any engine — the classic scale cliff for "assign
a global training-example position" or "each document's token offset".
When a bucket of the order key is a monotone PREFIX of the order, the fix
is structural, and ``prefix_scan`` is its one implementation:

1. phase 1: aggregate per (group, bucket) — a table of at most groups x
   buckets rows — take an exclusive running sum over it (a bounded
   window) and broadcast it back;
2. phase 2: a running window WITHIN each (group, bucket), plus the
   bucket's offset.

Identical output to the naive single window, but the heavy sort runs on
one bucket's rows per task and scales with executors. Buckets come from
a uniform hash's top bits (the callers' own) or from ``value_buckets``.
"""

from __future__ import annotations

from typing import Mapping, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _join_small(df: DataFrame, small: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Broadcast ``small`` onto ``df`` on ``keys``, a NULL key matching
    NULL as ``groupBy`` and ``partitionBy`` group it; no keys is a cross
    join."""
    if not keys:
        return df.crossJoin(F.broadcast(small))
    names = {k: f"__k{i}__" for i, k in enumerate(keys)}
    on = [F.col(k).eqNullSafe(F.col(n)) for k, n in names.items()]
    return df.join(F.broadcast(small.withColumnsRenamed(names)), on).drop(*names.values())


def value_buckets(
    df: DataFrame,
    value: str,
    by: Sequence[str],
    buckets: int,
    descending: bool = False,
) -> DataFrame:
    """``df`` plus ``__bucket__``, a monotone value-range bucket of the
    exact-integer ``value`` for ``prefix_scan``: ``(v - lo) * buckets DIV
    (hi - lo + 1)`` from the per-``by`` min/max (broadcast), or ``(hi - v)
    ...`` when the scan orders ``value`` descending. The +1 keeps every
    bucket below ``buckets``, and an all-equal group lands whole in bucket
    0. A NULL value gets the bucket its order puts it in: NULL (first)
    ascending, ``buckets`` (last) descending. Value skew lands whole
    duplicate runs in one bucket — results stay exact regardless."""
    v = f"CAST(`{value}` AS BIGINT)"
    rng = df.groupBy(*by).agg(
        F.min(F.expr(v)).alias("__lo__"), F.max(F.expr(v)).alias("__hi__")
    )
    span = f"__hi__ - {v}" if descending else f"{v} - __lo__"
    bucket = F.expr(f"CAST((({span}) * {int(buckets)}) DIV (__hi__ - __lo__ + 1) AS INT)")
    if descending:
        bucket = F.coalesce(bucket, F.lit(int(buckets)))
    return (
        _join_small(df, rng, by)
        .withColumn("__bucket__", bucket)
        .drop("__lo__", "__hi__")
    )


def prefix_scan(
    df: DataFrame,
    by: Sequence[str],
    bucket: Column,
    order: Sequence[str | Column],
    sums: Mapping[str, str | None],
    exclusive: bool = False,
    totals: Mapping[str, str] = {},
) -> DataFrame:
    """``df`` plus one column per ``sums`` entry: the running count of rows
    (value ``None``) or running sum of the named column over
    ``Window.partitionBy(*by).orderBy(*order)`` with the ROWS frame up to
    the current row, or up to the row before it when ``exclusive``. Each
    equals that naive window's value row for row, NULL where the frame
    holds no non-NULL value; ``totals`` adds ``{name: sums key}`` group
    grand totals.

    ``bucket`` must be non-decreasing along ``order`` within each group,
    and a NULL bucket must hold the rows ``order`` puts first. Every input
    row is kept: a NULL ``by`` key is its own group and a NULL bucket its
    own bucket, as ``groupBy`` and ``partitionBy`` treat them.
    """
    keys, vals = [*by, "__bucket__"], list(sums.values())
    pos = {o: i for i, o in enumerate(sums)}
    b = df.withColumn("__bucket__", bucket)
    # phase 1: one row per (by, bucket); a bucket's offset is the exclusive
    # running sum over its group's buckets — a global window when by is
    # empty, but over the bucket table only, so bounded
    per = b.groupBy(*keys).agg(
        *[(F.count(F.lit(1)) if v is None else F.sum(v)).alias(f"__t{i}__") for i, v in enumerate(vals)]
    )
    w_off = Window.partitionBy(*by).orderBy("__bucket__").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = per.select(
        *keys,
        *[F.sum(f"__t{i}__").over(w_off).alias(f"__o{i}__") for i in pos.values()],
        *[F.sum(f"__t{pos[o]}__").over(Window.partitionBy(*by)).alias(t) for t, o in totals.items()],
    )
    # phase 2: the running window within each (by, bucket), plus the
    # offset; NULL only where both parts are, as the naive frame then is
    w_in = Window.partitionBy(*keys).orderBy(*order)
    frame = w_in.rowsBetween(Window.unboundedPreceding, -1 if exclusive else 0)

    def running(v: str | None) -> Column:
        if v is None:
            rn = F.row_number().over(w_in)
            return rn - 1 if exclusive else rn
        return F.sum(v).over(frame)

    off = [F.col(f"__o{i}__") for i in pos.values()]
    run = [F.col(f"__r{i}__") for i in pos.values()]
    return (
        _join_small(b, offsets, keys)
        .withColumns({f"__r{i}__": running(v) for i, v in enumerate(vals)})
        .withColumns({o: F.coalesce(off[i] + run[i], off[i], run[i]) for o, i in pos.items()})
        .drop("__bucket__", *[f"__{c}{i}__" for c in "or" for i in pos.values()])
    )


def bucketed_global_rank(
    df: DataFrame,
    hash_col: str,
    tiebreak: Sequence[str],
    out: str = "pos",
    hash_bits: int = 52,
    bucket_bits: int = 8,
) -> DataFrame:
    """Add ``out`` = 1-based global rank by ``(hash_col, *tiebreak)``, a
    ``prefix_scan`` row count.

    ``hash_col`` must be a non-negative integer column with values below
    ``2**hash_bits`` (uniformly distributed for balanced buckets — e.g. the
    48/52-bit md5/sha prefixes used throughout the query registry). The top
    ``bucket_bits`` bits form the distribution buckets; a NULL hash ranks
    first, as in the naive window.
    """
    shift = hash_bits - bucket_bits
    if shift <= 0:
        raise ValueError("hash_bits must exceed bucket_bits")
    bucket = F.shiftright(F.col(hash_col), shift).cast("int")
    return prefix_scan(df, [], bucket, [hash_col, *tiebreak], {out: None})


def reservoir_per_key(
    df: DataFrame,
    key_cols: Sequence[str],
    id_cols: Sequence[str],
    n: int,
    seed: str = "rsv",
) -> DataFrame:
    """Deterministic uniform sample of ``n`` rows per key — the batch twin
    of per-key reservoir sampling (Vitter 1985), derandomized the corpus-
    sampling way (hash-order selection, same contract as the md5-membership
    sampling in the corpus queries): keep the ``n`` rows whose seeded md5
    over ``id_cols`` sorts first within the key.

    Same-sized-uniform-sample guarantees without RNG state: reproducible
    across engines/runs/partitionings, refreshable (a re-run on grown data
    keeps previously chosen rows iff they still rank in the top n), and
    SQL-oracle-exact. Scale: one keyed shuffle; Spark plans the per-key
    top-n as WindowGroupLimit, so only n candidate rows per key per map
    task cross the wire — never the full key group.

    ``id_cols`` must uniquely identify rows within a key (total order, no
    rank ties). The 1-based rank within the key is column ``pick``.
    """
    h = F.md5(
        F.concat_ws("|", F.lit(seed), *[F.col(c).cast("string") for c in id_cols])
    )
    w = Window.partitionBy(*key_cols).orderBy(h)
    return df.withColumn("pick", F.row_number().over(w)).filter(F.col("pick") <= n)


def bucketed_value_rank(
    df: DataFrame,
    value_col: str,
    tiebreak: Sequence[str],
    out: str = "pos",
    buckets: int = 256,
) -> DataFrame:
    """1-based global rank by ``(value_col, *tiebreak)`` for an arbitrary
    exact-integer value column — the VALUE-ordered sibling of
    bucketed_global_rank (whose buckets are hash high bits): a
    ``prefix_scan`` row count over ``value_buckets``. A NULL value ranks
    first, as in the naive window."""
    b = value_buckets(df, value_col, [], buckets)
    return prefix_scan(b, [], F.col("__bucket__"), [value_col, *tiebreak], {out: None})


def multi_value_rank(
    df: DataFrame,
    value_cols: Sequence[str],
    id_cols: Sequence[str],
    buckets: int = 256,
    metric_col: str = "metric",
    value_col: str = "value",
    out: str = "pos",
) -> DataFrame:
    """FUSED global value-ranks for several metric columns at once —
    the melt/rank/long-form core behind multi-metric banding (RFM).

    Calling ``bucketed_value_rank`` per metric costs one full-data
    windowed exchange per metric plus per-metric range aggregates (six
    exchanges for RFM's three metrics). Here the metrics are melted to
    (ids, metric, value) long form — 3x rows but ONE plan: one
    ``prefix_scan`` grouped by metric ranks all metrics in a single
    full-data exchange; callers pivot the long form back with one groupBy
    over the ids. Ranks are bit-identical to the per-metric operator
    (same monotone value-range buckets, same (value, *ids) total order
    within each metric).

    Output: ``id_cols + (metric, value, pos)`` with ``metric`` the
    0-based index into ``value_cols``."""
    melted = df.select(
        *id_cols,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias(metric_col),
                        F.col(c).cast("long").alias(value_col),
                    )
                    for i, c in enumerate(value_cols)
                ]
            )
        ).alias("__mv__"),
    ).select(*id_cols, f"__mv__.{metric_col}", f"__mv__.{value_col}")
    b = value_buckets(melted, value_col, [metric_col], buckets)
    return prefix_scan(
        b, [metric_col], F.col("__bucket__"), [value_col, *id_cols], {out: None}
    ).select(*id_cols, metric_col, value_col, out)
