"""Standard scaler artifacts: fit (per id, optionally per fold) + apply.

Reference: Welford streaming mean/var with std clamped to ≥1e-12
(transforms/vector/scaler.py:13-79); folded fit uses ONLY that fold's train
rows — leakage-proof by construction (operations/artifacts/scaler.py:87-129).

Spark shape: fit = one groupBy aggregate (Spark's var_pop is a single-pass
merged moment computation — the distributed generalization of Welford);
apply = column arithmetic against the collected per-id (mean, std) literals.
"""

from __future__ import annotations

from typing import Mapping, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

EPSILON = 1e-12


def fit_scaler(
    long_df: DataFrame,
    id_col: str = "series_id",
    value_col: str = "value",
    fold_col: str | None = None,
    train_filter=None,
) -> DataFrame:
    """Stats per (fold?, id): mean, std (pop, clamped ≥ε), count of non-null.

    `train_filter`: boolean Column selecting the rows statistics may see
    (e.g. label == 'train'); everything else is excluded BEFORE aggregation,
    so validation/test values cannot influence the fit (leakage test in
    tests/test_dataset_layer.py).
    """
    df = long_df if train_filter is None else long_df.filter(train_filter)
    keys = ([fold_col] if fold_col else []) + [id_col]
    return df.groupBy(*keys).agg(
        F.avg(value_col).alias("mean"),
        F.greatest(F.stddev_pop(value_col), F.lit(EPSILON)).alias("std"),
        F.count(value_col).alias("n_obs"),
    )


def apply_scaler(
    df: DataFrame,
    stats: Mapping[str, tuple[float, float]],
    columns: Sequence[str],
) -> DataFrame:
    """Standardize wide columns: (x − mean)/std, null passthrough; arrays
    elementwise (reference transforms/vector/scaler.py:82-175).

    `stats` is the collected {series_id: (mean, std)} mapping (the fitted
    table is tiny by definition), so scaling is pure column arithmetic, no
    join in the hot path, exactly like the reference's in-memory artifact
    lookup. Columns without statistics pass through unchanged; stats are
    keyed by FULL series id, so each partitioned column scales with its own
    statistics (reference vector/scaler.py:144-151).
    """
    dtypes = dict(df.dtypes)
    out = df
    for c in columns:
        if c not in stats:
            continue
        mean, std = (F.lit(v) for v in stats[c])
        if dtypes[c].startswith("array"):
            expr = F.transform(F.col(c), lambda x: (x - mean) / std)
        else:
            expr = (F.col(c) - mean) / std
        out = out.withColumn(c, expr)
    return out
