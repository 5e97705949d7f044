"""Vector/sample postprocess: coverage-based column select, conform, row drop.

Reference fixed postprocess order (pipelines/dataset/postprocess.py:37-151):
select features/targets by corpus coverage → conform to metadata contract →
drop under-covered rows → scale. Coverage definitions
(transforms/vector/drop/vertical.py:11-173, common.py:38-44):
- scalar column coverage  = non-null / total rows;
- list column coverage    = observed elements / (total rows × list length);
- row cell coverage       = scalar: 0/1; list: fraction non-null elements.
Select/conform are PLAN-TIME decisions (computed from a metadata pass, then
applied as a static projection) — exactly like the reference, which decides
from the metadata artifact, not per-row.
"""

from __future__ import annotations

from typing import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _is_array(df: DataFrame, col: str) -> bool:
    return dict(df.dtypes)[col].startswith("array")


def column_coverage(df: DataFrame, columns: Sequence[str]) -> dict[str, float]:
    """One aggregate pass → {column: coverage ratio}."""
    aggs = []
    for c in columns:
        if _is_array(df, c):
            length = F.max(F.size(F.col(c)))
            observed = F.sum(
                F.coalesce(
                    F.size(F.filter(F.col(c), lambda x: x.isNotNull())), F.lit(0)
                )
            )
            aggs.append((observed / (F.count(F.lit(1)) * length)).alias(c))
        else:
            aggs.append((F.count(F.col(c)) / F.count(F.lit(1))).alias(c))
    row = df.agg(*aggs).collect()[0]
    return {c: (row[c] if row[c] is not None else 0.0) for c in columns}


def select_columns_by_coverage(
    df: DataFrame, columns: Sequence[str], threshold: float
) -> tuple[DataFrame, list[str]]:
    """Drop columns whose corpus coverage < threshold
    (reference drop/vertical.py:101-173). Returns (df, kept)."""
    cov = column_coverage(df, columns)
    kept = [c for c in columns if cov[c] >= threshold]
    dropped = [c for c in columns if c not in kept]
    return df.drop(*dropped), kept


def conform_columns(
    df: DataFrame,
    contract: Sequence[tuple[str, str, int | None]],
) -> DataFrame:
    """Order/materialize columns per the metadata contract
    (reference transforms/vector/conform.py:10-75): each entry is
    (name, kind 'scalar'|'list', list_len). Absent columns materialize as
    null / [null]*len; unknown data columns are rejected."""
    contract_names = [name for name, _, _ in contract]
    key_cols = [c for c in df.columns if c not in contract_names]
    # every non-key column must be in the contract
    unknown = [
        c
        for c in df.columns
        if c not in contract_names and (c.startswith("feature") or c.startswith("target"))
    ]
    if unknown:
        raise ValueError(f"conform: unknown columns {unknown}")
    cols: list[Column] = [F.col(c) for c in key_cols]
    for name, kind, list_len in contract:
        if name in df.columns:
            cols.append(F.col(name))
        elif kind == "list":
            cols.append(
                F.array(*[F.lit(None).cast("double") for _ in range(list_len or 0)]).alias(name)
            )
        else:
            cols.append(F.lit(None).cast("double").alias(name))
    return df.select(*cols)


def row_coverage_expr(df: DataFrame, columns: Sequence[str]) -> Column:
    """Mean per-cell coverage across the selected columns
    (reference drop/horizontal.py:17-62, common.py:38-44)."""
    cells = []
    for c in columns:
        if _is_array(df, c):
            cells.append(
                F.coalesce(
                    F.size(F.filter(F.col(c), lambda x: x.isNotNull()))
                    / F.nullif(F.size(F.col(c)), F.lit(0)),
                    F.lit(0.0),
                )
            )
        else:
            cells.append(F.when(F.col(c).isNotNull(), 1.0).otherwise(0.0))
    total = cells[0]
    for c in cells[1:]:
        total = total + c
    return total / F.lit(float(len(columns)))


def drop_rows_by_coverage(
    df: DataFrame, columns: Sequence[str], threshold: float
) -> DataFrame:
    if not columns:
        return df
    return df.filter(row_coverage_expr(df, columns) >= F.lit(threshold))
