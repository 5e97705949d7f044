"""`where` preprocess filter (reference src/datapipeline/transforms/where.py:21-86).

Ops: eq ne lt le gt ge in not_in. When the field is `time`, ISO-8601 string
comparands are parsed as UTC timestamps (where.py:56-70). Expressed as a plain
`df.filter` so Catalyst pushes the predicate into the parquet scan.
"""

from __future__ import annotations

from datetime import datetime, timezone
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_OPS = {"eq", "ne", "lt", "le", "gt", "ge", "in", "not_in"}


def _parse_dt(value: Any) -> Any:
    if isinstance(value, str):
        normalized = value[:-1] + "+00:00" if value.endswith("Z") else value
        parsed = datetime.fromisoformat(normalized)
        if parsed.tzinfo is None:
            parsed = parsed.replace(tzinfo=timezone.utc)
        return parsed
    return value


def where_predicate(field: str, op: str, value: Any) -> Column:
    if op not in _OPS:
        raise ValueError(f"Unsupported where op: {op!r}")
    if field == "time":
        value = (
            [_parse_dt(v) for v in value] if isinstance(value, (list, tuple)) else _parse_dt(value)
        )
    c = F.col(field)
    if op == "in":
        return c.isin(*value)
    if op == "not_in":
        return ~c.isin(*value)
    return {
        "eq": c == F.lit(value),
        "ne": c != F.lit(value),
        "lt": c < F.lit(value),
        "le": c <= F.lit(value),
        "gt": c > F.lit(value),
        "ge": c >= F.lit(value),
    }[op]


def where(df: DataFrame, field: str, op: str, value: Any) -> DataFrame:
    return df.filter(where_predicate(field, op, value))
