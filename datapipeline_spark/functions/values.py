"""Missing-value canon (reference src/datapipeline/domain/value.py:6-38).

- `None` is the one missing value. NaN passes through as a double: the
  operators treat it as missing.
- Infinity is rejected (raise) at the one parse boundary,
  `plans/compiler.load_source`, which wraps every float/double source column
  in `no_infinity`.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _as_col(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def no_infinity(col: Column | str, context: str = "value") -> Column:
    """Pass the value through, raising at execution time on ±Inf.

    The reference raises `ValueError("Infinite values are not allowed")`
    (domain/value.py:12-14); in a lazy engine this becomes a `raise_error`
    branch evaluated inside codegen — zero cost on the no-error path.
    """
    c = _as_col(col)
    return F.when(
        c.isin(float("inf"), float("-inf")),
        F.raise_error(F.lit(f"Infinite values are not allowed in {context}")),
    ).otherwise(c)
