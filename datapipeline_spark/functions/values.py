"""Missing-value canon (reference src/datapipeline/domain/value.py:6-38).

- `None` is the one missing value. NaN passes through as a double: the
  operators treat it as missing.
- Infinity is rejected (raise) at the one parse boundary,
  `plans/compiler.load_source`, which wraps every source column holding a
  float or double (at top level, in arrays or in structs) in `no_infinity`.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DataType, DoubleType, FloatType, StructType


def _as_col(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def holds_float(dtype: DataType) -> bool:
    """Whether a value of ``dtype`` is, or nests in arrays and structs, a
    float or double."""
    if isinstance(dtype, (FloatType, DoubleType)):
        return True
    if isinstance(dtype, ArrayType):
        return holds_float(dtype.elementType)
    if isinstance(dtype, StructType):
        return any(holds_float(f.dataType) for f in dtype.fields)
    return False


def no_infinity(
    col: Column | str, context: str = "value", dtype: DataType | None = None
) -> Column:
    """Pass the value through, raising at execution time on ±Inf.

    The reference raises `ValueError("Infinite values are not allowed")`
    (domain/value.py:12-14); in a lazy engine this becomes a `raise_error`
    branch evaluated inside codegen — zero cost on the no-error path.

    With an array or struct ``dtype`` the check reaches every float/double
    inside it, recursively: array elements through ``transform``, struct
    fields through ``withField`` (a NULL array or struct stays NULL). The
    message extends ``context`` with the path (``… element``,
    ``… field 'x'``).
    """
    c = _as_col(col)
    if isinstance(dtype, ArrayType):
        return F.transform(
            c, lambda x: no_infinity(x, f"{context} element", dtype.elementType)
        )
    if isinstance(dtype, StructType):
        out = c
        for f in dtype.fields:
            if holds_float(f.dataType):
                out = out.withField(
                    f.name,
                    no_infinity(c.getField(f.name), f"{context} field {f.name!r}", f.dataType),
                )
        return out
    return F.when(
        c.isin(float("inf"), float("-inf")),
        F.raise_error(F.lit(f"Infinite values are not allowed in {context}")),
    ).otherwise(c)
