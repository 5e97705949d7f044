"""One-pass column profiling — the catalog/data-discovery staple.

(column, n_rows, n_nulls, n_distinct, min_num, max_num) for every requested
column, from a SINGLE aggregate pass: each column contributes a
count/null-count/exact-distinct (and min/max for numerics) to one global
aggregate, and the single result row unpivots through typed literal structs
(the same no-SQL-interpolation shape as operators/expect.py). Multiple
exact count(DISTINCT) aggregates plan as one Expand + aggregate — still a
single scan of the table.

Beyond-reference (the reference has no profiling surface; its nearest
analogue is the coverage report, which this generalizes to arbitrary
tables). Deterministic: counts are exact bigints; numeric extrema are
exact min/max in double — nothing here depends on partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import NumericType


def profile_table(df: DataFrame) -> DataFrame:
    """Profile every column in one aggregate pass.

    `n_distinct` counts distinct NON-NULL values (SQL count-distinct
    semantics). `min_num`/`max_num` are populated for numeric columns only
    (cast to double) — string extrema are deliberately omitted: their
    collation/format parity across engines is not worth the ambiguity in a
    deterministic report.
    """
    cols = list(df.columns)
    types = {f.name: f.dataType for f in df.schema.fields}
    aggs = [F.count(F.lit(1)).alias("__n__")]
    for i, c in enumerate(cols):
        col = F.col(c)
        aggs.append(F.sum(F.when(col.isNull(), 1).otherwise(0)).alias(f"__null{i}__"))
        aggs.append(F.countDistinct(col).alias(f"__dist{i}__"))
        if isinstance(types[c], NumericType):
            aggs.append(F.min(col).cast("double").alias(f"__min{i}__"))
            aggs.append(F.max(col).cast("double").alias(f"__max{i}__"))
    row = df.agg(*aggs)
    structs = []
    for i, c in enumerate(cols):
        numeric = isinstance(types[c], NumericType)
        structs.append(
            F.struct(
                F.lit(c).alias("column"),
                F.col(f"__null{i}__").cast("long").alias("n_nulls"),
                F.col(f"__dist{i}__").cast("long").alias("n_distinct"),
                (F.col(f"__min{i}__") if numeric else F.lit(None).cast("double")).alias(
                    "min_num"
                ),
                (F.col(f"__max{i}__") if numeric else F.lit(None).cast("double")).alias(
                    "max_num"
                ),
            )
        )
    return row.select(
        F.col("__n__").alias("n_rows"), F.explode(F.array(*structs)).alias("p")
    ).select(
        F.col("p.column").alias("column"),
        F.col("n_rows"),
        F.col("p.n_nulls").alias("n_nulls"),
        F.col("p.n_distinct").alias("n_distinct"),
        F.col("p.min_num").alias("min_num"),
        F.col("p.max_num").alias("max_num"),
    )
