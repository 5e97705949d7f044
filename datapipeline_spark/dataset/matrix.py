"""Availability matrix: absent/present/null per (time bucket, series) cell.

Reference: analysis/vector/matrix.py:63-165 — a bounded matrix of cell
statuses over the sample key lattice plus an HTML render; `max_cells` guards
the driver-side materialization (matrix.py:106-112).

Spark shape: statuses aggregate distributed (one groupBy over the long
series frame joined against the dense bucket lattice); only the bounded,
already-aggregated matrix is collected for rendering.
"""

from __future__ import annotations

from html import escape

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from datapipeline_spark.functions.time import floor_time_expr

ABSENT = "absent"
NULL = "null"
PRESENT = "present"


def availability_statuses(
    series: DataFrame,
    cadence: str,
) -> DataFrame:
    """(bucket, series_id, status) over the dense bucket × id lattice; the
    id axis is every series_id the rows carry.

    present > null within a bucket (any observed value marks the cell
    present, like the reference's per-cell upgrade logic); lattice cells with
    no row at all are absent.
    """
    from datapipeline_spark.functions.time import parse_cadence_seconds

    # present requires a non-null, non-NaN value (the operators' missing
    # test), or a sequence row's window
    present = F.col("value").isNotNull() & ~F.isnan(F.col("value").cast("double"))
    if "values" in series.columns:
        present = present | F.col("values").isNotNull()
    bucketed = series.select(
        floor_time_expr("time", cadence).alias("bucket"),
        "series_id",
        present.alias("present"),
    )
    cells = bucketed.groupBy("bucket", "series_id").agg(
        F.max(F.when(F.col("present"), 2).otherwise(1)).alias("__code__")
    )
    # dense bucket axis spans min..max — an all-series outage bucket must
    # still render (as an all-absent row), so the axis cannot come from
    # observed cells alone
    step = parse_cadence_seconds(cadence)
    buckets = (
        bucketed.agg(
            F.min(F.unix_timestamp("bucket")).alias("lo"),
            F.max(F.unix_timestamp("bucket")).alias("hi"),
        )
        .select(F.explode(F.sequence("lo", "hi", F.lit(step))).alias("s"))
        .select(F.timestamp_seconds("s").alias("bucket"))
    )
    ids = cells.select("series_id").distinct()
    lattice = buckets.crossJoin(F.broadcast(ids))
    return (
        lattice.join(cells, ["bucket", "series_id"], "left")
        .select(
            "bucket",
            "series_id",
            F.when(F.col("__code__").isNull(), ABSENT)
            .when(F.col("__code__") == 1, NULL)
            .otherwise(PRESENT)
            .alias("status"),
        )
    )


def collect_matrix(
    statuses: DataFrame,
    max_cells: int = 100_000,
) -> tuple[list, list[str], dict]:
    """Bounded driver-side matrix: (sorted buckets, sorted ids,
    {(bucket, id): status}). Raises if the matrix exceeds `max_cells`
    (reference matrix.py:106-112 guard); callers keep the default, tests
    lower it to reach the raise at small data."""
    rows = statuses.limit(max_cells + 1).collect()
    if len(rows) > max_cells:
        raise ValueError(
            f"availability matrix exceeds max_cells={max_cells}; "
            "narrow the window or id list"
        )
    buckets = sorted({r["bucket"] for r in rows})
    ids = sorted({r["series_id"] for r in rows})
    grid = {(r["bucket"], r["series_id"]): r["status"] for r in rows}
    return buckets, ids, grid


_CELL_STYLE = {
    PRESENT: "background:#2a6;color:#fff",
    NULL: "background:#fc3",
    ABSENT: "background:#d44;color:#fff",
}


def render_html(buckets: list, ids: list[str], grid: dict) -> str:
    """Minimal HTML table render (reference matrix.py:143-165)."""
    head = "".join(f"<th>{escape(i)}</th>" for i in ids)
    body = []
    for b in buckets:
        cells = "".join(
            f'<td style="{_CELL_STYLE[grid.get((b, i), ABSENT)]}">'
            f"{grid.get((b, i), ABSENT)}</td>"
            for i in ids
        )
        body.append(f"<tr><th>{escape(str(b))}</th>{cells}</tr>")
    return (
        "<table><thead><tr><th>bucket</th>"
        + head
        + "</tr></thead><tbody>"
        + "".join(body)
        + "</tbody></table>"
    )
