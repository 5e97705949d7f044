from datapipeline_spark.functions.time import (
    floor_time_expr,
    parse_cadence_seconds,
    parse_timecode_seconds,
    shift_time_expr,
)
from datapipeline_spark.functions.values import no_infinity

__all__ = [
    "floor_time_expr",
    "parse_cadence_seconds",
    "parse_timecode_seconds",
    "shift_time_expr",
    "no_infinity",
]
