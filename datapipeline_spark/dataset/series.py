"""Series projection: temporal streams → long-format series rows.

Reference: SeriesRecord {id, time, value, entity_key}
(src/datapipeline/domain/series.py:7-19); series ids are
`base__@field:value|@field:value` with type-tagged encoding
(src/datapipeline/domain/series_id.py:36-59): strings URL-quoted, `!n` null,
`!b:0|1` bool, `!i:n` int, `!f:<hex>` float (Python float.hex()).

The long format is the engine's tidy interchange: one narrow shuffle-free
projection per stream, unioned (UNION ALL semantics — reference
operations/artifacts/series.py:216-223) before sample assembly.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    ShortType,
    StringType,
)

from datapipeline_spark.operators.window import sequence_window

_SAFE_RE = "^[A-Za-z0-9_.~-]*$"


def _encode_string(col: Column) -> Column:
    """URL-quote (RFC 3986, safe='') — exact parity with Python's
    urllib.parse.quote for the common identifier alphabet; other characters
    go through url_encode (form-encoding) with space fixed up to %20."""
    encoded = F.regexp_replace(F.url_encode(col), r"\+", "%20")
    return F.when(col.rlike(_SAFE_RE), col).otherwise(encoded)


def _float_hex(col: Column) -> Column:
    """Python float.hex() via Arrow-batched pandas UDF (series_id.py:50-54
    uses float.hex(); no JVM builtin matches its exact format)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def hexify(s):  # type: ignore[no-untyped-def]
        return s.map(lambda v: None if v is None else float(v).hex())

    return hexify(col)


def encode_component_expr(field: str, col: Column, dtype) -> Column:
    """`@field:value` with the reference's type tags (series_id.py:36-59)."""
    prefix = F.lit(f"@{field}:")
    if isinstance(dtype, BooleanType):
        value = F.concat(F.lit("!b:"), col.cast("int").cast("string"))
    elif isinstance(dtype, (IntegerType, LongType, ShortType)):
        value = F.concat(F.lit("!i:"), col.cast("string"))
    elif isinstance(dtype, (DoubleType, FloatType)):
        value = F.concat(F.lit("!f:"), _float_hex(col.cast("double")))
    elif isinstance(dtype, StringType):
        value = _encode_string(col)
    else:
        raise TypeError(f"series identity field {field!r}: unsupported type {dtype}")
    value = F.coalesce(value, F.lit("!n"))
    return F.concat(prefix, value)


def _check_base_id(base_id: str) -> None:
    if "__" in base_id:
        raise ValueError("series base id must not contain reserved separator '__'")


def series_suffix_expr(df: DataFrame, fields: Sequence[str]) -> Column:
    """The series-id suffix of a row: its `@field:value` components joined
    by '|'."""
    comps = [
        encode_component_expr(f, F.col(f), df.schema[f].dataType) for f in fields
    ]
    return F.concat_ws("|", *comps)


def encode_series_id_expr(base_id: str, df: DataFrame, fields: Sequence[str]) -> Column:
    """series_id column: base, or base__<suffix components joined by '|'>."""
    _check_base_id(base_id)
    if not fields:
        return F.lit(base_id)
    return F.concat(F.lit(base_id + "__"), series_suffix_expr(df, fields))


def project_series(
    df: DataFrame,
    base_id: str,
    partition_by: Sequence[str] = (),
    *,
    entity_keys: Sequence[str],
    value_field: str = "value",
    time_field: str = "time",
) -> DataFrame:
    """Project a canonical stream into long series rows.

    entity_keys stay as sample-key columns; leftover partition fields
    (partition_by − entity_keys) are folded into the series-id suffix in
    partition_by order (reference pipelines/series/* wide layout).
    Output: (series_id, time, *entity_keys, value).
    """
    leftover = [f for f in partition_by if f not in entity_keys]
    sid = encode_series_id_expr(base_id, df, leftover)
    return df.select(
        sid.alias("series_id"),
        F.col(time_field).alias("time"),
        *[F.col(k) for k in entity_keys],
        F.col(value_field).alias("value"),
    )


def project_stream_series(
    df: DataFrame,
    values: Sequence[tuple[str, str]],
    partition_by: Sequence[str] = (),
    entity_keys: Sequence[str] = (),
    windows: Sequence[tuple[str, str, int, int]] = (),
) -> DataFrame:
    """Project several fields of ONE stream into long series rows in one
    pass over the stream: ``values`` pairs each scalar base id with its
    value field (a field may serve two ids), and ``windows`` gives each
    sequence base id its field, size and stride. The stream's plan appears
    once, so its transform chain runs once, where a union of one
    ``project_series`` per field would repeat it per field.

    Each stream row selects time, the keys, its series-id suffix (encoded
    once per row, not per field), the fields and each ``sequence_window``
    (over ``partition_by`` and time) under positional aliases; one
    ``inline(array(struct(base_id, value, values)…))`` then emits a long
    row per (stream row, base id). A sequence row has ``value`` NULL and
    its window in ``values``, and is emitted only where the window is kept;
    a scalar row has ``values`` NULL. The array widens the value types by
    the same rule as a union of the per-field projections.
    Output: (series_id, time, *entity_keys, value, values, base_id).
    """
    for base_id, *_ in [*values, *windows]:
        _check_base_id(base_id)
    leftover = [f for f in partition_by if f not in entity_keys]
    suffix = ["__suffix__"] if leftover else []
    rows = df.select(
        "time",
        *entity_keys,
        *[series_suffix_expr(df, leftover).alias(c) for c in suffix],
        *[F.col(field).alias(f"__v{i}__") for i, (_, field) in enumerate(values)],
        *[
            sequence_window(field, size, stride, partition_by).alias(f"__w{i}__")
            for i, (_, field, size, stride) in enumerate(windows)
        ],
    )
    no_window = F.lit(None).cast("array<double>")
    entries = [(b, F.col(f"__v{i}__"), no_window) for i, (b, _) in enumerate(values)] + [
        (b, F.lit(None).cast(df.schema[field].dataType), F.col(f"__w{i}__"))
        for i, (b, field, *_) in enumerate(windows)
    ]
    pairs = F.array(
        *[
            F.struct(F.lit(b).alias("base_id"), v.alias("value"), w.alias("values"))
            for b, v, w in entries
        ]
    )
    long_df = rows.select("time", *entity_keys, *suffix, F.inline(pairs))
    if windows:
        sequences = [base_id for base_id, *_ in windows]
        long_df = long_df.filter(F.col("values").isNotNull() | ~F.col("base_id").isin(sequences))
    sid = (
        F.concat(F.col("base_id"), F.lit("__"), F.col("__suffix__"))
        if leftover
        else F.col("base_id")
    )
    return long_df.select(
        sid.alias("series_id"), "time", *entity_keys, "value", "values", "base_id"
    )


# ------------------------------------------------------------------ decoding

SERIES_ID_SEPARATOR = "__"
SERIES_ID_COMPONENT_SEPARATOR = "|"


def base_id(series_id: str) -> str:
    """Base id before the '__' suffix (reference domain/series_id.py:9-16)."""
    base, separator, suffix = series_id.partition(SERIES_ID_SEPARATOR)
    if not separator:
        return series_id
    if not base or not suffix:
        raise ValueError(f"Invalid partitioned series id {series_id!r}")
    return base


def decode_series_id(series_id: str) -> tuple[str, tuple[tuple[str, object], ...]]:
    """(base, ((field, value), ...)) — exact inverse of the encoder, matching
    the reference's grammar (domain/series_id.py:62-94): `@field:value`
    components joined by '|', values tagged `!n` / `!b:` / `!i:` / `!f:<hex>`
    or URL-quoted strings."""
    from urllib.parse import unquote

    base, separator, suffix = series_id.partition(SERIES_ID_SEPARATOR)
    if not separator:
        return series_id, ()
    if not base or not suffix:
        raise ValueError(f"Invalid partitioned series id {series_id!r}")

    components: list[tuple[str, object]] = []
    for comp in suffix.split(SERIES_ID_COMPONENT_SEPARATOR):
        if not comp.startswith("@"):
            raise ValueError(f"Invalid series identity component {comp!r}")
        field_enc, sep, value_enc = comp[1:].partition(":")
        if not sep or not field_enc:
            raise ValueError(f"Invalid series identity component {comp!r}")
        field = unquote(field_enc)
        value: object
        if value_enc == "!n":
            value = None
        elif value_enc.startswith("!b:"):
            payload = value_enc[3:]
            if payload not in {"0", "1"}:
                raise ValueError(f"Invalid boolean series identity value {value_enc!r}")
            value = payload == "1"
        elif value_enc.startswith("!i:"):
            value = int(value_enc[3:])
        elif value_enc.startswith("!f:"):
            value = float.fromhex(value_enc[3:])
        elif value_enc.startswith("!"):
            raise ValueError(f"Invalid series identity value {value_enc!r}")
        else:
            value = unquote(value_enc)
        components.append((field, value))
    return base, tuple(components)
