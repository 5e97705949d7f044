"""Multi-stream alignment: n-way align + broadcast.

Reference:
- align_streams — streaming sorted n-way INNER join on exact
  `(partition, time)` with duplicate-key / order-violation errors
  (src/datapipeline/alignment/engine.py:11-102).
- broadcast_stream — finite unpartitioned global input indexed by exact
  `time`; every primary record MUST find a match (alignment/broadcast.py:11-64).

Spark shape: align = chained sort-merge equi-joins (or shuffled hash under
AQE); broadcast = broadcast hash join, no shuffle of the primary at all —
exactly the hand-rolled index the reference builds, but per-executor.
"""

from __future__ import annotations

from typing import Mapping, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

TIME = "time"


def assert_unique_keys(df: DataFrame, keys: Sequence[str], context: str = "align") -> None:
    """Fail-fast duplicate-key contract (reference alignment/engine.py:56-65).

    An explicit validation action — run it before writes when strict parity
    with the reference's error behavior is wanted. One hash aggregate.
    """
    dup = df.groupBy(*keys).count().filter(F.col("count") > 1).limit(1).collect()
    if dup:
        raise ValueError(f"{context}: duplicate key {tuple(dup[0])[:-1]!r}")


def align_streams(
    streams: Mapping[str, DataFrame],
    partition_by: Sequence[str],
    time_field: str = TIME,
    validate: bool = False,
) -> DataFrame:
    """n-way inner join of same-partition streams on `(partition, time)`.

    ``streams`` maps stream name → DataFrame; payload columns are prefixed
    `<name>_` (the reference hands the record tuple to a combine fn —
    pipelines/stream/pipeline.py:98-119; here the combine is any column
    expression over the prefixed columns).

    ``validate=True`` first runs assert_unique_keys on every stream (one
    aggregate job each) and raises on a duplicate `(partition, time)`, the
    reference's error; the default trusts the inputs and runs no job.
    """
    if len(streams) < 2:
        raise ValueError("align requires >= 2 streams")
    keys = [*partition_by, time_field]
    out: DataFrame | None = None
    for name, df in streams.items():
        if validate:
            assert_unique_keys(df, keys, context=f"align[{name}]")
        payload = [c for c in df.columns if c not in keys]
        projected = df.select(*keys, *[F.col(c).alias(f"{name}_{c}") for c in payload])
        out = projected if out is None else out.join(projected, on=keys, how="inner")
    assert out is not None
    return out


def broadcast_stream(
    primary: DataFrame,
    global_df: DataFrame,
    prefix: str = "g_",
    stage: bool = False,
) -> DataFrame:
    """Attach a finite global stream to each primary record by exact `time`.

    Broadcast hash join (`F.broadcast`): the global side ships once to every
    executor — identical memory shape to the reference's in-process index
    (broadcast.py:16-37) but distributed. A missing match raises at
    execution time (reference: missing match = error, broadcast.py:43-57);
    unused broadcast keys are ignored.

    ``stage`` stages the global side behind a (lazy) localCheckpoint before
    the broadcast. Use it whenever `global_df` DERIVES FROM `primary`
    (e.g. a collapsed aggregate of the same stream): without staging the
    shared subtree is planned twice — once under the broadcast, once on the
    probe side — and at 100 TB that is a full duplicate scan+shuffle of the
    input, not a doc-note.
    """
    payload = [c for c in global_df.columns if c != TIME]
    right = global_df.select(
        TIME, *[F.col(c).alias(f"{prefix}{c}") for c in payload]
    )
    marker = f"{prefix}__matched__"
    right = right.withColumn(marker, F.lit(True))
    if stage:
        # lazy: the broadcast exchange is the first (and only) consumer —
        # it materializes the staged side once; eager just paid the same
        # job earlier, at build time
        right = right.localCheckpoint(eager=False)
    joined = primary.join(F.broadcast(right), on=TIME, how="left")
    # expressed as a filter so column pruning can't elide the check
    guard = F.when(
        F.col(marker).isNull(),
        F.raise_error(
            F.concat(F.lit("broadcast: no match for time "), F.col(TIME).cast("string"))
        ),
    ).otherwise(F.lit(True))
    return joined.filter(guard).drop(marker)
