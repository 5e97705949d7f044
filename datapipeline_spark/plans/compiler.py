"""Compile a validated project into a lazy DataFrame graph.

Reference: services/runtime_compiler.py:78-111 compiles YAML into
`Runtime.streams` (four stream kinds, runtime.py:21-60) and pipelines execute
as chained generators. Here each stream compiles to a **lazy DataFrame** —
Catalyst is the plan IR, so derived streams are chained transformations,
aligned streams are multi-way sort-merge joins, broadcast streams are
broadcast hash joins, and the dataset is one pivot + postprocess plan. Nothing
executes until an action; the whole project is a single optimizable DAG.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Mapping

from pyspark.sql import DataFrame, SparkSession

from datapipeline_spark.operators.align import align_streams, broadcast_stream
from datapipeline_spark.operators.record import (
    collapse,
    dedupe,
    derive,
    floor_time,
    log1p_op,
    log_op,
    shift_time,
)
from datapipeline_spark.operators.ticks import ensure_cadence, ensure_ticks, tick_grid
from datapipeline_spark.operators.where import where
from datapipeline_spark.operators.window import (
    fill,
    forward_fill,
    forward_sum,
    lag,
    lead,
    rolling,
    rolling_slope,
)
from datapipeline_spark.plans import registry
from datapipeline_spark.plans.config import (
    AlignFrom,
    BroadcastFrom,
    EntryPoint,
    LoaderConfig,
    SourceConfig,
    SourceFrom,
    StreamConfig,
    StreamFrom,
    TransformSpec,
)
from datapipeline_spark.plans.project import ProjectDefinition

TIME = "time"


def _sanitize(stream_id: str) -> str:
    return stream_id.replace(".", "_").replace("-", "_")


def load_source(
    spark: SparkSession, cfg: SourceConfig, definition: ProjectDefinition
) -> DataFrame:
    """Loader + parser for one source (reference sources/source.py:12-30)."""
    from datapipeline_spark.sources import readers

    if isinstance(cfg.loader, EntryPoint):
        loader_fn = registry.resolve("loader", cfg.loader.entrypoint)
        df = loader_fn(spark, cfg, definition, cfg.loader.args)
    else:
        loader: LoaderConfig = cfg.loader
        reader = loader.reader
        fmt = reader.format if reader else "jsonl"
        if loader.transport == "http":
            df = readers.http_source(
                spark,
                loader.url,
                format=fmt,
                headers=loader.headers or None,
                params=loader.params or None,
            )
        else:
            path = definition.data_path(loader.path)
            if fmt == "csv":
                df = readers.read_csv(
                    spark,
                    path,
                    delimiter=reader.delimiter if reader else ";",
                    schema=reader.schema_ddl if reader else None,
                )
            elif fmt == "jsonl":
                df = readers.read_jsonl(
                    spark, path, schema=reader.schema_ddl if reader else None
                )
            elif fmt == "json":
                df = readers.read_json(
                    spark, path, array_field=reader.array_field if reader else None
                )
            elif fmt == "parquet":
                df = readers.read_parquet_glob(spark, path)
            elif fmt == "orc":
                df = readers.read_orc_glob(spark, path)
            else:  # pragma: no cover - pydantic enforces the literal set
                raise ValueError(f"unsupported reader format {fmt!r}")

    if cfg.parser is not None:
        parser_fn = registry.resolve("parser", cfg.parser.entrypoint)
        df = parser_fn(df, cfg.parser.args)
    return df


def apply_transform(
    df: DataFrame, spec: TransformSpec, partition_by: list[str]
) -> DataFrame:
    """Dispatch one declarative transform onto the operator library. Window
    ops share the canonical `Window.partitionBy(*partition_by).orderBy(time)`
    so Catalyst reuses a single sort/shuffle across consecutive steps."""
    op = spec.operation
    if op == "where":
        return where(df, spec.field, spec.operator, spec.comparand)
    if op == "floor_time":
        return floor_time(df, spec.cadence)
    if op == "shift_time":
        return shift_time(df, spec.by)
    if op == "dedupe":
        return dedupe(df)
    if op == "lag":
        return lag(df, spec.field, spec.periods, partition_by, out=spec.to)
    if op == "lead":
        return lead(df, spec.field, spec.periods, partition_by, out=spec.to)
    if op == "rolling":
        return rolling(
            df,
            spec.field,
            spec.window,
            statistic=spec.statistic or "mean",
            min_samples=spec.min_samples,
            partition_by=partition_by,
            out=spec.to,
        )
    if op == "rolling_slope":
        return rolling_slope(
            df, spec.x, spec.y, spec.window, partition_by, out=spec.to
        )
    if op == "forward_sum":
        return forward_sum(
            df, spec.field, spec.window, partition_by, out=spec.to
        )
    if op == "fill":
        return fill(
            df,
            spec.field,
            spec.window,
            statistic=spec.statistic or "mean",
            min_samples=spec.min_samples or 1,
            partition_by=partition_by,
            out=spec.to,
        )
    if op == "forward_fill":
        return forward_fill(df, spec.field, partition_by, out=spec.to)
    if op == "log":
        return log_op(df, spec.field, out=spec.to)
    if op == "log1p":
        return log1p_op(df, spec.field, out=spec.to)
    if op == "derive":
        other = spec.right_field if spec.right_field is not None else spec.right_value
        return derive(df, spec.left, spec.operator, other, out=spec.to)
    if op == "collapse":
        return collapse(df, partition_by, keep=spec.keep)
    if op == "ensure_cadence":
        return ensure_cadence(df, spec.cadence, partition_by)
    if op == "ewma":
        from datapipeline_spark.operators.window import ewma

        return ewma(
            df,
            spec.field,
            window=spec.window,
            decay=spec.decay if spec.decay is not None else 0.5,
            partition_by=partition_by,
            out=spec.to or "ewma",
        )
    if op == "rolling_corr":
        from datapipeline_spark.operators.window import rolling_corr

        return rolling_corr(
            df, spec.x, spec.y, spec.window, partition_by, out=spec.to or "corr"
        )
    if op == "cusum":
        from datapipeline_spark.operators.window import cusum

        return cusum(
            df,
            spec.field,
            target=spec.target,
            slack=spec.slack if spec.slack is not None else 0.0,
            partition_by=partition_by,
            out=spec.to or "cusum",
        )
    if op == "impute_mode":
        from datapipeline_spark.operators.impute import impute_mode

        return impute_mode(df, partition_by, spec.field, out=spec.to)
    if op == "holt":
        from datapipeline_spark.operators.holt import holt_running

        sm = spec.decay if spec.decay is not None else 0.5
        pre = (spec.to + "_") if spec.to else "holt_"
        return holt_running(
            df,
            spec.field,
            partition_by,
            alpha=sm,
            beta=sm,
            level_out=pre + "level",
            trend_out=pre + "trend",
        )
    if op == "hampel":
        from datapipeline_spark.operators.window import hampel

        return hampel(
            df,
            spec.field,
            window=spec.window,
            min_samples=spec.min_samples or 3,
            partition_by=partition_by,
            out=spec.to or "hampel",
        )
    if op == "ensure_ticks":
        # grid_by == partition_by (reference ensure_ticks.py:42-92); the grid
        # spans each partition's observed bounds at the given cadence — the
        # same grid the ticks artifact persists (plans/artifacts.py TICKS)
        grid = tick_grid(df, spec.grid, partition_by)
        return ensure_ticks(df, grid, partition_by)
    raise ValueError(f"unknown transform operation {op!r}")  # pragma: no cover


@dataclass
class CompiledProject:
    """Memoized stream-id → DataFrame resolver over a loaded project."""

    spark: SparkSession
    definition: ProjectDefinition
    _cache: dict[str, DataFrame] = field(default_factory=dict)
    _partitions: dict[str, list[str]] = field(default_factory=dict)
    _series: DataFrame | None = None

    def series(self) -> DataFrame:
        """The dataset's scalar long series frame, staged once behind a lazy
        localCheckpoint (the reference's series cache): assembly, the scaler
        fit and the series artifact read it instead of re-running the stream
        transforms. Its blocks live as long as this object's frames."""
        if self._series is None:
            from datapipeline_spark.plans.dataset_build import scalar_series

            self._series = scalar_series(self).localCheckpoint(eager=False)
        return self._series

    def partition_by(self, stream_id: str) -> list[str]:
        if stream_id not in self._partitions:
            self.stream(stream_id)
        return self._partitions[stream_id]

    def stream(self, stream_id: str) -> DataFrame:
        if stream_id in self._cache:
            return self._cache[stream_id]
        cfg = self.definition.streams.get(stream_id)
        if cfg is None:
            raise KeyError(f"unknown stream {stream_id!r}")
        df, partition_by = self._build(cfg)
        self._cache[stream_id] = df
        self._partitions[stream_id] = partition_by
        return df

    def stream_at(self, stream_id: str, point: str = "records") -> DataFrame:
        """A stream truncated at a reference preview boundary (reference
        operations/runtime/dataset.py:150-172 `_record_preview_stream`):

        - ``input``      loader→parser output, before the canonical mapper
                         (for aligned/broadcast streams: the merged frame
                         before the combiner — the reference's "input node"
                         of those pipelines IS the alignment);
        - ``canonical``  after map_records / combine_records, before the
                         stream's operators;
        - ``records``    the full compiled stream (== ``stream``).

        Derived streams mirror the reference exactly: both ``input`` and
        ``canonical`` return the UPSTREAM stream's full records (the
        derived pipeline truncated at the upstream's stage count —
        reference dataset.py:151-157 excludes the derived stream's OWN
        stages, its mapper included, at both boundaries; the mapper first
        appears in ``records``).
        """
        if point == "records":
            return self.stream(stream_id)
        if point not in ("input", "canonical"):
            raise ValueError(
                f"unknown preview point {point!r}; use input|canonical|records"
            )
        cfg = self.definition.streams.get(stream_id)
        if cfg is None:
            raise KeyError(f"unknown stream {stream_id!r}")
        frm = cfg.from_
        if isinstance(frm, SourceFrom):
            df = load_source(
                self.spark, self.definition.sources[frm.source], self.definition
            )
            return df if point == "input" else self._map(df, cfg)
        if isinstance(frm, StreamFrom):
            return self.stream(frm.stream)
        if isinstance(frm, BroadcastFrom):
            joined, refs = self._broadcast_joined(frm)
            return joined if point == "input" else self._combine(joined, refs, cfg)
        if isinstance(frm, AlignFrom):
            joined, refs, _ = self._align_joined(cfg, frm)
            return joined if point == "input" else self._combine(joined, refs, cfg)
        raise TypeError(f"unsupported from: {frm!r}")  # pragma: no cover

    # ----------------------------------------------------------------- #

    def _broadcast_joined(
        self, frm: BroadcastFrom
    ) -> tuple[DataFrame, dict[str, str]]:
        """Shared broadcast-merge assembly (one code path for _build and
        the preview boundaries, so they cannot drift)."""
        primary = self.stream(frm.stream)
        global_df = self.stream(frm.broadcast)
        prefix = _sanitize(frm.broadcast) + "_"
        joined = broadcast_stream(primary, global_df, prefix=prefix)
        return joined, {frm.stream: "", frm.broadcast: prefix}

    def _align_joined(
        self, cfg: StreamConfig, frm: AlignFrom
    ) -> tuple[DataFrame, dict[str, str], list[str]]:
        """Shared n-way alignment assembly, including the partition_by
        consistency validation (one code path for _build and preview)."""
        inputs = {sid: self.stream(sid) for sid in frm.align}
        parts = [tuple(self.partition_by(sid)) for sid in frm.align]
        if len(set(parts)) != 1:
            raise ValueError(
                f"stream {cfg.id}: aligned inputs disagree on partition_by {parts}"
            )
        partition_by = cfg.partition_by or list(parts[0])
        named = {_sanitize(sid): df for sid, df in inputs.items()}
        joined = align_streams(named, partition_by)
        refs = {sid: _sanitize(sid) + "_" for sid in frm.align}
        return joined, refs, partition_by

    def _build(self, cfg: StreamConfig) -> tuple[DataFrame, list[str]]:
        frm = cfg.from_
        if isinstance(frm, SourceFrom):
            df = load_source(self.spark, self.definition.sources[frm.source], self.definition)
            partition_by = list(cfg.partition_by)
            df = self._map(df, cfg)
        elif isinstance(frm, StreamFrom):
            df = self.stream(frm.stream)
            partition_by = cfg.partition_by or self.partition_by(frm.stream)
            df = self._map(df, cfg)
        elif isinstance(frm, BroadcastFrom):
            partition_by = cfg.partition_by or self.partition_by(frm.stream)
            joined, refs = self._broadcast_joined(frm)
            df = self._combine(joined, refs, cfg)
        elif isinstance(frm, AlignFrom):
            joined, refs, partition_by = self._align_joined(cfg, frm)
            df = self._combine(joined, refs, cfg)
        else:  # pragma: no cover
            raise TypeError(f"unsupported from: {frm!r}")

        for spec in cfg.preprocess:
            df = apply_transform(df, spec, partition_by)
        for spec in cfg.transforms:
            df = apply_transform(df, spec, partition_by)
        return df, partition_by

    def _map(self, df: DataFrame, cfg: StreamConfig) -> DataFrame:
        if cfg.map is None:
            return df
        mapper = registry.resolve("mapper", cfg.map.entrypoint)
        return mapper(df, cfg.map.args)

    def _combine(
        self, df: DataFrame, refs: Mapping[str, str], cfg: StreamConfig
    ) -> DataFrame:
        combiner = registry.resolve("combiner", cfg.combine.entrypoint)
        return combiner(df, refs, cfg.combine.args)


def compile_project(spark: SparkSession, definition: ProjectDefinition) -> CompiledProject:
    # pip-installed plugins (packaging entry points) register here, once
    # per compile — mirroring the reference's compile-time resolution
    # (services/runtime_compiler.py via utils/load.py:load_ep); explicit
    # register_* calls always win over distributions
    registry.discover_entrypoints()
    return CompiledProject(spark=spark, definition=definition)
