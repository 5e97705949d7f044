"""Pydantic config models for the YAML project grammar.

Same surface as the reference's config package (schema_version 3):
- project.yaml  → ProjectConfig   (reference config/project.py, fixture
  tests/fixtures/*/project.yaml)
- sources/*.yaml → SourceConfig   (reference config/sources.py:1-200)
- streams/*.yaml → StreamConfig   (reference config/streams.py:30-120)
- dataset.yaml  → DatasetConfig   (reference config/dataset/*)
- profiles/*.yaml → ProfileConfig

Validation stance matches the reference: `extra="forbid"` everywhere, ids are
dotted identifiers, cadences/timecodes parsed eagerly at load time.
"""

from __future__ import annotations

from typing import Annotated, Any, Literal, Optional, Sequence, Union

from pydantic import (
    BaseModel,
    ConfigDict,
    Field,
    StringConstraints,
    field_validator,
    model_validator,
)

from datapipeline_spark.functions.time import (
    parse_cadence_seconds,
    parse_timecode_seconds,
)

DottedId = Annotated[
    str,
    StringConstraints(
        strip_whitespace=True,
        min_length=1,
        pattern=r"^[A-Za-z0-9_-]+(?:\.[A-Za-z0-9_-]+)*$",
    ),
]
NonEmpty = Annotated[str, StringConstraints(strip_whitespace=True, min_length=1)]


class _Strict(BaseModel):
    model_config = ConfigDict(extra="forbid")


# --------------------------------------------------------------------------- #
# project.yaml
# --------------------------------------------------------------------------- #


class ProjectPaths(_Strict):
    streams: str = "streams"
    sources: str = "sources"
    dataset: str = "dataset.yaml"
    artifacts: str = "build"
    profiles: str = "profiles"
    data: str = "."


class ProjectConfig(_Strict):
    schema_version: int = 3
    artifact_revision: int = 1
    name: NonEmpty
    paths: ProjectPaths = Field(default_factory=ProjectPaths)
    globals: dict[str, Any] = Field(default_factory=dict)


# --------------------------------------------------------------------------- #
# sources/*.yaml
# --------------------------------------------------------------------------- #


class EntryPoint(_Strict):
    entrypoint: NonEmpty
    args: dict[str, Any] = Field(default_factory=dict)


class ReaderConfig(_Strict):
    format: Literal["csv", "json", "jsonl", "parquet", "orc"]
    encoding: NonEmpty = "utf-8"
    delimiter: Annotated[str, StringConstraints(min_length=1, max_length=1)] = ";"
    array_field: NonEmpty | None = None
    schema_ddl: NonEmpty | None = None


class LoaderConfig(_Strict):
    """File/HTTP loader (reference sources/adapters/fs.py, http.py)."""

    transport: Literal["fs", "http"] = "fs"
    path: NonEmpty | None = None
    url: NonEmpty | None = None
    headers: dict[str, str] = Field(default_factory=dict)
    params: dict[str, Any] = Field(default_factory=dict)
    reader: ReaderConfig | None = None

    @model_validator(mode="after")
    def validate_target(self) -> "LoaderConfig":
        if self.transport == "fs" and not self.path:
            raise ValueError("fs loader requires 'path'")
        if self.transport == "http" and not self.url:
            raise ValueError("http loader requires 'url'")
        return self


class SourceConfig(_Strict):
    id: DottedId
    parser: EntryPoint | None = None
    loader: LoaderConfig | EntryPoint

    @property
    def is_synthetic(self) -> bool:
        return isinstance(self.loader, EntryPoint)


# --------------------------------------------------------------------------- #
# transforms (shared by streams preprocess/transforms)
# --------------------------------------------------------------------------- #

_WHERE_OPS = ("eq", "ne", "lt", "le", "gt", "ge", "in", "not_in")


class TransformSpec(_Strict):
    """One declarative transform step (reference config/transforms.py:25-252).

    A single permissive model with per-operation validation keeps the YAML
    grammar identical to the reference while staying one class (the compiler
    dispatches on `operation`).
    """

    operation: Literal[
        "where",
        "floor_time",
        "shift_time",
        "dedupe",
        "lag",
        "lead",
        "rolling",
        "rolling_slope",
        "forward_sum",
        "fill",
        "forward_fill",
        "log",
        "log1p",
        "derive",
        "collapse",
        "ensure_cadence",
        "ensure_ticks",
        # beyond-reference window ops, same per-stream transform shape
        "ewma",
        "rolling_corr",
        "cusum",
        "impute_mode",
        "holt",
        "hampel",
    ]
    # where
    operator: str | None = None
    field: NonEmpty | None = None
    comparand: Any = None
    # time ops
    cadence: NonEmpty | None = None
    by: NonEmpty | None = None
    # window ops
    periods: int | None = None
    window: int | None = None
    statistic: str | None = None
    min_samples: int | None = None
    to: NonEmpty | None = None
    # rolling_slope
    x: NonEmpty | None = None
    y: NonEmpty | None = None
    # derive
    left: NonEmpty | None = None
    right_field: NonEmpty | None = None
    right_value: Union[int, float, None] = None
    # collapse
    keep: Literal["first", "last"] = "last"
    # ensure_ticks
    grid: NonEmpty | None = None
    # ewma
    decay: float | None = None
    # cusum
    target: Union[int, float, None] = None
    slack: Union[int, float, None] = None

    @model_validator(mode="after")
    def validate_per_operation(self) -> "TransformSpec":
        op = self.operation
        if op == "where":
            if self.operator not in _WHERE_OPS:
                raise ValueError(f"where operator must be one of {_WHERE_OPS}")
            if not self.field:
                raise ValueError("where requires 'field'")
        elif op in ("floor_time", "ensure_cadence"):
            if not self.cadence:
                raise ValueError(f"{op} requires 'cadence'")
            parse_cadence_seconds(self.cadence)
        elif op == "shift_time":
            if not self.by:
                raise ValueError("shift_time requires 'by'")
            parse_timecode_seconds(self.by)
        elif op in ("lag", "lead"):
            if not self.field or not self.periods or self.periods < 1:
                raise ValueError(f"{op} requires 'field' and positive 'periods'")
        elif op == "rolling":
            if not self.field or not self.window or self.window < 1:
                raise ValueError("rolling requires 'field' and positive 'window'")
            stat = self.statistic or "mean"
            if stat not in ("mean", "median", "stdev", "pstdev", "max", "min"):
                raise ValueError(f"unsupported rolling statistic {stat!r}")
            ms = self.window if self.min_samples is None else self.min_samples
            if ms > self.window:
                raise ValueError("rolling min_samples cannot exceed window")
            if stat == "stdev" and ms < 2:
                raise ValueError("rolling stdev needs min_samples >= 2")
        elif op == "rolling_slope":
            if not self.x or not self.y or not self.to:
                raise ValueError("rolling_slope requires 'x', 'y' and 'to'")
            if not self.window or self.window < 2:
                raise ValueError("rolling_slope window must be >= 2")
        elif op == "forward_sum":
            if not self.field or not self.window or not self.to:
                raise ValueError("forward_sum requires 'field', 'window', 'to'")
        elif op == "fill":
            if not self.field or not self.window:
                raise ValueError("fill requires 'field' and 'window'")
            if self.statistic not in ("mean", "median"):
                raise ValueError("fill statistic must be mean|median")
            if (self.min_samples or 1) > self.window:
                raise ValueError("fill min_samples cannot exceed window")
        elif op == "forward_fill":
            if not self.field:
                raise ValueError("forward_fill requires 'field'")
        elif op in ("log", "log1p"):
            if not self.field or not self.to:
                raise ValueError(f"{op} requires 'field' and 'to'")
        elif op == "derive":
            if not self.left or not self.to:
                raise ValueError("derive requires 'left' and 'to'")
            if self.operator not in ("add", "sub", "mul", "div"):
                raise ValueError("derive operator must be add|sub|mul|div")
            has_f = self.right_field is not None
            has_v = self.right_value is not None
            if has_f == has_v:
                raise ValueError("derive needs exactly one of right_field/right_value")
        elif op == "ensure_ticks":
            if not self.grid:
                raise ValueError("ensure_ticks requires 'grid' (a cadence)")
            parse_cadence_seconds(self.grid)
        elif op == "ewma":
            if not self.field or not self.window or self.window < 1:
                raise ValueError("ewma requires 'field' and positive 'window'")
            if self.decay is not None and not (0.0 < self.decay <= 1.0):
                raise ValueError("ewma decay must be in (0, 1]")
        elif op == "rolling_corr":
            if not self.x or not self.y or not self.to:
                raise ValueError("rolling_corr requires 'x', 'y' and 'to'")
            if not self.window or self.window < 2:
                raise ValueError("rolling_corr window must be >= 2")
        elif op == "cusum":
            if not self.field or self.target is None:
                raise ValueError("cusum requires 'field' and 'target'")
        elif op == "impute_mode":
            if not self.field:
                raise ValueError("impute_mode requires 'field'")
        elif op == "holt":
            if not self.field:
                raise ValueError("holt requires 'field'")
            if self.decay is not None and not (0.0 < self.decay <= 1.0):
                raise ValueError("holt decay (smoothing) must be in (0, 1]")
        elif op == "hampel":
            if not self.field or not self.window or self.window < 2:
                raise ValueError("hampel requires 'field' and window >= 2")
        return self


# --------------------------------------------------------------------------- #
# streams/*.yaml
# --------------------------------------------------------------------------- #


class SourceFrom(_Strict):
    source: DottedId


class StreamFrom(_Strict):
    stream: DottedId


class BroadcastFrom(_Strict):
    stream: DottedId
    broadcast: DottedId

    @model_validator(mode="after")
    def distinct(self) -> "BroadcastFrom":
        if self.stream == self.broadcast:
            raise ValueError("from.stream and from.broadcast must differ")
        return self


class AlignFrom(_Strict):
    align: list[DottedId] = Field(min_length=2)

    @model_validator(mode="after")
    def unique(self) -> "AlignFrom":
        if len(set(self.align)) != len(self.align):
            raise ValueError("align inputs must be unique")
        return self


class StreamConfig(_Strict):
    id: DottedId
    from_: Union[SourceFrom, StreamFrom, BroadcastFrom, AlignFrom] = Field(alias="from")
    partition_by: list[NonEmpty] = Field(default_factory=list)
    map: EntryPoint | None = None
    combine: EntryPoint | None = None
    preprocess: list[TransformSpec] = Field(default_factory=list)
    transforms: list[TransformSpec] = Field(default_factory=list)

    @field_validator("partition_by")
    @classmethod
    def no_time(cls, value: list[str]) -> list[str]:
        if "time" in value:
            raise ValueError("'time' is reserved and cannot be a partition field")
        if len(set(value)) != len(value):
            raise ValueError("partition_by fields must be unique")
        return value

    @model_validator(mode="after")
    def validate_combine(self) -> "StreamConfig":
        if isinstance(self.from_, (BroadcastFrom, AlignFrom)) and self.combine is None:
            raise ValueError(f"stream {self.id}: align/broadcast requires 'combine'")
        for spec in self.preprocess:
            if spec.operation not in ("where", "floor_time", "shift_time"):
                raise ValueError(
                    f"preprocess only allows where/floor_time/shift_time, "
                    f"got {spec.operation!r}"
                )
        return self


# --------------------------------------------------------------------------- #
# dataset.yaml
# --------------------------------------------------------------------------- #


class SequenceSpec(_Strict):
    size: Annotated[int, Field(ge=1)]
    stride: Annotated[int, Field(ge=1)] = 1


class FeatureSpec(_Strict):
    id: DottedId
    stream: DottedId
    field: NonEmpty = "value"
    scale: bool = False
    sequence: SequenceSpec | None = None


class SampleSpec(_Strict):
    cadence: NonEmpty
    keys: list[NonEmpty] = Field(default_factory=list)

    @field_validator("cadence")
    @classmethod
    def valid_cadence(cls, value: str) -> str:
        parse_cadence_seconds(value)
        return value


class TimeIntervalSpec(_Strict):
    id: NonEmpty
    until: NonEmpty | None = None


class FoldSpec(_Strict):
    id: NonEmpty
    train: list[NonEmpty] = Field(min_length=1)
    validation: list[NonEmpty] = Field(default_factory=list)
    test: list[NonEmpty] = Field(default_factory=list)

    @model_validator(mode="after")
    def disjoint(self) -> "FoldSpec":
        roles = [set(self.train), set(self.validation), set(self.test)]
        if (roles[0] & roles[1]) | (roles[0] & roles[2]) | (roles[1] & roles[2]):
            raise ValueError("fold labels must belong to exactly one role")
        return self


class TimeSplitSpec(_Strict):
    mode: Literal["time"] = "time"
    intervals: list[TimeIntervalSpec] = Field(min_length=1)
    folds: list[FoldSpec] = Field(min_length=1)

    @model_validator(mode="after")
    def open_tail(self) -> "TimeSplitSpec":
        for iv in self.intervals[:-1]:
            if iv.until is None:
                raise ValueError("only the final interval may omit 'until'")
        return self


class HashSplitSpec(_Strict):
    mode: Literal["hash"] = "hash"
    ratios: dict[NonEmpty, Annotated[float, Field(gt=0.0, le=1.0)]]
    folds: list[FoldSpec] = Field(min_length=1)
    seed: int = 42

    @model_validator(mode="after")
    def ratios_sum(self) -> "HashSplitSpec":
        total = sum(self.ratios.values())
        if not (0.999999 <= total <= 1.000001):
            raise ValueError("hash split ratios must sum to 1.0")
        return self


class PostprocessThreshold(_Strict):
    threshold: Annotated[float, Field(ge=0.0, le=1.0)]


class PostprocessSamples(_Strict):
    features: PostprocessThreshold | None = None
    targets: PostprocessThreshold | None = None


class PostprocessSpec(_Strict):
    columns: PostprocessSamples | None = None
    samples: PostprocessSamples | None = None


class MetadataSpec(_Strict):
    """Serve-time window clipping (reference config/tasks/metadata.py:
    MetadataTask.window_mode, default 'intersection'). ``window_mode`` is the
    only source of the clipping mode; a dataset without a ``metadata:``
    section is not clipped."""

    window_mode: Literal["union", "intersection", "strict"] = "intersection"


class DatasetConfig(_Strict):
    sample: SampleSpec
    features: list[FeatureSpec] = Field(min_length=1)
    targets: list[FeatureSpec] = Field(default_factory=list)
    split: Optional[Union[TimeSplitSpec, HashSplitSpec]] = Field(
        default=None, discriminator="mode"
    )
    postprocess: PostprocessSpec | None = None
    metadata: MetadataSpec | None = None

    @model_validator(mode="after")
    def unique_ids(self) -> "DatasetConfig":
        ids = [f.id for f in self.features] + [t.id for t in self.targets]
        if len(set(ids)) != len(ids):
            raise ValueError("feature/target ids must be unique")
        return self


# --------------------------------------------------------------------------- #
# profiles/<cmd>.<name>.yaml (+ <cmd>.defaults.yaml)
#
# Reference grammar: config/profiles/{base,serve,build,inspect,materialize,
# output}.py — typed per-command profiles with order/enabled bundling and a
# validated output target. Formats are restricted to what the Spark writers
# emit (jsonl/csv/parquet); stdout streams jsonl only.
# --------------------------------------------------------------------------- #


class OutputSpec(_Strict):
    transport: Literal["fs", "stdout"] = "fs"
    format: Literal["jsonl", "csv", "parquet", "orc"] = "jsonl"
    view: Literal["flat", "raw"] | None = None
    directory: NonEmpty = "output"
    filename: NonEmpty | None = None
    gzip: bool = False

    @model_validator(mode="after")
    def _rules(self) -> "OutputSpec":
        # reference config/profiles/output.py:62-100 validation matrix
        if self.transport == "stdout":
            if self.filename is not None:
                raise ValueError("stdout outputs do not support filenames")
            if self.gzip:
                raise ValueError("stdout outputs do not support compression")
            if self.format != "jsonl":
                raise ValueError("stdout output supports only jsonl format")
        if self.filename is not None and any(s in self.filename for s in ("/", "\\")):
            raise ValueError("filename must not contain path separators")
        if self.format in {"csv", "parquet", "orc"} and self.view == "raw":
            raise ValueError(f"{self.format} output supports only view='flat'")
        if self.gzip and self.format in {"parquet", "orc"}:
            raise ValueError("gzip compression supports only jsonl and csv output")
        return self


class _ProfileBase(_Strict):
    """Run bundling/policy shared by every profile (reference
    config/profiles/base.py:Profile)."""

    name: NonEmpty = "default"  # injected by the loader from the file name
    order: Annotated[int, Field(ge=0)] | None = None
    enabled: bool = True

    @field_validator("name")
    @classmethod
    def _safe_name(cls, value: str) -> str:
        value = value.strip()
        if not value or value in {".", ".."}:
            raise ValueError("profile name must be a plain, non-empty token")
        return value


class LogOutputSpec(_Strict):
    """Reference config/observability.py:LogOutputConfig."""

    transport: Literal["STDERR", "STDOUT", "FS"] = "STDERR"
    scope: Literal["GLOBAL", "EXECUTION"] = "GLOBAL"
    path: NonEmpty | None = None

    @field_validator("transport", "scope", mode="before")
    @classmethod
    def _upper(cls, value: object) -> object:
        return value.strip().upper() if isinstance(value, str) else value

    @model_validator(mode="after")
    def _fs_needs_path(self) -> "LogOutputSpec":
        if self.transport == "FS" and self.path is None:
            raise ValueError("FS log outputs require a path")
        return self


class LoggingSpec(_Strict):
    level: Literal["CRITICAL", "ERROR", "WARNING", "INFO", "DEBUG"] = "WARNING"
    outputs: list[LogOutputSpec] = Field(default_factory=list)

    @field_validator("level", mode="before")
    @classmethod
    def _upper(cls, value: object) -> object:
        return value.strip().upper() if isinstance(value, str) else value


class ObservabilitySpec(_Strict):
    """Reference config/observability.py:ObservabilityConfig. Validated for
    grammar parity; Spark supplies the runtime equivalents (event log / UI /
    log4j), so `visuals` and `heartbeat_interval_seconds` are accepted
    policy, and `logging.level` is applied to the SparkContext."""

    visuals: Literal["ON", "OFF"] = "OFF"
    heartbeat_interval_seconds: Annotated[float, Field(ge=0)] = 0
    logging: LoggingSpec | None = None

    @field_validator("visuals", mode="before")
    @classmethod
    def _normalize_visuals(cls, value: object) -> object:
        if value is False:  # YAML 1.1 bare OFF
            return "OFF"
        if value is True:
            return "ON"
        return value.strip().upper() if isinstance(value, str) else value


class ServeProfileConfig(_ProfileBase):
    cmd: Literal["serve"] = "serve"
    operation: Literal["dataset"] = "dataset"
    output: OutputSpec = Field(default_factory=OutputSpec)
    artifact_mode: Literal["AUTO", "FORCE", "OFF"] | None = None
    observability: ObservabilitySpec | None = None
    include_outputs: list[NonEmpty] | None = Field(default=None, min_length=1)
    limit: Annotated[int, Field(ge=1)] | None = None
    preview: Literal["samples", "postprocess"] | None = None
    throttle_ms: Annotated[float, Field(ge=0)] | None = None

    @field_validator("artifact_mode", mode="before")
    @classmethod
    def _normalize_artifact_mode(cls, value: object) -> object:
        if value is False:  # YAML 1.1 parses bare OFF as boolean false
            return "OFF"
        return value.strip().upper() if isinstance(value, str) else value

    @field_validator("include_outputs")
    @classmethod
    def _unique_outputs(cls, value: list[str] | None) -> list[str] | None:
        if value is not None and len(set(value)) != len(value):
            raise ValueError("duplicate dataset output id in include_outputs")
        return value


class BuildProfileConfig(_ProfileBase):
    cmd: Literal["build"] = "build"
    operation: NonEmpty  # artifact id (series, metadata, coverage_stats, ...)
    mode: Literal["AUTO", "FORCE", "OFF"] | None = None

    @field_validator("mode", mode="before")
    @classmethod
    def _normalize_mode(cls, value: object) -> object:
        if value is False:  # YAML 1.1 parses a bare OFF as boolean false
            return "OFF"
        return value.strip().upper() if isinstance(value, str) else value


class InspectProfileConfig(_ProfileBase):
    cmd: Literal["inspect"] = "inspect"
    operation: Literal["coverage", "matrix", "streams"] = "streams"
    output: OutputSpec | None = None


class MaterializeProfileConfig(_ProfileBase):
    cmd: Literal["materialize"] = "materialize"
    stream: DottedId
    output: NonEmpty
    overwrite: bool = False

    @field_validator("output")
    @classmethod
    def _jsonl_only(cls, value: str) -> str:
        if not value.endswith((".jsonl", ".jsonl.gz")):
            raise ValueError("materialize output must use a .jsonl or .jsonl.gz path")
        return value


ProfileConfig = Annotated[
    Union[
        ServeProfileConfig,
        BuildProfileConfig,
        InspectProfileConfig,
        MaterializeProfileConfig,
    ],
    Field(discriminator="cmd"),
]


def ordered_profiles(profiles: Sequence) -> list:
    """Execution order (reference profiles/loader.py:225-229): explicitly
    ordered profiles first by (order, name), then unordered by name."""
    ordered = sorted(
        (p for p in profiles if p.order is not None), key=lambda p: (p.order, p.name)
    )
    return ordered + sorted(
        (p for p in profiles if p.order is None), key=lambda p: p.name
    )
