"""Dataset assembly over a compiled project: features → series → samples →
postprocess → split/scale → fold outputs.

Reference lifecycle (pipelines/dataset/pipeline.py:69-246): assemble samples
from the series artifact, label splits, fit/apply leakage-free per-fold
scalers, run the fixed postprocess order, route folds.

Spark runs each stream's transforms at most once per compiled project and
the pivot once per build. The series frame projects every stream once for
all of its specs, sequences included (``series_frame``). A build reads the
series, scaler and metadata artifacts when they are fresh
(``artifacts.fresh_frame``: configs and source-file stats unchanged since
``build_artifacts`` wrote them; code changes are not seen, as with the
reference's ``artifact_revision``), and otherwise the series frame staged
behind a localCheckpoint (``CompiledProject.series``; read by the facts
scan, the pivot and the scaler fit). The plan-time facts of every pivot
column (its id, list length and time range) come from one collect of the
metadata artifact's rows or of ``series_facts`` over the series frame; the
build takes the pivot ids and the metadata window from them and refuses
more than ``MAX_PIVOT_COLUMNS``. The wide sample table after its last
shuffle (the lattice) sits behind a second checkpoint, so postprocess,
labels, scaling and every fold/role write are narrow work over one
materialization. Staged blocks live as long as the DataFrames that own
them.

Each dataset rule has one owner in ``datapipeline_spark.dataset`` that this
module calls rather than restates: ``fit_scaler``/``apply_scaler`` fit and
apply the leakage-free scaler (``outputs()`` collects every fold's
statistics once), ``route_folds`` routes labelled rows to fold/role outputs,
``series_facts`` holds the per-series facts, and ``combine_bounds`` the
metadata window the samples are clipped to. The preview stages
(``samples_preview``, ``postprocess_preview``) are defined here once for the
API and the serve profiles.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce
from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampType

from datapipeline_spark.dataset.metadata import combine_bounds, series_facts
from datapipeline_spark.dataset.postprocess import (
    drop_rows_by_coverage,
    select_columns_by_coverage,
)
from datapipeline_spark.dataset.sample import assemble_samples, rectangular_samples
from datapipeline_spark.dataset.scaler import apply_scaler, fit_scaler
from datapipeline_spark.dataset.series import project_stream_series
from datapipeline_spark.dataset.split import (
    hash_split_label,
    route_folds,
    time_split_label,
)
from datapipeline_spark.functions.time import parse_cadence_seconds, parse_datetime_utc
from datapipeline_spark.plans.artifacts import (
    METADATA,
    SCALER,
    SERIES,
    driver_rows,
    fresh_frame,
)
from datapipeline_spark.plans.compiler import CompiledProject
from datapipeline_spark.plans.config import DatasetConfig

LABEL = "__split__"
ROLES = ("train", "validation", "test")

#: Most pivot columns one build emits. A pivot is one output column per
#: series id, so the id set must be configuration-scale (the reference lists
#: its features in YAML), never data-scale; a wider build fails fast
#: instead of compiling a plan of that width.
MAX_PIVOT_COLUMNS = 10_000


def series_frame(compiled: CompiledProject) -> DataFrame:
    """Long rows of every feature/target, a sequence's windows included
    (``SeriesSequence``): the frame ``CompiledProject.series`` stages and
    the series artifact writes (reference operations/artifacts/series.py:
    71-150). Each stream is projected once for all of its specs
    (``project_stream_series``); the per-stream frames are unioned."""
    cfg = _dataset(compiled)
    by_stream: dict[str, tuple[list, list]] = {}
    for spec in [*cfg.features, *cfg.targets]:
        values, windows = by_stream.setdefault(spec.stream, ([], []))
        if spec.sequence is None:
            values.append((spec.id, spec.field))
        else:
            windows.append((spec.id, spec.field, spec.sequence.size, spec.sequence.stride))
    return _union_all(
        [
            project_stream_series(
                compiled.stream(stream_id),
                values,
                partition_by=compiled.partition_by(stream_id),
                entity_keys=list(cfg.sample.keys),
                windows=windows,
            )
            for stream_id, (values, windows) in by_stream.items()
        ]
    )


def _dataset(compiled: CompiledProject) -> DatasetConfig:
    cfg = compiled.definition.dataset
    if cfg is None:
        raise ValueError("project has no dataset.yaml")
    return cfg


def _union_all(frames: Sequence[DataFrame]) -> DataFrame:
    return reduce(lambda a, b: a.unionByName(b), frames)


def split_label(cfg: DatasetConfig) -> Column:
    """The split label of a row with ``time`` and the sample keys: the time
    interval it falls in, or its hash bucket over ``time|key…``. One rule
    labels the wide samples (bucket times) and the long rows the scaler
    fits on (raw series times), so labels and the leakage-free fit cannot
    drift apart. Unsplit datasets label every row 'train'."""
    split = cfg.split
    if split is None:
        return F.lit("train")
    if split.mode == "time":
        intervals = [
            (iv.id, parse_datetime_utc(iv.until) if iv.until else None)
            for iv in split.intervals
        ]
        return time_split_label("time", intervals)
    key_col = F.concat_ws(
        "|", F.col("time").cast("string"), *[F.col(k) for k in cfg.sample.keys]
    )
    return hash_split_label(key_col, split.ratios, split.seed)


def fold_plan(cfg: DatasetConfig) -> dict[str, dict[str, list[str]]]:
    """fold → role → split labels; empty when the dataset is unsplit."""
    folds = cfg.split.folds if cfg.split is not None else []
    return {f.id: {r: list(getattr(f, r)) for r in ROLES} for f in folds}


def fit_split_scaler(series: DataFrame, cfg: DatasetConfig) -> DataFrame | None:
    """Leakage-free scaler statistics (fold?, series_id, mean, std, n_obs)
    from the long series frame: each fold fits only on rows labelled with
    one of its train labels. Series are selected by BASE id and fitted per
    FULL series id (each partition suffix owns its mean/std). None when
    nothing is scaled. Sequence specs are not (``FeatureSpec.scaled``)."""
    scaled_bases = [s.id for s in [*cfg.features, *cfg.targets] if s.scaled]
    if not scaled_bases:
        return None
    labeled = series.filter(F.col("base_id").isin(scaled_bases)).withColumn(
        LABEL, split_label(cfg)
    )
    plan = fold_plan(cfg)
    if not plan:
        return fit_scaler(
            labeled, id_col="series_id", train_filter=F.col(LABEL) == "train"
        )
    return _union_all(
        [
            fit_scaler(
                labeled, id_col="series_id", train_filter=F.col(LABEL).isin(roles["train"])
            ).withColumn("fold", F.lit(fold_id))
            for fold_id, roles in plan.items()
        ]
    )


@dataclass
class DatasetBuild:
    """A built dataset: the sample frame, its columns and scaler statistics.

    A build that reads fresh artifacts gets ``scaler_stats`` from the JSON
    scaler artifact under the producer's own schema, nullability included.
    Its series frame is the parquet artifact read under the recorded
    schema, which Spark still marks all-nullable, as it does every file
    source, so the samples are all-nullable where a computed build's are
    not. Values and the schemas of the served parquet outputs are the same
    either way.
    """

    samples: DataFrame  # wide frame: time, *keys, one column per series id (+ label)
    feature_columns: list[str]
    target_columns: list[str]
    column_base: dict[str, str]  # wide column → base feature/target id
    scaler_stats: DataFrame | None  # (fold?, series_id, mean, std, n_obs)
    fold_plan: dict[str, dict[str, list[str]]]  # fold → role → labels

    def outputs(self) -> dict[tuple[str, str], DataFrame]:
        """(fold, role) → scaled frame; single-fold 'all/full' when no split.
        The statistics of every fold come from one collect."""
        stats: dict[str | None, dict[str, tuple[float, float]]] = {}
        if self.scaler_stats is not None:
            for r in self.scaler_stats.collect():
                fold = r["fold"] if self.fold_plan else None
                stats.setdefault(fold, {})[r["series_id"]] = (r["mean"], r["std"])
        columns = self.samples.columns
        if not self.fold_plan:
            scaled = apply_scaler(self.samples, stats.get(None, {}), columns)
            return {("all", "full"): scaled.drop(LABEL)}
        outs: dict[tuple[str, str], DataFrame] = {}
        for fold, roles in self.fold_plan.items():
            scaled = apply_scaler(self.samples, stats.get(fold, {}), columns)
            for key, df in route_folds(scaled, LABEL, {fold: roles}).items():
                outs[key] = df.drop(LABEL)
        return outs


def build_dataset(compiled: CompiledProject) -> DatasetBuild:
    """The project's dataset; the metadata window mode comes from
    ``dataset.yaml`` ``metadata:`` alone."""
    return _build(compiled, _dataset(compiled))


def samples_preview(compiled: CompiledProject) -> DataFrame:
    """The 'samples' preview: the wide frame BEFORE postprocess and splits."""
    cfg = _dataset(compiled)
    stripped = cfg.model_copy(update={"postprocess": None, "split": None})
    return _build(compiled, stripped).samples.drop(LABEL)


def postprocess_preview(build: DatasetBuild) -> DataFrame:
    """The 'postprocess' preview: the single output of an unsplit (or
    one-output) dataset, else the labelled sample table."""
    outs = build.outputs()
    return next(iter(outs.values())) if len(outs) == 1 else build.samples


# window_mode → (range id, combine_bounds mode): 'strict' intersects
# per-partition (full series id) ranges, the others per-base ranges with the
# partitions of a base unioned first
_WINDOW = {
    "strict": ("series_id", "intersection"),
    "intersection": ("base_id", "intersection"),
    "union": ("base_id", "union"),
}


def _window_clip(wide, cadence, facts, window_mode: str):
    """Clip samples to the metadata window (reference operations/artifacts/
    metadata.py:36-108; serve applies it, default mode 'intersection') over
    the [min, max] observed ROW bucket of each id. Every pivot column's
    range, scalar or sequence, comes from the facts rows (microseconds):
    the floor is monotone, so the floor of an id's first time is its first
    bucket, and a base id's range is the union of its series' ranges."""
    id_col, mode = _WINDOW[window_mode]
    per_id: dict[str, list] = {}
    for r in facts:
        rid = r["series_id"] if id_col == "series_id" else r["series_id"].split("__", 1)[0]
        per_id.setdefault(rid, []).append((r["first_time"], r["last_time"]))
    start, end = combine_bounds([combine_bounds(b, "union") for b in per_id.values()], mode)
    if start is None:
        return wide
    # floor commutes with min and max, so the window floors once
    step = parse_cadence_seconds(cadence) * 1_000_000
    start, end = (TimestampType().fromInternal(us // step * step) for us in (start, end))
    if start > end:
        return wide.filter(F.lit(False))
    return wide.filter((F.col("time") >= F.lit(start)) & (F.col("time") <= F.lit(end)))


def _build(compiled: CompiledProject, cfg: DatasetConfig) -> DatasetBuild:
    """``cfg`` is the project's dataset config, possibly with postprocess or
    split stripped (the preview stages); features, targets and sample keys
    are the project's, which is what ``compiled.series()`` stages and the
    series artifact holds. The scaler artifact is read only for the
    project's own config."""
    keys = list(cfg.sample.keys)
    cadence = cfg.sample.cadence

    specs = [(s, "feature") for s in cfg.features] + [(s, "target") for s in cfg.targets]
    size_of_base = {s.id: s.sequence.size for s, _ in specs if s.sequence is not None}
    series = fresh_frame(compiled, SERIES)
    if series is None:
        series = compiled.series()
    # a stripped config (the samples preview drops the split) fits its own
    # statistics
    scaler_stats = None
    if cfg is compiled.definition.dataset:
        scaler_stats = fresh_frame(compiled, SCALER)
    if scaler_stats is None:
        scaler_stats = fit_split_scaler(series, cfg)
    # the facts of every pivot column in one collect: the metadata
    # artifact's rows are a local relation (no Spark job). Only the columns
    # the build reads are selected, so the collect aggregates nothing else
    metadata = fresh_frame(compiled, METADATA)
    if metadata is None:
        metadata = series_facts(series, cadence, keys)
    times = ["first_time", "last_time"] if cfg.metadata is not None else []
    facts = driver_rows(metadata.select("series_id", "lo", "hi", *times))
    if len(facts) > MAX_PIVOT_COLUMNS:
        raise ValueError(
            f"dataset has {len(facts)} series ids, more than {MAX_PIVOT_COLUMNS}: "
            "a pivot emits one column per id, so a data-scale field in "
            "partition_by would build a plan of that width"
        )
    # a series id starts with its spec's id
    base_of = {r["series_id"]: r["series_id"].split("__", 1)[0] for r in facts}
    scalar_facts = [r for r in facts if base_of[r["series_id"]] not in size_of_base]
    window_ids = sorted(sid for sid, base in base_of.items() if base in size_of_base)
    # ---- a scalar series whose buckets hold >1 observation becomes a
    # fixed-length list column, time-ordered within the bucket (reference
    # operations/artifacts/series.py:336-367 _assemble_values: len != 1 →
    # list; artifacts/utils.py:54-82 enforces ONE kind and ONE length per
    # series). A sequence bucket keeps its last window.
    list_len = {r["series_id"]: r["hi"] for r in scalar_facts if r["hi"] > 1}
    for r in scalar_facts:
        if r["hi"] > 1 and r["lo"] != r["hi"]:
            raise ValueError(
                f"Series {r['series_id']!r} mixes bucket multiplicities "
                f"{r['lo']} and {r['hi']} (the metadata contract requires "
                "one kind and one fixed list length per series)"
            )
    scalar_ids = sorted(r["series_id"] for r in scalar_facts)
    col_base = {sid: base_of[sid] for sid in [*scalar_ids, *window_ids]}
    wide = assemble_samples(
        series,
        cadence,
        keys,
        series_ids=[sid for sid in scalar_ids if sid not in list_len],
        list_ids=sorted(list_len),
        window_ids=window_ids,
    )
    # absent buckets of list-kind series conform to [null]*length, and a
    # bucket with no full window to [null]*size, not a scalar null
    # (reference transforms/vector/conform.py:10-75 list handling, asserted
    # by the identity-alignment fixture) — applied after lattice
    # densification (below) so lattice-only rows conform too
    list_conform = {**list_len, **{sid: size_of_base[base_of[sid]] for sid in window_ids}}

    if cfg.metadata is not None:
        wide = _window_clip(wide, cadence, facts, cfg.metadata.window_mode)
    # ---- rectangular key lattice (reference sample/input.py:37 rectangular
    # =True on every serve: pipelines/sample/keys.py:16-121 dense lattice) —
    # every cadence tick inside each sample key's observed [first, last]
    # domain emits a sample row, absent cells as nulls. The grid derives
    # from the (already window-clipped) assembled samples, matching the
    # metadata sample-domain plan.
    wide = rectangular_samples(wide, cadence, keys)
    for sid, length in sorted(list_conform.items()):
        wide = wide.withColumn(
            sid,
            F.coalesce(
                F.col(sid),
                F.array(*[F.lit(None).cast("double") for _ in range(length)]),
            ),
        )
    # ---- stage the sample table after its last shuffle: the coverage scan
    # and every fold/role output below are narrow work over this one
    # materialization instead of re-running the pivot and the lattice.
    # Under AQE, building the checkpoint runs the shuffle map stages of the
    # pivot and the lattice here; the first action runs only the last stage
    wide = wide.localCheckpoint(eager=False)
    kind_of = {s.id: k for s, k in specs}
    feature_cols = [c for c, b in col_base.items() if kind_of[b] == "feature"]
    target_cols = [c for c, b in col_base.items() if kind_of[b] == "target"]

    # ---- postprocess: vertical column selection, then horizontal row drop --- #
    if cfg.postprocess is not None:
        if cfg.postprocess.columns is not None:
            pc = cfg.postprocess.columns
            if pc.features is not None and feature_cols:
                wide, feature_cols = select_columns_by_coverage(
                    wide, feature_cols, pc.features.threshold
                )
            if pc.targets is not None and target_cols:
                wide, target_cols = select_columns_by_coverage(
                    wide, target_cols, pc.targets.threshold
                )
        if cfg.postprocess.samples is not None:
            ps = cfg.postprocess.samples
            if ps.features is not None and feature_cols:
                wide = drop_rows_by_coverage(wide, feature_cols, ps.features.threshold)
            if ps.targets is not None and target_cols:
                wide = drop_rows_by_coverage(wide, target_cols, ps.targets.threshold)

    return DatasetBuild(
        samples=wide.withColumn(LABEL, split_label(cfg)),
        feature_columns=sorted(feature_cols),
        target_columns=sorted(target_cols),
        column_base=col_base,
        scaler_stats=scaler_stats,
        fold_plan=fold_plan(cfg),
    )
