"""Dataset assembly over a compiled project: features → series → samples →
postprocess → split/scale → fold outputs.

Reference lifecycle (pipelines/dataset/pipeline.py:69-246): assemble samples
from the series artifact, label splits, fit/apply leakage-free per-fold
scalers, run the fixed postprocess order, route folds.

Spark computes each stream's transforms once per compiled project and the
pivot once per build, because two frames sit behind lazy localCheckpoints:
the scalar series frame (``CompiledProject.series``; read by the id scan,
window clip, pivot and scaler fit) and the wide sample table after its last
shuffle (the lattice), so postprocess, labels, scaling and every fold/role
write are narrow work over one materialization. Staged blocks live as long
as the DataFrames that own them.

Each dataset rule has one owner in ``datapipeline_spark.dataset`` that this
module calls rather than restates: ``fit_scaler``/``apply_scaler`` fit and
apply the leakage-free scaler (``outputs()`` collects every fold's
statistics once), ``route_folds`` routes labelled rows to fold/role outputs,
and ``window_bounds`` computes the metadata window the samples are clipped
to. The preview stages (``samples_preview``, ``postprocess_preview``) are
defined here once for the API and the serve profiles.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce
from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from datapipeline_spark.dataset.metadata import window_bounds
from datapipeline_spark.dataset.postprocess import (
    drop_rows_by_coverage,
    select_columns_by_coverage,
)
from datapipeline_spark.dataset.sample import assemble_samples, rectangular_samples
from datapipeline_spark.dataset.scaler import apply_scaler, fit_scaler
from datapipeline_spark.dataset.series import project_series
from datapipeline_spark.dataset.split import (
    hash_split_label,
    route_folds,
    time_split_label,
)
from datapipeline_spark.functions.time import floor_time_expr, parse_datetime_utc
from datapipeline_spark.operators.window import sequence_windows
from datapipeline_spark.plans.compiler import CompiledProject
from datapipeline_spark.plans.config import DatasetConfig, FeatureSpec

LABEL = "__split__"
ROLES = ("train", "validation", "test")


def _long_frame(
    compiled: CompiledProject, spec: FeatureSpec, entity_keys: Sequence[str]
) -> DataFrame:
    """One feature/target → long series rows (series_id, time, *keys, value,
    base_id). Sequence specs window the field into arrays first."""
    df = compiled.stream(spec.stream)
    partition_by = compiled.partition_by(spec.stream)
    field = spec.field
    if spec.sequence is not None:
        df = sequence_windows(
            df,
            field,
            size=spec.sequence.size,
            stride=spec.sequence.stride,
            partition_by=partition_by,
            out="__seq__",
        )
        field = "__seq__"
    long_df = project_series(
        df,
        base_id=spec.id,
        partition_by=partition_by,
        entity_keys=entity_keys,
        value_field=field,
    )
    return long_df.withColumn("base_id", F.lit(spec.id))


def scalar_series(compiled: CompiledProject) -> DataFrame:
    """Long rows of every scalar feature/target, unioned: the frame
    ``CompiledProject.series`` stages and the series artifact writes
    (reference operations/artifacts/series.py:71-150). Sequence arrays do
    not union with scalars; they assemble from their own long frames."""
    cfg = _dataset(compiled)
    keys = list(cfg.sample.keys)
    longs = [
        _long_frame(compiled, spec, keys)
        for spec in [*cfg.features, *cfg.targets]
        if spec.sequence is None
    ]
    if not longs:
        raise ValueError("dataset has no scalar series")
    return _union_all(longs)


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
    nothing is scaled."""
    scaled_bases = [s.id for s in [*cfg.features, *cfg.targets] if s.scale]
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


# window_mode → (range id, window_bounds mode): 'strict' intersects
# per-partition (full series id) ranges, the others per-base ranges with the
# partitions of a base unioned first
_WINDOW = {
    "strict": ("series_id", "intersection"),
    "intersection": ("base_id", "intersection"),
    "union": ("base_id", "union"),
}


def _window_clip(wide, cadence, longs: Sequence[DataFrame], window_mode: str):
    """Clip samples to the metadata window (reference operations/artifacts/
    metadata.py:36-108; serve applies it, default mode 'intersection') over
    the [min, max] observed ROW bucket of each id. All ranges come from ONE
    grouped aggregation over the unioned slim long frames (the staged scalar
    series plus any sequence frames; partial agg map-side, one shuffle on
    the tiny id domain)."""
    id_col, mode = _WINDOW[window_mode]
    slim = _union_all(
        [
            long_df.select(id_col, floor_time_expr("time", cadence).alias("time"))
            for long_df in longs
        ]
    )
    start, end = window_bounds(slim, id_col, mode)
    if start is None:
        return wide
    if start > end:
        return wide.filter(F.lit(False))
    return wide.filter((F.col("time") >= F.lit(start)) & (F.col("time") <= F.lit(end)))


def _build(compiled: CompiledProject, cfg: DatasetConfig) -> DatasetBuild:
    """``cfg`` is the project's dataset config, possibly with postprocess or
    split stripped (the preview stages); features, targets and sample keys
    are the project's, which is what ``compiled.series()`` stages."""
    keys = list(cfg.sample.keys)
    cadence = cfg.sample.cadence

    specs = [(s, "feature") for s in cfg.features] + [(s, "target") for s in cfg.targets]
    seq_specs = [s for s, _ in specs if s.sequence is not None]
    series = compiled.series() if len(seq_specs) < len(specs) else None
    seq_longs = [_long_frame(compiled, s, keys) for s in seq_specs]

    col_base: dict[str, str] = {}
    wide: DataFrame | None = None
    list_conform: dict[str, int] = {}
    if series is not None:
        # ---- ONE plan-time scan: the pivot ids are the series_ids of the
        # bucket-multiplicity rows. A series whose buckets hold >1
        # observation becomes a fixed-length list column, time-ordered within
        # the bucket (reference operations/artifacts/series.py:336-367
        # _assemble_values: len != 1 → list; artifacts/utils.py:54-82
        # enforces ONE kind and ONE length per series).
        mult = (
            series.groupBy(
                floor_time_expr("time", cadence).alias("__b__"), *keys, "series_id"
            )
            .agg(F.count(F.lit(1)).alias("n"))
            .groupBy("series_id")
            .agg(F.min("n").alias("lo"), F.max("n").alias("hi"))
            .collect()
        )
        ids = sorted(r["series_id"] for r in mult)
        multi_len = {r["series_id"]: r["hi"] for r in mult if r["hi"] > 1}
        for r in mult:
            if r["hi"] > 1 and r["lo"] != r["hi"]:
                raise ValueError(
                    f"Series {r['series_id']!r} mixes bucket multiplicities "
                    f"{r['lo']} and {r['hi']} (the metadata contract requires "
                    "one kind and one fixed list length per series)"
                )
        col_base.update({sid: sid.split("__", 1)[0] for sid in ids})
        wide = assemble_samples(
            series, cadence, keys, series_ids=ids, sequence_ids=sorted(multi_len)
        )
        # absent buckets of list-kind series conform to [null]*length —
        # applied after lattice densification (below) so lattice-only rows
        # conform too
        list_conform.update(multi_len)

    if seq_longs:
        seq_long = _union_all(seq_longs)
        ids = sorted(r[0] for r in seq_long.select("series_id").distinct().collect())
        col_base.update({sid: sid.split("__", 1)[0] for sid in ids})
        seq_wide = assemble_samples(seq_long, cadence, keys, series_ids=ids)
        wide = (
            seq_wide
            if wide is None
            else wide.join(seq_wide, on=["time", *keys], how="full_outer")
        )
        # conform: a bucket with no full window materializes [null]*size, not
        # a scalar null (reference transforms/vector/conform.py:10-75 list
        # handling, asserted by the identity-alignment fixture) — deferred to
        # after lattice densification like the multi-value conformance
        size_of_base = {s.id: s.sequence.size for s in seq_specs}
        for sid in ids:
            list_conform[sid] = size_of_base[col_base[sid]]

    assert wide is not None
    if cfg.metadata is not None:
        longs = ([series] if series is not None else []) + seq_longs
        wide = _window_clip(wide, cadence, longs, cfg.metadata.window_mode)
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
    # materialization instead of re-running the pivot and the lattice
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
        scaler_stats=fit_split_scaler(series, cfg) if series is not None else None,
        fold_plan=fold_plan(cfg),
    )
