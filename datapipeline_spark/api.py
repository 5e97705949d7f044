"""Python API: samples and NumPy model batches from a project directory.

Reference: integrations/ml.py — `iter_samples(project_yaml, output_id, limit)`
(ml.py:137-146) and `iter_model_batches(...)` (ml.py:149-316) load the
definition, compile the runtime, hydrate artifacts, then stream `Sample`s /
metadata-ordered numpy batches with strict finite checks.

Spark shape: the wide DataFrame IS the sample table. Samples and batches
come off `toLocalIterator` as Python `Row`s, one partition on the driver at
a time (with the next one prefetched), and batches are packed into NumPy
arrays on the driver; no Arrow transfer is involved.
"""

from __future__ import annotations

from dataclasses import dataclass
from pathlib import Path
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession

from datapipeline_spark.plans.compiler import CompiledProject, compile_project
from datapipeline_spark.plans.dataset_build import (
    build_dataset,
    postprocess_preview,
    samples_preview,
)
from datapipeline_spark.plans.project import load_project


def open_project(spark: SparkSession, project_dir: str | Path) -> CompiledProject:
    return compile_project(spark, load_project(project_dir))


def _resolve_output(
    outs: dict[tuple[str, str], DataFrame],
    fold: str | None,
    role: str | None,
) -> DataFrame:
    if fold is None and role is None:
        if len(outs) == 1:
            return next(iter(outs.values()))
        raise ValueError(f"project has folds {sorted(outs)}; pass fold= and role=")
    key = (fold or "all", role or "full")
    if key not in outs:
        raise KeyError(f"no output {key}; available: {sorted(outs)}")
    return outs[key]


def dataset_frame(
    spark: SparkSession,
    project_dir: str | Path,
    fold: str | None = None,
    role: str | None = None,
) -> DataFrame:
    """The wide sample DataFrame (scaled; filtered to fold/role if given)."""
    build = build_dataset(open_project(spark, project_dir))
    return _resolve_output(build.outputs(), fold, role)


def iter_samples(
    spark: SparkSession,
    project_dir: str | Path,
    fold: str | None = None,
    role: str | None = None,
    limit: int | None = None,
) -> Iterator[dict]:
    """Stream sample rows as dicts (reference iter_samples, ml.py:137-146).
    `toLocalIterator` keeps one partition on the driver at a time."""
    df = dataset_frame(spark, project_dir, fold, role)
    if limit is not None:
        df = df.limit(limit)
    for row in df.toLocalIterator(prefetchPartitions=True):
        yield row.asDict(recursive=True)


@dataclass
class ModelBatch:
    """One bounded batch in stable column order (reference ml.py:211-316)."""

    columns: list[str]
    features: "object"  # numpy (batch, n_features) float array
    targets: "object | None"
    target_columns: list[str]


def iter_model_batches(
    spark: SparkSession,
    project_dir: str | Path,
    fold: str | None = None,
    role: str | None = None,
    batch_size: int = 4096,
    dtype: str = "float32",
    strict_finite: bool = True,
) -> Iterator[ModelBatch]:
    """Metadata-ordered NumPy batches (reference iter_model_batches,
    ml.py:149-208: bounded batches, nulls/non-finite rejected, float32/64).

    Rows of the feature/target projection stream through
    `toLocalIterator` (one partition on the driver at a time) and are
    packed row by row into `(batch, n)` NumPy arrays on the driver; a
    fixed-length sequence column contributes `len` matrix columns.
    """
    import numpy as np

    compiled = open_project(spark, project_dir)
    build = build_dataset(compiled)
    df = _resolve_output(build.outputs(), fold, role)

    feat_cols = [c for c in build.feature_columns if c in df.columns]
    targ_cols = [c for c in build.target_columns if c in df.columns]
    np_dtype = np.dtype(dtype)
    if np_dtype not in (np.dtype("float32"), np.dtype("float64")):
        raise ValueError("dtype must be float32 or float64")

    def to_matrix(rows: list, cols: list[str]):
        if not cols:
            return None
        mats = []
        for r in rows:
            vals = []
            for c in cols:
                v = r[c]
                if isinstance(v, (list, tuple)):
                    vals.extend(v)
                else:
                    vals.append(v)
            mats.append(vals)
        m = np.asarray(
            [[np.nan if v is None else float(v) for v in row] for row in mats],
            dtype=np_dtype,
        )
        if strict_finite and not np.isfinite(m).all():
            raise ValueError(
                "non-finite value in model batch (reference ml.py:249-316 "
                "rejects nulls/NaN/Inf); use postprocess thresholds or fill"
            )
        return m

    def expanded(row, cols: list[str]) -> list[str]:
        """Flattened column labels: sequence feature `s` of length 3 becomes
        s[0], s[1], s[2] so labels align with matrix columns positionally
        (the reference's metadata-ordered contract, ml.py:211-316)."""
        names: list[str] = []
        for c in cols:
            v = row[c]
            if isinstance(v, (list, tuple)):
                names.extend(f"{c}[{i}]" for i in range(len(v)))
            else:
                names.append(c)
        return names

    buffer: list = []
    feat_names: list[str] | None = None
    targ_names: list[str] | None = None

    def flush():
        nonlocal feat_names, targ_names
        if feat_names is None:
            feat_names = expanded(buffer[0], feat_cols)
            targ_names = expanded(buffer[0], targ_cols)
        return ModelBatch(
            columns=feat_names,
            features=to_matrix(buffer, feat_cols),
            targets=to_matrix(buffer, targ_cols),
            target_columns=targ_names,
        )

    ordered = df.select(*feat_cols, *targ_cols)
    for row in ordered.toLocalIterator(prefetchPartitions=True):
        buffer.append(row)
        if len(buffer) >= batch_size:
            yield flush()
            buffer = []
    if buffer:
        yield flush()


def serve(
    spark: SparkSession,
    project_dir: str | Path,
    profile: str | None = None,
    run_id: str | None = None,
) -> dict[tuple[str, str], str]:
    """Run the enabled serve profiles (all, or one by name) and write fold
    outputs under the run-scoped layout (reference `jerry serve`,
    profiles/orchestration.py → io/output.py:94-160). Projects without serve
    profiles get a default jsonl profile named 'dataset'.
    Returns {(fold, role): path} across the executed profiles."""
    from datapipeline_spark.plans.config import ServeProfileConfig
    from datapipeline_spark.plans.profiles import _run_serve, select_profiles

    defn = load_project(project_dir)
    profs = select_profiles(defn, "serve", profile) or [
        ServeProfileConfig(name="dataset")
    ]
    compiled = compile_project(spark, defn)
    results = _run_serve(compiled, defn, profs, Path(project_dir), run_id)
    written: dict[tuple[str, str], str] = {}
    for r in results:
        if r.output_id and "." in r.output_id:
            fold, role = r.output_id.split(".", 1)
            written[(fold, role)] = r.detail
    return written


def preview(
    spark: SparkSession,
    project_dir: str | Path,
    stage: str,
    stream: str | None = None,
) -> DataFrame:
    """Materialization-point preview (reference preview boundaries,
    execution/pipeline.py:46-65 + config/preview.py:4-20 — all SIX stages):

    - ``input``       loader→parser output of one stream (requires
                      ``stream=``), before the canonical mapper
    - ``canonical``   after map_records/combine_records, before operators
                      (requires ``stream=``)
    - ``records``     one compiled stream (requires ``stream=``)
    - ``series``      the long series frame feeding sample assembly
    - ``samples``     the wide frame BEFORE postprocess/splits
    - ``postprocess`` the final dataset frame (single output or labeled)
    """
    compiled = open_project(spark, project_dir)
    if stage in ("input", "canonical", "records"):
        if stream is None:
            raise ValueError(f"preview stage {stage!r} requires stream=")
        return compiled.stream_at(stream, stage)
    if stage == "series":
        return compiled.series()
    if stage == "samples":
        return samples_preview(compiled)
    if stage == "postprocess":
        return postprocess_preview(build_dataset(compiled))
    raise ValueError(
        f"unknown preview stage {stage!r}; use "
        "input|canonical|records|series|samples|postprocess"
    )


def register_views(
    spark: SparkSession,
    project_dir: str | Path | None = None,
    tables_dir: str | None = None,
    prefix: str = "",
) -> list[str]:
    """Expose data as SQL temp views: every stream of a compiled project
    (lazy plans — views carry the full transform chain, not materialized
    data) and/or every raw table under a testdata directory. Returns the
    registered view names.

    This is the escape hatch the reference cannot offer (its runtime is a
    Python iterator, not a query engine): once registered, users mix
    ``spark.sql`` freely with the DataFrame API and Catalyst optimizes
    across the boundary.
    """
    names: list[str] = []
    if project_dir is not None:
        proj = open_project(spark, project_dir)
        for stream_id in proj.definition.streams:
            view = f"{prefix}{stream_id}".replace("-", "_").replace(".", "_")
            proj.stream(stream_id).createOrReplaceTempView(view)
            names.append(view)
    if tables_dir is not None:
        from datapipeline_spark.tables import load_tables

        for name, df in load_tables(spark, tables_dir).items():
            view = f"{prefix}{name}"
            df.createOrReplaceTempView(view)
            names.append(view)
    return names


def sql(
    spark: SparkSession,
    query: str,
    project_dir: str | Path | None = None,
    tables_dir: str | None = None,
) -> DataFrame:
    """Run ANSI SQL over registered project streams / raw tables."""
    register_views(spark, project_dir=project_dir, tables_dir=tables_dir)
    return spark.sql(query)
