"""Artifact DAG with fingerprint-cached builds.

Reference: artifacts/specs.py:31-47 defines the DAG (scaler ⊥; series →
metadata → coverage_stats; ticks ⊥), artifacts/fingerprints.py:250-304 hashes
the typed config closure + source-file snapshots + artifact_revision +
upstream artifact hashes, and artifacts/executor.py:95-205 skips fresh
artifacts (AUTO) or rebuilds all (FORCE).

The skip logic hashes **configs and file stats, never data**, so it ports
unchanged. Each producer writes its rows plus a JSON manifest carrying the
fingerprint and the producer's schema. The data-sized artifacts (series,
ticks) are Parquet, read back under the manifest's schema, so no footer
job infers it. The driver-sized ones are JSON rows: metadata and
coverage_stats hold one row per series id, and scaler one per fold and
series id. A dataset build refuses more series ids than
``dataset_build.MAX_PIVOT_COLUMNS``. They are kept as the reference keeps
its scaler (artifacts/scaler.py:16-88), and read back as a local
relation, so reading and collecting them runs no Spark job. The series,
scaler and ticks producers share the staged series frame
(``CompiledProject.series``), so the stream transforms run once for all
three. It holds every feature and target, sequence windows included, so
the series and metadata artifacts cover every pivot column.

Read-back rule: an artifact is fresh when its manifest carries the
fingerprint the configs and source-file stats hash to (with its
dependencies' fingerprints), taken once per compiled project.
``build_artifacts`` skips fresh artifacts without reading them, and dataset
builds read the fresh series, scaler and metadata artifacts instead of
re-running the stream transforms and the plan-time scans (``fresh_frame``;
the reference's dataset pipeline reads the series artifact the same way).
Its limit is the reference's: the fingerprint covers configs and file
stats, not code, so a change to an operator or a registered mapper,
parser or loader needs an ``artifact_revision`` bump in project.yaml. A
dataset reading a source whose data the fingerprint cannot see (an
``http`` or entry-point loader) always computes.
"""

from __future__ import annotations

import hashlib
import json
import shutil
from dataclasses import dataclass
from functools import reduce
from pathlib import Path
from typing import Callable

from pyspark.sql import DataFrame, Row, SparkSession, functions as F
from pyspark.sql.types import StructType, TimestampType

from datapipeline_spark.dataset.metadata import series_facts
from datapipeline_spark.operators.ticks import tick_grid
from datapipeline_spark.plans.compiler import CompiledProject
from datapipeline_spark.plans.config import FeatureSpec

SERIES = "series"
METADATA = "metadata"
COVERAGE_STATS = "coverage_stats"
SCALER = "scaler"
TICKS = "ticks"

# key → upstream dependencies (reference artifacts/specs.py:31-47)
DAG: dict[str, tuple[str, ...]] = {
    SCALER: (),
    SERIES: (),
    TICKS: (),
    METADATA: (SERIES,),
    COVERAGE_STATS: (METADATA,),
}

#: the driver-sized artifacts, stored as JSON rows (see the module docstring)
JSON_KEYS = frozenset({SCALER, METADATA, COVERAGE_STATS})

#: the store's layout and the producers' row sets; hashed into every
#: fingerprint, so artifacts written under an older layout are stale
LAYOUT = 3


def topological_order(keys: set[str]) -> list[str]:
    """``keys`` and everything they transitively depend on, each after its
    dependencies."""
    order: list[str] = []
    seen: set[str] = set()

    def visit(k: str) -> None:
        if k in seen:
            return
        seen.add(k)
        for dep in DAG[k]:
            visit(dep)
        order.append(k)

    for k in sorted(keys):
        visit(k)
    return order


# --------------------------------------------------------------------------- #
# fingerprints (config + file stats only — cheap, data-independent)
# --------------------------------------------------------------------------- #


def _files(path: Path) -> list[Path]:
    """``path``, or every file under it (recursively, sorted) when it is a
    directory: a Spark-written parquet directory whose part file is
    rewritten in place must change the snapshot."""
    if path.is_dir():
        return sorted(f for f in path.rglob("*") if f.is_file())
    return [path]


def _source_snapshot(compiled: CompiledProject, source_id: str) -> str:
    """sha256 over the source config + local file (path, size, mtime_ns)
    stats (reference fingerprints.py `_hash_source_inputs`), taken for
    every file under a directory path or glob match."""
    defn = compiled.definition
    cfg = defn.sources[source_id]
    h = hashlib.sha256()
    h.update(json.dumps(cfg.model_dump(mode="json"), sort_keys=True).encode())
    if not cfg.is_synthetic and cfg.loader.transport == "fs":
        path = Path(defn.data_path(cfg.loader.path))
        matches = sorted(path.parent.glob(path.name)) if any(
            ch in path.name for ch in "*?["
        ) else ([path] if path.exists() else [])
        for f in (f for match in matches for f in _files(match)):
            st = f.stat()
            h.update(f"{f}|{st.st_size}|{st.st_mtime_ns}".encode())
    return h.hexdigest()


def _stream_closure(compiled: CompiledProject, stream_id: str) -> tuple[list[str], list[str]]:
    """(stream ids, source ids) transitively reachable from `stream_id`."""
    from datapipeline_spark.plans.config import (
        AlignFrom,
        BroadcastFrom,
        SourceFrom,
        StreamFrom,
    )

    streams: list[str] = []
    sources: list[str] = []
    stack = [stream_id]
    while stack:
        sid = stack.pop()
        if sid in streams:
            continue
        streams.append(sid)
        frm = compiled.definition.streams[sid].from_
        if isinstance(frm, SourceFrom):
            sources.append(frm.source)
        elif isinstance(frm, StreamFrom):
            stack.append(frm.stream)
        elif isinstance(frm, BroadcastFrom):
            stack.extend([frm.stream, frm.broadcast])
        elif isinstance(frm, AlignFrom):
            stack.extend(frm.align)
    return sorted(streams), sorted(set(sources))


def _dataset_streams(compiled: CompiledProject) -> list[str]:
    cfg = compiled.definition.dataset
    specs: list[FeatureSpec] = [*cfg.features, *cfg.targets] if cfg else []
    return sorted({spec.stream for spec in specs})


def artifact_fingerprint(
    compiled: CompiledProject, key: str, dependency_hashes: dict[str, str]
) -> str:
    defn = compiled.definition
    cfg = defn.dataset
    h = hashlib.sha256()
    h.update(f"revision={defn.project.artifact_revision}|layout={LAYOUT}|key={key}".encode())
    h.update(json.dumps(dependency_hashes, sort_keys=True).encode())
    for spec in [*cfg.features, *cfg.targets] if cfg else []:
        h.update(json.dumps(spec.model_dump(mode="json"), sort_keys=True).encode())
    if cfg is not None:
        h.update(json.dumps(cfg.sample.model_dump(mode="json"), sort_keys=True).encode())
        if key == SCALER and cfg.split is not None:
            h.update(json.dumps(cfg.split.model_dump(mode="json"), sort_keys=True).encode())
    for sid in _dataset_streams(compiled):
        streams, sources = _stream_closure(compiled, sid)
        for s in streams:
            h.update(
                json.dumps(
                    compiled.definition.streams[s].model_dump(mode="json", by_alias=True),
                    sort_keys=True,
                ).encode()
            )
        for src in sources:
            h.update(_source_snapshot(compiled, src).encode())
    return h.hexdigest()


def _fingerprints(compiled: CompiledProject, keys: set[str]) -> dict[str, str]:
    """key → fingerprint for ``keys`` and everything they depend on, in
    topological order (each key hashes its dependencies' fingerprints).
    Each key is hashed once per compiled project, like its staged series:
    a dataset build that checks three artifacts stats the source files
    once per key, not once per check."""
    hashes = compiled._fingerprints
    for key in topological_order(keys):
        if key not in hashes:
            hashes[key] = artifact_fingerprint(
                compiled, key, {d: hashes[d] for d in DAG[key]}
            )
    return {key: hashes[key] for key in topological_order(keys)}


def _fingerprint_sees_sources(compiled: CompiledProject) -> bool:
    """Whether every source the dataset reads is a local file loader, the
    only kind whose data the fingerprint snapshots. An ``http`` or
    entry-point loader can return new data under an unchanged fingerprint."""
    defn = compiled.definition
    return all(
        not defn.sources[src].is_synthetic and defn.sources[src].loader.transport == "fs"
        for sid in _dataset_streams(compiled)
        for src in _stream_closure(compiled, sid)[1]
    )


# --------------------------------------------------------------------------- #
# producers — each returns the frame the store writes
# --------------------------------------------------------------------------- #


def _build_metadata(compiled: CompiledProject, series: DataFrame) -> DataFrame:
    """Per-series facts (``series_facts``) at the dataset's cadence and
    sample keys, the ones a dataset build asks at plan time; the
    fingerprint hashes ``sample`` for every key, so a changed cadence or
    key set makes the artifact stale."""
    sample = compiled.definition.dataset.sample
    return series_facts(series, sample.cadence, list(sample.keys))


def _build_coverage(compiled: CompiledProject, metadata: DataFrame) -> DataFrame:
    """Per-series coverage ratio = present/total rows (reference
    analysis/vector/coverage_stats.py:24-118 ratios)."""
    return metadata.select(
        "series_id",
        "n_rows",
        "n_present",
        (F.col("n_present") / F.greatest(F.col("n_rows"), F.lit(1)).cast("double")).alias(
            "coverage"
        ),
    )


def _build_scaler(compiled: CompiledProject) -> DataFrame:
    """The dataset build's own scaler fit, over the staged series frame."""
    from datapipeline_spark.plans.dataset_build import fit_split_scaler

    stats = fit_split_scaler(compiled.series(), compiled.definition.dataset)
    if stats is None:
        raise ValueError("dataset requires no scaler (no scale: true entries)")
    return stats


def _build_ticks(compiled: CompiledProject) -> DataFrame:
    """Per-partition dense tick grids at the sample cadence, one per stream
    used by the dataset (reference operations/artifacts/ticks.py:67-132).
    Each grid is unique per (partition, time), so the union needs no dedupe.

    A stream's grid comes from the staged series frame filtered to one of
    its scalar base ids: ``project_stream_series`` filters no scalar row,
    so every stream row is there with its raw time, and the series and
    scaler producers have already run the stream's transforms for it. Two
    kinds of stream read the stream itself, re-running its transforms: one
    whose ``partition_by`` is not contained in the sample keys (the fields
    left over are encoded in the series-id suffix, not kept as columns),
    and one whose dataset specs are all sequences (a sequence base holds
    only its kept windows, so its rows do not span the stream's bounds)."""
    cfg = compiled.definition.dataset
    cadence = cfg.sample.cadence
    specs = [*cfg.features, *cfg.targets]
    scalar_base: dict[str, str] = {}
    for spec in specs:
        if spec.sequence is None:
            scalar_base.setdefault(spec.stream, spec.id)
    grids = []
    for stream_id in dict.fromkeys(s.stream for s in specs):
        partition_by = compiled.partition_by(stream_id)
        if stream_id in scalar_base and set(partition_by) <= set(cfg.sample.keys):
            rows = compiled.series().filter(F.col("base_id") == scalar_base[stream_id])
        else:
            rows = compiled.stream(stream_id)
        grid = tick_grid(rows, cadence, partition_by)
        grids.append(
            grid.select(
                F.lit(stream_id).alias("stream_id"),
                F.to_json(F.struct(*partition_by)).alias("partition_json")
                if partition_by
                else F.lit("{}").alias("partition_json"),
                "time",
            )
        )
    return reduce(DataFrame.unionByName, grids)


def dataset_requires_scaler(compiled: CompiledProject) -> bool:
    cfg = compiled.definition.dataset
    return cfg is not None and any(s.scaled for s in [*cfg.features, *cfg.targets])


# --------------------------------------------------------------------------- #
# executor
# --------------------------------------------------------------------------- #


@dataclass
class BuildResult:
    key: str
    path: Path
    fingerprint: str
    skipped: bool


def driver_rows(df: DataFrame) -> list[Row]:
    """``df`` collected, with every timestamp column as microseconds since
    the epoch: exact, and independent of the driver's time zone. Floats
    come back as the JVM's doubles, which JSON holds exactly (``repr``
    round-trips NaN, ±0.0, subnormals and ±Inf)."""
    return df.select(
        *[
            F.unix_micros(df[f.name]).alias(f.name)
            if isinstance(f.dataType, TimestampType)
            else df[f.name]
            for f in df.schema.fields
        ]
    ).collect()


def _local_frame(spark: SparkSession, schema: StructType, rows: list[list]) -> DataFrame:
    """A local relation of ``rows`` (as ``driver_rows`` encodes them) under
    ``schema``: built from Arrow columns, so reading and collecting it
    runs no Spark job."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow = to_arrow_schema(schema)
    columns = list(zip(*rows)) if rows else [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(list(c), type=f.type) for c, f in zip(columns, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, schema)


class ArtifactStore:
    """`<artifacts_dir>/<key>/` with `manifest.json` (fingerprint, format,
    the producer's schema) beside `data.json` (the ``JSON_KEYS``) or
    `data.parquet/` (series, ticks)."""

    def __init__(self, root: str | Path) -> None:
        self.root = Path(root)

    def manifest(self, key: str) -> dict | None:
        p = self.root / key / "manifest.json"
        if not p.is_file():
            return None
        return json.loads(p.read_text())

    def data_path(self, key: str) -> Path:
        return self.root / key / ("data.json" if key in JSON_KEYS else "data.parquet")

    def read(self, compiled: CompiledProject, key: str) -> DataFrame:
        """The artifact under its manifest's schema: a local relation for
        the JSON artifacts, a Parquet scan (all-nullable, as file sources
        are) for the others."""
        manifest = self.manifest(key)
        if manifest is None:
            raise FileNotFoundError(f"artifact {key!r} not built under {self.root}")
        schema = StructType.fromJson(manifest["schema"])
        path = self.data_path(key)
        if key in JSON_KEYS:
            return _local_frame(compiled.spark, schema, json.loads(path.read_text()))
        return compiled.spark.read.schema(schema).parquet(str(path))

    def write(self, key: str, df: DataFrame, fingerprint: str) -> Path:
        target = self.root / key
        tmp = self.root / f".{key}.tmp"
        if tmp.exists():
            shutil.rmtree(tmp)
        data = tmp / self.data_path(key).name
        if key in JSON_KEYS:
            tmp.mkdir(parents=True)
            data.write_text(json.dumps([list(r) for r in driver_rows(df)]))
        else:
            df.write.mode("overwrite").parquet(str(data))
        manifest = {
            "key": key,
            "fingerprint": fingerprint,
            "format": "json" if key in JSON_KEYS else "parquet",
            "schema": df.schema.jsonValue(),
        }
        (tmp / "manifest.json").write_text(json.dumps(manifest, indent=2))
        if target.exists():
            shutil.rmtree(target)
        tmp.rename(target)
        return target


def _project_store(compiled: CompiledProject) -> ArtifactStore:
    """The store under the project's configured artifacts path."""
    defn = compiled.definition
    return ArtifactStore(defn.root / defn.project.paths.artifacts)


def _is_fresh(store: ArtifactStore, key: str, fingerprint: str) -> bool:
    """The one freshness rule: the artifact's manifest carries
    ``fingerprint``."""
    manifest = store.manifest(key)
    return manifest is not None and manifest.get("fingerprint") == fingerprint


def fresh_frame(compiled: CompiledProject, key: str) -> DataFrame | None:
    """The artifact in the project's artifacts directory when it is fresh
    (the rule ``build_artifacts`` skips on), else None; dataset builds read
    it in place of recomputing. None as well when the dataset reads a
    source the fingerprint cannot see. See the module docstring for the
    rule's limit."""
    if not _fingerprint_sees_sources(compiled):
        return None
    store = _project_store(compiled)
    if not _is_fresh(store, key, _fingerprints(compiled, {key})[key]):
        return None
    return store.read(compiled, key)


def build_artifacts(
    compiled: CompiledProject,
    keys: set[str] | None = None,
    force: bool = False,
) -> dict[str, BuildResult]:
    """Topological, fingerprint-skipped build (reference executor:95-205)
    into the project's artifacts path. Only a producer that runs reads its
    dependency back from the store, so a build whose artifacts are all
    fresh runs no Spark job."""
    store = _project_store(compiled)
    if keys is None:
        keys = {SERIES, METADATA, COVERAGE_STATS, TICKS}
        if dataset_requires_scaler(compiled):
            keys.add(SCALER)
    producers: dict[str, Callable[[], DataFrame]] = {
        SERIES: compiled.series,
        METADATA: lambda: _build_metadata(compiled, store.read(compiled, SERIES)),
        COVERAGE_STATS: lambda: _build_coverage(compiled, store.read(compiled, METADATA)),
        SCALER: lambda: _build_scaler(compiled),
        TICKS: lambda: _build_ticks(compiled),
    }
    results: dict[str, BuildResult] = {}
    for key, fp in _fingerprints(compiled, keys).items():
        if not force and _is_fresh(store, key, fp):
            results[key] = BuildResult(key, store.root / key, fp, skipped=True)
            continue
        path = store.write(key, producers[key](), fp)
        results[key] = BuildResult(key, path, fp, skipped=False)
    return results
