"""Artifact DAG with fingerprint-cached builds.

Reference: artifacts/specs.py:31-47 defines the DAG (scaler ⊥; series →
metadata → coverage_stats; ticks ⊥), artifacts/fingerprints.py:250-304 hashes
the typed config closure + source-file snapshots + artifact_revision +
upstream artifact hashes, and artifacts/executor.py:95-205 skips fresh
artifacts (AUTO) or rebuilds all (FORCE).

The skip logic hashes **configs and file stats, never data**, so it ports
unchanged; each producer writes Parquet plus a JSON manifest carrying the
fingerprint. The series and scaler producers share the staged series frame
(``CompiledProject.series``), so the stream transforms run once for both.
"""

from __future__ import annotations

import hashlib
import json
import shutil
from dataclasses import dataclass
from functools import reduce
from pathlib import Path
from typing import Callable

from pyspark.sql import DataFrame, functions as F

from datapipeline_spark.dataset.metadata import collect_series_metadata
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


def _source_snapshot(compiled: CompiledProject, source_id: str) -> str:
    """sha256 over the source config + local file (path, size, mtime_ns)
    stats (reference fingerprints.py `_hash_source_inputs`)."""
    defn = compiled.definition
    cfg = defn.sources[source_id]
    h = hashlib.sha256()
    h.update(json.dumps(cfg.model_dump(mode="json"), sort_keys=True).encode())
    if not cfg.is_synthetic and cfg.loader.transport == "fs":
        path = Path(defn.data_path(cfg.loader.path))
        files = sorted(path.parent.glob(path.name)) if any(
            ch in path.name for ch in "*?["
        ) else ([path] if path.exists() else [])
        for f in files:
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


def artifact_fingerprint(
    compiled: CompiledProject, key: str, dependency_hashes: dict[str, str]
) -> str:
    defn = compiled.definition
    cfg = defn.dataset
    h = hashlib.sha256()
    h.update(f"revision={defn.project.artifact_revision}|key={key}".encode())
    h.update(json.dumps(dependency_hashes, sort_keys=True).encode())
    specs: list[FeatureSpec] = [*cfg.features, *cfg.targets] if cfg else []
    stream_ids: set[str] = set()
    for spec in specs:
        h.update(json.dumps(spec.model_dump(mode="json"), sort_keys=True).encode())
        stream_ids.add(spec.stream)
    if cfg is not None:
        h.update(json.dumps(cfg.sample.model_dump(mode="json"), sort_keys=True).encode())
        if key == SCALER and cfg.split is not None:
            h.update(json.dumps(cfg.split.model_dump(mode="json"), sort_keys=True).encode())
    for sid in sorted(stream_ids):
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


# --------------------------------------------------------------------------- #
# producers — each writes parquet + manifest
# --------------------------------------------------------------------------- #


def _build_metadata(compiled: CompiledProject, series: DataFrame) -> DataFrame:
    return collect_series_metadata(series)


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
    Each grid is unique per (partition, time), so the union needs no dedupe."""
    cfg = compiled.definition.dataset
    cadence = cfg.sample.cadence
    grids = []
    for stream_id in dict.fromkeys(s.stream for s in [*cfg.features, *cfg.targets]):
        partition_by = compiled.partition_by(stream_id)
        grid = tick_grid(compiled.stream(stream_id), cadence, partition_by)
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
    return cfg is not None and any(s.scale for s in [*cfg.features, *cfg.targets])


# --------------------------------------------------------------------------- #
# executor
# --------------------------------------------------------------------------- #


@dataclass
class BuildResult:
    key: str
    path: Path
    fingerprint: str
    skipped: bool


class ArtifactStore:
    """`<artifacts_dir>/<key>/` with `data.parquet/` + `manifest.json`."""

    def __init__(self, root: str | Path) -> None:
        self.root = Path(root)

    def manifest(self, key: str) -> dict | None:
        p = self.root / key / "manifest.json"
        if not p.is_file():
            return None
        return json.loads(p.read_text())

    def data_path(self, key: str) -> Path:
        return self.root / key / "data.parquet"

    def read(self, compiled: CompiledProject, key: str) -> DataFrame:
        if self.manifest(key) is None:
            raise FileNotFoundError(f"artifact {key!r} not built under {self.root}")
        return compiled.spark.read.parquet(str(self.data_path(key)))

    def write(self, key: str, df: DataFrame, fingerprint: str) -> Path:
        target = self.root / key
        tmp = self.root / f".{key}.tmp"
        if tmp.exists():
            shutil.rmtree(tmp)
        df.write.mode("overwrite").parquet(str(tmp / "data.parquet"))
        (tmp / "manifest.json").write_text(
            json.dumps(
                {"key": key, "fingerprint": fingerprint, "format": "parquet"},
                indent=2,
            )
        )
        if target.exists():
            shutil.rmtree(target)
        tmp.rename(target)
        return target


def build_artifacts(
    compiled: CompiledProject,
    store: ArtifactStore | str | Path | None = None,
    keys: set[str] | None = None,
    force: bool = False,
) -> dict[str, BuildResult]:
    """Topological, fingerprint-skipped build (reference executor:95-205)."""
    if store is None:
        store = ArtifactStore(
            compiled.definition.root / compiled.definition.project.paths.artifacts
        )
    elif not isinstance(store, ArtifactStore):
        store = ArtifactStore(store)

    if keys is None:
        keys = {SERIES, METADATA, COVERAGE_STATS, TICKS}
        if dataset_requires_scaler(compiled):
            keys.add(SCALER)
    results: dict[str, BuildResult] = {}
    hashes: dict[str, str] = {}
    frames: dict[str, DataFrame] = {}

    producers: dict[str, Callable[[], DataFrame]] = {
        SERIES: compiled.series,
        METADATA: lambda: _build_metadata(compiled, frames[SERIES]),
        COVERAGE_STATS: lambda: _build_coverage(compiled, frames[METADATA]),
        SCALER: lambda: _build_scaler(compiled),
        TICKS: lambda: _build_ticks(compiled),
    }

    for key in topological_order(keys):
        deps = {d: hashes[d] for d in DAG[key]}
        fp = artifact_fingerprint(compiled, key, deps)
        hashes[key] = fp
        manifest = store.manifest(key)
        if not force and manifest is not None and manifest.get("fingerprint") == fp:
            results[key] = BuildResult(key, store.root / key, fp, skipped=True)
            frames[key] = store.read(compiled, key)
            continue
        df = producers[key]()
        path = store.write(key, df, fp)
        frames[key] = store.read(compiled, key)
        results[key] = BuildResult(key, path, fp, skipped=False)
    return results
