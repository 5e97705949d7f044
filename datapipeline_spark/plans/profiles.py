"""Profile orchestration: run every enabled profile of one command, in order.

Reference: profiles/orchestration.py — `run_profiles` dispatches typed
requests per command; build profiles are validated against the artifact DAG
(unique operations, dependencies ordered before dependents,
orchestration.py:227-239); serve profiles share one compiled runtime and
route dataset outputs; materialize jobs are preflighted before any work.

Spark shape: the expensive objects (compiled project, dataset build) are
constructed once and shared across profiles; every serve profile's
outputs are narrow reads of the build's one staged sample table
(plans/dataset_build.py).
"""

from __future__ import annotations

import datetime as _dt
import json
import sys
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import SparkSession

from datapipeline_spark.plans.compiler import CompiledProject, compile_project
from datapipeline_spark.plans.config import (
    BuildProfileConfig,
    InspectProfileConfig,
    MaterializeProfileConfig,
    ServeProfileConfig,
    ordered_profiles,
)
from datapipeline_spark.plans.project import ProjectDefinition, load_project


@dataclass
class ProfileResult:
    profile: str  # "<cmd>.<name>"
    action: str  # built | skipped | served | inspected | materialized
    detail: str  # output path / summary
    output_id: str | None = None  # serve: "fold.role" or preview stage


def run_profiles(
    spark: SparkSession,
    project_dir: str | Path,
    command: str,
    run_id: str | None = None,
    only: str | None = None,
) -> list[ProfileResult]:
    defn = load_project(project_dir)
    profs = select_profiles(defn, command, only)
    if not profs:
        return []
    compiled = compile_project(spark, defn)
    if command == "build":
        return _run_build(compiled, profs)
    if command == "serve":
        return _run_serve(compiled, defn, profs, Path(project_dir), run_id)
    if command == "inspect":
        return _run_inspect(compiled, profs)
    if command == "materialize":
        return _run_materialize(compiled, profs, Path(project_dir))
    raise ValueError(f"unknown profile command {command!r}")


def select_profiles(
    defn: ProjectDefinition, command: str, only: str | None = None
) -> list:
    """The enabled profiles of ``command`` in execution order; with ``only``,
    just the one of that name (KeyError when there is none)."""
    candidates = [p for p in defn.profiles.values() if p.cmd == command and p.enabled]
    if only is not None:
        candidates = [p for p in candidates if p.name == only]
        if not candidates:
            raise KeyError(
                f"no enabled {command} profile named {only!r}; available: "
                f"{sorted(p.name for p in defn.profiles.values() if p.cmd == command)}"
            )
    return ordered_profiles(candidates)


# --------------------------------------------------------------------------- #
# build
# --------------------------------------------------------------------------- #


def validate_build_order(profs: list[BuildProfileConfig]) -> None:
    """Reference orchestration.py:227-239: operations unique; every
    configured dependency must be ordered before its dependent."""
    from datapipeline_spark.plans.artifacts import DAG, topological_order

    operations = [p.operation for p in profs]
    for op in operations:
        if op not in DAG:
            raise ValueError(
                f"unknown artifact operation {op!r}; known: {sorted(DAG)}"
            )
    if len(operations) != len(set(operations)):
        raise ValueError("build profiles must reference unique artifact operations")
    positions = {op: i for i, op in enumerate(operations)}
    for op, pos in positions.items():
        # op and every artifact it transitively needs (op itself never
        # sits after its own position)
        for dep in topological_order({op}):
            dep_pos = positions.get(dep)
            if dep_pos is not None and dep_pos > pos:
                raise ValueError(
                    f"build profile operation {dep!r} must be ordered before "
                    f"dependent operation {op!r}"
                )


def _run_build(
    compiled: CompiledProject, profs: list[BuildProfileConfig]
) -> list[ProfileResult]:
    from datapipeline_spark.plans.artifacts import build_artifacts

    validate_build_order(profs)
    results: list[ProfileResult] = []
    for p in profs:
        key = f"build.{p.name}"
        if p.mode == "OFF":
            results.append(ProfileResult(key, "skipped", "mode=OFF"))
            continue
        built = build_artifacts(
            compiled, keys={p.operation}, force=(p.mode == "FORCE")
        )
        res = built[p.operation]
        action = "skipped" if res.skipped else "built"
        results.append(ProfileResult(key, action, str(res.path)))
    return results


# --------------------------------------------------------------------------- #
# serve
# --------------------------------------------------------------------------- #


def _serve_frames(compiled: CompiledProject, prof: ServeProfileConfig, build):
    """(output_id → DataFrame) for one serve profile, honoring preview and
    include_outputs (reference execution.py:49-78: output routing is a
    dataset-operation feature; preview bypasses fold routing)."""
    if prof.preview is not None:
        from datapipeline_spark.plans.dataset_build import (
            postprocess_preview,
            samples_preview,
        )

        if prof.preview == "samples":
            return {"samples": samples_preview(compiled)}
        return {"postprocess": postprocess_preview(build)}
    outs = {f"{fold}.{role}": df for (fold, role), df in build.outputs().items()}
    if prof.include_outputs is not None:
        missing = [o for o in prof.include_outputs if o not in outs]
        if missing:
            raise ValueError(
                f"include_outputs {missing} not produced by the dataset; "
                f"available: {sorted(outs)}"
            )
        outs = {o: outs[o] for o in prof.include_outputs}
    return outs


def _run_serve(
    compiled: CompiledProject,
    defn: ProjectDefinition,
    profs: list[ServeProfileConfig],
    project_dir: Path,
    run_id: str | None,
) -> list[ProfileResult]:
    from datapipeline_spark.io.writers import (
        run_output_path,
        write_csv,
        write_jsonl,
        write_orc,
        write_parquet,
    )
    from datapipeline_spark.plans.dataset_build import build_dataset

    build = build_dataset(compiled)
    run_id = run_id or _dt.datetime.now(_dt.timezone.utc).strftime("%Y%m%dT%H%M%SZ")
    results: list[ProfileResult] = []
    for p in profs:
        key = f"serve.{p.name}"
        if p.observability and p.observability.logging:
            # Python logging names (reference grammar) → log4j levels
            log4j = {"CRITICAL": "FATAL", "WARNING": "WARN"}
            level = p.observability.logging.level
            compiled.spark.sparkContext.setLogLevel(log4j.get(level, level))
        if p.artifact_mode in ("AUTO", "FORCE"):
            # reference orchestration.py:60-91 — serve hydrates the artifact
            # DAG before serving (AUTO = fingerprint skip, FORCE = rebuild)
            from datapipeline_spark.plans.artifacts import build_artifacts

            build_artifacts(compiled, force=(p.artifact_mode == "FORCE"))
        for output_id, df in _serve_frames(compiled, p, build).items():
            if p.limit:
                df = df.limit(p.limit)
            if p.output.transport == "stdout":
                for row in df.toJSON().toLocalIterator(prefetchPartitions=True):
                    sys.stdout.write(row + "\n")
                results.append(
                    ProfileResult(key, "served", f"stdout:{output_id}", output_id)
                )
                continue
            stem = p.output.filename or p.name
            fold, role = (
                output_id.split(".", 1) if "." in output_id else (output_id, None)
            )
            path = run_output_path(
                str(project_dir / p.output.directory),
                run_id,
                stem,
                fold,
                role,
                ext=p.output.format,
            )
            if p.output.format == "jsonl":
                write_jsonl(df, path, gzip=p.output.gzip)
            elif p.output.format == "csv":
                write_csv(df, path, gzip=p.output.gzip)
            elif p.output.format == "orc":
                write_orc(df, path)
            else:
                write_parquet(df, path)
            results.append(ProfileResult(key, "served", path, output_id))
    return results


# --------------------------------------------------------------------------- #
# inspect
# --------------------------------------------------------------------------- #


def stream_info(compiled: CompiledProject) -> dict[str, dict]:
    """stream id → partition_by and schema, for every compiled stream."""
    return {
        sid: {
            "partition_by": compiled.partition_by(sid),
            "schema": compiled.stream(sid).schema.simpleString(),
        }
        for sid in sorted(compiled.definition.streams)
    }


def _run_inspect(
    compiled: CompiledProject, profs: list[InspectProfileConfig]
) -> list[ProfileResult]:
    from datapipeline_spark.plans.artifacts import _build_coverage, _build_metadata

    results: list[ProfileResult] = []
    for p in profs:
        key = f"inspect.{p.name}"
        if p.operation == "streams":
            sys.stdout.write(json.dumps(stream_info(compiled), indent=2) + "\n")
            results.append(ProfileResult(key, "inspected", "streams"))
        elif p.operation == "coverage":
            cov = _build_coverage(
                compiled, _build_metadata(compiled, compiled.series())
            )
            for row in cov.toJSON().toLocalIterator():
                sys.stdout.write(row + "\n")
            results.append(ProfileResult(key, "inspected", "coverage"))
        else:  # matrix
            from datapipeline_spark.dataset.matrix import (
                availability_statuses,
                collect_matrix,
                render_html,
            )

            cfg = compiled.definition.dataset
            if cfg is None:
                raise ValueError("inspect matrix requires dataset.yaml")
            statuses = availability_statuses(
                compiled.series(), cfg.sample.cadence
            )
            html = render_html(*collect_matrix(statuses))
            if p.output is not None and p.output.transport == "fs":
                out_dir = compiled.definition.root / p.output.directory
                out_dir.mkdir(parents=True, exist_ok=True)
                out = out_dir / f"{p.output.filename or p.name}.html"
                out.write_text(html, encoding="utf-8")
                results.append(ProfileResult(key, "inspected", str(out)))
            else:
                sys.stdout.write(html + "\n")
                results.append(ProfileResult(key, "inspected", "matrix"))
    return results


# --------------------------------------------------------------------------- #
# materialize
# --------------------------------------------------------------------------- #


def _run_materialize(
    compiled: CompiledProject,
    profs: list[MaterializeProfileConfig],
    project_dir: Path,
) -> list[ProfileResult]:
    from datapipeline_spark.io.writers import materialize

    # preflight every job before running any (reference materialize.py
    # preflight: unknown streams, clashing/existing destinations)
    paths: dict[Path, str] = {}
    for p in profs:
        if p.stream not in compiled.definition.streams:
            raise ValueError(f"materialize profile {p.name!r}: unknown stream {p.stream!r}")
        dest = (project_dir / p.output).resolve()
        if dest in paths:
            raise ValueError(
                f"materialize profiles {paths[dest]!r} and {p.name!r} share output {dest}"
            )
        paths[dest] = p.name
        if dest.exists() and not p.overwrite:
            raise ValueError(
                f"materialize output {dest} exists (set overwrite: true to replace)"
            )
    results: list[ProfileResult] = []
    for p in profs:
        dest = (project_dir / p.output).resolve()
        materialize(
            compiled.stream(p.stream),
            str(dest),
            format="jsonl",
            gzip=p.output.endswith(".gz"),
        )
        results.append(ProfileResult(f"materialize.{p.name}", "materialized", str(dest)))
    return results
