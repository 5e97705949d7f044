"""Workspace utilities: entity listing, project/source/stream scaffolding,
and stale-output cleanup.

Reference surface (cli/parser/{list_,clean,scaffold,demo}.py +
cli/commands/{list_,clean,demo,source,stream}.py): `jerry list
sources|parsers|mappers|combiners|loaders`, `jerry source|stream create`,
`jerry demo init`, `jerry clean [--yes] [--older-than AGE]`. The Spark
engine's analogue of the reference's sort-spill cleanup target is the
run-scoped output directory tree plus the streaming staging dirs bench/tests
leave under /tmp — Spark manages its own shuffle spill space.
"""

from __future__ import annotations

import glob
import os
import shutil
import time
from pathlib import Path

from datapipeline_spark.functions.time import parse_timecode_seconds


# ------------------------------------------------------------------- listing


def list_entities(kind: str, project_dir: str | None = None) -> list[str]:
    """Names for `list <kind>`. Registry kinds need no project; sources/
    streams/artifacts read the project YAML without starting Spark."""
    from datapipeline_spark.plans import registry

    if kind == "loaders":
        return sorted(registry.LOADERS)
    if kind == "parsers":
        return sorted(registry.PARSERS)
    if kind == "mappers":
        return sorted(registry.MAPPERS)
    if kind == "combiners":
        return sorted(registry.COMBINERS)
    if kind == "queries":
        import __spark_entry__ as entry

        return sorted(entry.queries())
    if kind in ("sources", "streams"):
        if project_dir is None:
            raise ValueError(f"list {kind} requires --project")
        from datapipeline_spark.plans import load_project

        defn = load_project(project_dir)
        return sorted(defn.sources if kind == "sources" else defn.streams)
    raise ValueError(f"unknown list kind {kind!r}")


# --------------------------------------------------------------- scaffolding

_SOURCE_TMPL = """id: src.{name}
parser: {{ entrypoint: core.temporal_record }}
loader:
  transport: fs
  path: data/{name}.jsonl
  reader: {{ format: jsonl }}
"""

_STREAM_TMPL = """id: s.{name}
from: {{ source: src.{name} }}
transforms: []
"""


def _write_new(path: Path, text: str) -> Path:
    if path.exists():
        raise FileExistsError(f"{path} already exists")
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_text(text, encoding="utf-8")
    return path


def create_source(project_dir: str, name: str) -> Path:
    return _write_new(
        Path(project_dir) / "sources" / f"{name}.yaml", _SOURCE_TMPL.format(name=name)
    )


def create_stream(project_dir: str, name: str) -> Path:
    return _write_new(
        Path(project_dir) / "streams" / f"{name}.yaml", _STREAM_TMPL.format(name=name)
    )


_DEMO_ROWS = "\n".join(
    f'{{"time": "2024-01-01T{h:02d}:00:00Z", "value": {float(v)}}}'
    for h, v in enumerate([1.0, 2.0, 4.0, 8.0, 16.0, 32.0])
)


def demo_init(target_dir: str) -> Path:
    """Create a runnable end-to-end demo project: one jsonl source, one
    stream with a rolling fill, an hourly dataset with a scaled feature.
    `python -m datapipeline_spark.cli serve <dir>` works immediately."""
    root = Path(target_dir)
    if (root / "project.yaml").exists():
        raise FileExistsError(f"{root}/project.yaml already exists")
    _write_new(root / "project.yaml", "schema_version: 3\nname: demo\n")
    _write_new(root / "data" / "demo.jsonl", _DEMO_ROWS + "\n")
    _write_new(root / "sources" / "demo.yaml", _SOURCE_TMPL.format(name="demo"))
    _write_new(
        root / "streams" / "demo.yaml",
        """id: s.demo
from: { source: src.demo }
transforms:
  - { operation: fill, statistic: mean, window: 3, min_samples: 1, field: value }
""",
    )
    _write_new(
        root / "dataset.yaml",
        """sample:
  cadence: 1h
features:
  - { id: demo_value, stream: s.demo, field: value, scale: true }
targets: []
""",
    )
    return root


_PLUGIN_TMPL = '''"""Plugin skeleton for datapipeline_spark.

Import this module before compiling a project that references the
entrypoints (e.g. in your driver script or conftest):

    import {name}  # registers on import

Entrypoints are DataFrame-transform builders — stay on the Catalyst fast
path (pyspark.sql.functions); drop to mapInPandas only when unavoidable.
"""

from pyspark.sql import functions as F

from datapipeline_spark.plans.registry import (
    register_combiner,
    register_loader,
    register_mapper,
    register_parser,
)


def _my_mapper(df, args):
    """records -> records; args come from the stream YAML."""
    return df.withColumn("value", F.col("value"))


register_mapper("{name}.identity", _my_mapper)
'''


def plugin_init(target_dir: str, name: str) -> Path:
    """Create a plugin module skeleton that registers entrypoints on import
    (the Spark-side analogue of the reference's entry-point plugin package,
    cli/commands/plugin.py)."""
    if not name.isidentifier():
        raise ValueError(f"plugin name must be a Python identifier, got {name!r}")
    return _write_new(
        Path(target_dir) / f"{name}.py", _PLUGIN_TMPL.replace("{name}", name)
    )


def version_report() -> str:
    import pyspark

    from datapipeline_spark import __version__

    return f"datapipeline-spark {__version__} (pyspark {pyspark.__version__})"


def env_report() -> str:
    """Environment details beyond the one-line version (reference `jerry
    env`, cli/version.py:23-34): install location, interpreter, JVM."""
    import os
    import platform
    import sys
    from pathlib import Path

    import pyspark

    import datapipeline_spark

    from datapipeline_spark import __version__

    return "\n".join(
        [
            f"datapipeline-spark: {__version__}",
            f"package: {Path(datapipeline_spark.__file__).resolve().parent}",
            f"pyspark: {pyspark.__version__} ({Path(pyspark.__file__).resolve().parent})",
            f"python: {sys.executable}",
            f"python-version: {platform.python_version()}",
            f"java-home: {os.environ.get('JAVA_HOME', '(unset)')}",
        ]
    )


# ------------------------------------------------------------------- cleanup

#: the registry queries' cross-process caches, and state a killed call left
ENGINE_CACHES = (
    "/tmp/spark_graft_stream_*",
    "/tmp/spark_graft_cdc_state_*",
    "/tmp/spark_graft_bucketed/*",
)


def find_stale(project_dir: str | None, older_than: str = "0h") -> list[str]:
    """Candidate directories for `clean`: run-scoped outputs under the
    project's runs/ tree (never the `latest` symlink or its target) and the
    engine's caches under /tmp (``ENGINE_CACHES``), filtered by age."""
    cutoff = time.time() - parse_timecode_seconds(older_than)
    cands: list[str] = []
    if project_dir is not None:
        root = Path(project_dir)
        # run trees live at <root>/runs or <root>/<output.directory>/runs
        run_roots = [p for p in [root / "runs", *sorted(root.glob("*/runs"))] if p.is_dir()]
        for runs in run_roots:
            latest_target = None
            latest = runs / "latest"
            if latest.is_symlink():
                latest_target = os.path.realpath(latest)
            for d in sorted(runs.glob("*")):
                if d.name == "latest" or not d.is_dir():
                    continue
                if latest_target and os.path.realpath(d) == latest_target:
                    continue
                if d.stat().st_mtime <= cutoff:
                    cands.append(str(d))
    for d in sorted(d for pattern in ENGINE_CACHES for d in glob.glob(pattern)):
        if os.path.isdir(d) and os.stat(d).st_mtime <= cutoff:
            cands.append(d)
    return cands


def clean(project_dir: str | None, older_than: str = "0h", yes: bool = False) -> list[str]:
    """Dry-run by default (list what would go); `yes=True` deletes."""
    targets = find_stale(project_dir, older_than)
    if yes:
        for t in targets:
            shutil.rmtree(t, ignore_errors=True)
    return targets
