"""Static checks over the source tree (no Spark session)."""

from __future__ import annotations

import ast
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
#: source roots checked; perfbench/work holds generated run inputs
SOURCES = ("datapipeline_spark", "tools", "perfbench")
SKIP = (ROOT / "perfbench" / "work",)


def _top_level_bindings(tree: ast.Module):
    """(name, line) for every name a module's top-level statements bind:
    def, class, plain and annotated assignment, import."""
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            yield node.name, node.lineno
        elif isinstance(node, ast.Assign):
            for target in node.targets:
                if isinstance(target, ast.Name):
                    yield target.id, node.lineno
        elif isinstance(node, ast.AnnAssign) and node.value is not None:
            if isinstance(node.target, ast.Name):
                yield node.target.id, node.lineno
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            for alias in node.names:
                yield (alias.asname or alias.name).split(".")[0], node.lineno


def test_no_module_defines_a_top_level_name_twice():
    """A second top-level binding silently shadows the first, so the first
    is dead code that still reads as live."""
    dupes = []
    for src in SOURCES:
        for path in sorted((ROOT / src).rglob("*.py")):
            if any(path.is_relative_to(s) for s in SKIP):
                continue
            lines = defaultdict(list)
            for name, line in _top_level_bindings(ast.parse(path.read_text())):
                lines[name].append(line)
            dupes += [
                f"{path.relative_to(ROOT)}: {name} at lines {ls}"
                for name, ls in lines.items()
                if len(ls) > 1
            ]
    assert not dupes, "top-level names bound twice:\n" + "\n".join(dupes)
