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


#: engine defs reached by nothing but tests, kept on purpose
KEEP = {
    "iter_samples": "public API (api.py), with dataset_frame behind it",
    "decode_series_id": "reference series-id codec, the inverse of the encoder (SURVEY.md §1.1)",
    "zorder_sql": "oracle twin of zorder_key that test_zorder.py compares against",
    "corrected_estimate": "driver half of the hll_distinct_orders query",
    "apply_bpe": "tokenizer half of learned BPE (the bpe_merges query)",
    "apply_expectations": "enforcing half of expectation_report (the dq_expectations query)",
    "stream_jsonl_source": "the file source the streaming tests drive",
}
_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _uses(node: ast.AST, own: str | None = None) -> set[str]:
    """Names, attributes and identifier strings a node mentions, less its
    own name (a recursive call is not a use)."""
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.Constant) and isinstance(n.value, str) and n.value.isidentifier():
            out.add(n.value)
    return out - {own}


def _is_query(node: ast.AST) -> bool:
    """A registry query: decorated with `@query(...)`."""
    for d in node.decorator_list:
        f = d.func if isinstance(d, ast.Call) else d
        if isinstance(f, ast.Name) and f.id == "query":
            return True
    return False


def test_every_engine_def_is_reached_outside_tests():
    """Every top-level def/class under datapipeline_spark/ is reached from a
    registry query, a module's top-level code, bench.py, perfbench/ or
    tools/, through uses by name, attribute or identifier string. A def
    reached only from another unreached def is unreached. `__init__.py`
    re-exports and tests do not count; KEEP names the deliberate roots."""
    engine: dict[str, list[ast.AST]] = defaultdict(list)  # def name -> defs
    reached: set[str] = set(KEEP)
    for path in sorted((ROOT / "datapipeline_spark").rglob("*.py")):
        if path.name == "__init__.py":
            continue
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, _DEFS) and not _is_query(node):
                engine[node.name].append(node)
            else:
                reached |= _uses(node, getattr(node, "name", None))
    drivers = [ROOT / "bench.py", *(ROOT / "perfbench").rglob("*.py")]
    for path in drivers + sorted((ROOT / "tools").rglob("*.py")):
        if not any(path.is_relative_to(s) for s in (*SKIP, ROOT / "perfbench" / "tests")):
            reached |= _uses(ast.parse(path.read_text()))
    todo, seen = list(reached & engine.keys()), set()
    while todo:
        name = todo.pop()
        if name not in seen:
            seen.add(name)
            for node in engine[name]:
                todo += [u for u in _uses(node, name) if u in engine]
    assert not KEEP.keys() - engine.keys(), "KEEP names no engine def"
    unreached = sorted(engine.keys() - seen)
    assert not unreached, "engine defs reached only by tests:\n" + "\n".join(unreached)
