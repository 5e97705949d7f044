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


def _outside_names(tree: ast.Module) -> set[str]:
    """Names a module binds by importing from outside datapipeline_spark
    (``pq`` of ``import pyarrow.parquet as pq``, ``F``, ``np``, ...):
    their attributes are never engine defs."""
    out = set()
    for n in ast.walk(tree):
        if isinstance(n, ast.Import):
            out |= {
                (a.asname or a.name).split(".")[0]
                for a in n.names
                if not a.name.startswith("datapipeline_spark")
            }
        elif isinstance(n, ast.ImportFrom) and n.level == 0:
            if not (n.module or "").startswith("datapipeline_spark"):
                out |= {a.asname or a.name for a in n.names}
    return out


def _uses(node: ast.AST, own: str | None = None, outside: set[str] = frozenset()) -> set[str]:
    """Names, attributes and identifier strings a node mentions, less its
    own name (a recursive call is not a use) and the attributes of
    ``outside`` names (``pq.write_table`` is not the engine's)."""
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            if not (isinstance(n.value, ast.Name) and n.value.id in outside):
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


def _caller_files() -> list[Path]:
    """The callers outside the package that count: bench.py, perfbench/
    (less its tests and generated inputs) and tools/."""
    paths = [ROOT / "bench.py", *sorted((ROOT / "perfbench").rglob("*.py"))]
    paths += sorted((ROOT / "tools").rglob("*.py"))
    return [p for p in paths if not any(p.is_relative_to(s) for s in (*SKIP, ROOT / "perfbench" / "tests"))]


def test_every_engine_def_is_reached_outside_tests():
    """Every top-level def/class under datapipeline_spark/ is reached from a
    registry query, a module's top-level code, bench.py, perfbench/ or
    tools/, through uses by name, attribute or identifier string. A def
    reached only from another unreached def is unreached. `__init__.py`
    re-exports and tests do not count, nor do attributes of names imported
    from outside the package; KEEP names the deliberate roots."""
    engine: dict[str, list[tuple[ast.AST, set[str]]]] = defaultdict(list)
    reached: set[str] = set(KEEP)
    for path in sorted((ROOT / "datapipeline_spark").rglob("*.py")):
        if path.name == "__init__.py":
            continue
        tree = ast.parse(path.read_text())
        outside = _outside_names(tree)
        for node in tree.body:
            if isinstance(node, _DEFS) and not _is_query(node):
                engine[node.name].append((node, outside))
            else:
                reached |= _uses(node, getattr(node, "name", None), outside)
    for path in _caller_files():
        tree = ast.parse(path.read_text())
        reached |= _uses(tree, outside=_outside_names(tree))
    todo, seen = list(reached & engine.keys()), set()
    while todo:
        name = todo.pop()
        if name not in seen:
            seen.add(name)
            for node, outside in engine[name]:
                todo += [u for u in _uses(node, name, outside) if u in engine]
    assert not KEEP.keys() - engine.keys(), "KEEP names no engine def"
    unreached = sorted(engine.keys() - seen)
    assert not unreached, "engine defs reached only by tests:\n" + "\n".join(unreached)


#: engine options no caller outside the tests sets, kept on purpose
#: ("def.param": why the second value exists)
KEEP_OPTIONS = {
    "dataset_frame.fold": "public API (api.py), behind iter_samples",
    "dataset_frame.role": "public API (api.py), behind iter_samples",
    "iter_samples.fold": "public API (api.py)",
    "iter_samples.role": "public API (api.py)",
    "iter_samples.limit": "public API (api.py)",
    "iter_model_batches.fold": "public API (api.py)",
    "iter_model_batches.role": "public API (api.py)",
    "iter_model_batches.batch_size": "public API (api.py)",
    "iter_model_batches.strict_finite": "public API (api.py)",
    "collect_matrix.max_cells": "seam: tests lower the cap to reach its raise at small data",
    "frequent_pairs.min_item_support": "seam: tests prune at 2-3 on a few rows, and the property "
    "test checks the unpruned default against pure Python",
    "chunk_documents.size": "seam: tests chunk a few words at size 4 and reach the size check with 0",
    "contrastive_pairs.chunk_size": "seam: tests need 8-token chunks to form anchors on short documents",
    "pack_sequences.seq_len": "seam: tests pack at 8-10 tokens and reach the length check with 0",
    "build_inverted_index.max_df": "seam: tests turn the document-frequency cap off (None) and on (2)",
    "heavy_hitters.k": "seam: tests use k of 3-4 to reach Misra-Gries eviction at small data",
    "mg_candidates.k": "seam: heavy_hitters' k, which the property test sweeps",
    "label_propagation.rounds": "seam: tests pin one synchronous round (1), and the property test "
    "replays 1-4 rounds in pure Python",
    "ppjoin_pairs.threshold": "seam: the property test sweeps thresholds against a brute-force "
    "all-pairs join to reach the prefix-length boundaries",
    "interval_join.bucket": "reference: tests compare bucket widths against each other and a naive "
    "join, since the result must not depend on the bucket",
    "ols.prereduce": "reference: test_prereduce_sufficient_stats_identical checks the pre-reduced "
    "form against the per-row default",
    "align_streams.validate": "safety check only tests turn on: raises on duplicate keys",
    "decode_media.codec": "'real' is the native PPM/WAV decoder that tests/test_multimodal.py pins; "
    "folding it deletes that decoder and its three tests",
}
_FUNCS = (ast.FunctionDef, ast.AsyncFunctionDef)
_OPAQUE = "opaque"  # a value no literal names: counts as many values


def _constants(tree: ast.Module) -> dict[str, str]:
    """Module-level ``NAME = <literal>`` bindings, as repr of the value."""
    out = {}
    for node in tree.body:
        if isinstance(node, ast.Assign) and len(node.targets) == 1:
            target = node.targets[0]
            if isinstance(target, ast.Name):
                try:
                    out[target.id] = repr(ast.literal_eval(node.value))
                except ValueError:
                    pass
    return out


def _value(node: ast.AST, consts: dict[str, str]) -> str:
    """A literal's repr, a module constant's value, or _OPAQUE."""
    if isinstance(node, ast.Name) and node.id in consts:
        return consts[node.id]
    try:
        return repr(ast.literal_eval(node))
    except ValueError:
        return _OPAQUE


class _Def:
    """An engine function: its parameters, defaults and module constants."""

    def __init__(self, node: ast.AST, method: bool, consts: dict[str, str]) -> None:
        a = node.args
        pos = a.posonlyargs + a.args
        self.node, self.consts = node, consts
        self.positional = [p.arg for p in pos][1 if method else 0:]
        self.params = {p.arg for p in pos + a.kwonlyargs}
        self.defaults = dict(zip([p.arg for p in pos][len(pos) - len(a.defaults):], a.defaults))
        self.defaults |= {p.arg: d for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None}

    def tested(self) -> set[str]:
        """Parameters the body tests: in an if/while/ternary test, a boolean
        operator or a comprehension filter."""
        exprs = []
        for n in ast.walk(self.node):
            if isinstance(n, (ast.If, ast.While, ast.IfExp)):
                exprs.append(n.test)
            elif isinstance(n, ast.BoolOp):
                exprs += n.values
            elif isinstance(n, ast.comprehension):
                exprs += n.ifs
        return {m.id for e in exprs for m in ast.walk(e) if isinstance(m, ast.Name)} & self.params


def _engine_calls():
    """(engine defs by name, [(calling def or None, call, module constants,
    outside names)]) over the package and the counted callers."""
    defs: dict[str, list[_Def]] = defaultdict(list)
    calls = []
    engine = sorted((ROOT / "datapipeline_spark").rglob("*.py"))
    for path in engine + _caller_files():
        tree = ast.parse(path.read_text())
        consts, outside = _constants(tree), _outside_names(tree)

        def visit(node, owner, in_class):
            for child in ast.iter_child_nodes(node):
                if isinstance(child, _FUNCS):
                    static = any(
                        isinstance(d, ast.Name) and d.id == "staticmethod"
                        for d in child.decorator_list
                    )
                    d = _Def(child, in_class and not static, consts)
                    if path in engine:
                        defs[child.name].append(d)
                    visit(child, d, False)
                else:
                    if isinstance(child, ast.Call):
                        calls.append((owner, child, consts, outside))
                    visit(child, owner, isinstance(child, ast.ClassDef))

        visit(tree, None, False)
    return defs, calls


def test_every_engine_option_is_set_outside_tests():
    """An option is a defaulted parameter of an engine function that the
    body tests (in an if, while, ternary, boolean operator or
    comprehension filter) or forwards into another option. Every option
    receives two values from callers outside the tests: the package,
    bench.py, perfbench/ and tools/. Calls resolve by name (attributes of
    names imported from outside the package excepted); a caller's own
    parameter passed on carries the values that caller receives; a
    function called with a ``**`` splat is exempt. A single-valued option
    is folded into its one value; KEEP_OPTIONS names the ones kept on
    purpose."""
    defs, calls = _engine_calls()
    incoming = defaultdict(list)  # (def, param) -> [(value node, caller, consts)]
    ncalls, splat = defaultdict(int), set()
    for owner, call, consts, outside in calls:
        f = call.func
        if isinstance(f, ast.Attribute):
            if isinstance(f.value, ast.Name) and f.value.id in outside:
                continue
            name = f.attr
        elif isinstance(f, ast.Name):
            name = f.id
        else:
            continue
        for d in defs.get(name, ()):
            ncalls[d] += 1
            if any(k.arg is None for k in call.keywords):
                splat.add(d)
            for i, arg in enumerate(call.args):
                if isinstance(arg, ast.Starred):
                    for p in d.positional[i:]:
                        incoming[d, p].append((None, owner, consts))
                    break
                if i < len(d.positional):
                    incoming[d, d.positional[i]].append((arg, owner, consts))
            for k in call.keywords:
                if k.arg is not None:
                    incoming[d, k.arg].append((k.value, owner, consts))

    def forwarded(value, owner):
        return owner is not None and isinstance(value, ast.Name) and value.id in owner.params

    alldefs = [d for ds in defs.values() for d in ds]
    path = {(d, p) for d in alldefs for p in d.tested()}
    grew = True
    while grew:
        before = len(path)
        path |= {
            (owner, v.id)
            for key, srcs in incoming.items()
            if key in path
            for v, owner, _ in srcs
            if forwarded(v, owner)
        }
        grew = len(path) > before

    def values(d, p, stack=()):
        if d in splat:
            return {_OPAQUE}
        out, srcs = set(), incoming.get((d, p), [])
        if ncalls[d] > len(srcs) or not srcs:
            out.add(_value(d.defaults[p], d.consts))
        for v, owner, consts in srcs:
            if v is None:
                out.add(_OPAQUE)
            elif forwarded(v, owner):
                if v.id not in owner.defaults:
                    out.add(_OPAQUE)
                elif (owner, v.id) not in stack:
                    out |= values(owner, v.id, (*stack, (d, p)))
            else:
                out.add(_value(v, consts))
        return out

    single = set()
    for d, p in path:
        if p in d.defaults:
            got = values(d, p)
            if len(got) < 2 and _OPAQUE not in got:
                single.add(f"{d.node.name}.{p}")
    assert all(KEEP_OPTIONS.values()), "a KEEP_OPTIONS entry gives no reason"
    stale = sorted(KEEP_OPTIONS.keys() - single)
    assert not stale, "KEEP_OPTIONS names no single-valued option:\n" + "\n".join(stale)
    unset = sorted(single - KEEP_OPTIONS.keys())
    assert not unset, "engine options only tests set:\n" + "\n".join(unset)


def test_query_name_registers_once():
    """Every queries_* module registers into one REGISTRY, so a name taken
    twice raises instead of silently shadowing the first query."""
    import pytest

    from datapipeline_spark.queries_core import REGISTRY, query

    name, first = next(iter(REGISTRY.items()))
    with pytest.raises(ValueError, match="already registered"):
        query(name)(lambda spark, sf_dir: None)
    assert REGISTRY[name] is first
