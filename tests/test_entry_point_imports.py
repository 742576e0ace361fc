"""Every engine import in the untested entry points resolves, and every
call of an imported engine function binds its keyword arguments.

No test runs ``jobs/*.py``, ``scripts/*.py``, ``__spark_entry__.py`` or
``perfbench/*.py`` end to end, so a renamed or deleted engine name or
parameter would break them silently.  This parses each file with
``ast`` (nothing is executed, no Spark session starts), resolves every
``from rtree_cpp_spark... import name`` against the engine modules and
checks each call's keyword names against ``inspect.signature``.

The same callers are the roots of an unreached-code audit: every
top-level engine function must be reachable from them, transitively."""

from __future__ import annotations

import ast
import importlib
import inspect
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
ENTRY_POINTS = sorted(
    [*ROOT.glob("jobs/*.py"), *ROOT.glob("scripts/*.py"), ROOT / "__spark_entry__.py"]
)
CALLERS = ENTRY_POINTS + sorted(ROOT.glob("perfbench/*.py"))


def _engine_imports(path: Path) -> list[tuple[int, str, str, str]]:
    """(line, module, name, local name) of every ``from rtree_cpp_spark...
    import``, nested and in-function imports included."""
    return [
        (node.lineno, node.module, alias.name, alias.asname or alias.name)
        for node in ast.walk(ast.parse(path.read_text(), filename=str(path)))
        if isinstance(node, ast.ImportFrom) and node.level == 0
        and node.module and node.module.split(".")[0] == "rtree_cpp_spark"
        for alias in node.names
    ]


def _engine_object(module: str, name: str):
    """``from module import name``: an attribute, else a submodule."""
    mod = importlib.import_module(module)
    if hasattr(mod, name):
        return getattr(mod, name)
    return importlib.import_module(f"{module}.{name}")


def _resolves(module: str, name: str) -> bool:
    try:
        _engine_object(module, name)
    except ModuleNotFoundError:
        return False
    return True


def test_entry_points_import_engine_names():
    assert len(ENTRY_POINTS) > 10  # the globs found the files
    assert any(_engine_imports(p) for p in ENTRY_POINTS)


@pytest.mark.parametrize("path", ENTRY_POINTS, ids=lambda p: str(p.relative_to(ROOT)))
def test_engine_imports_resolve(path):
    missing = [
        f"{path.name}:{line}: from {module} import {name}"
        for line, module, name, _ in _engine_imports(path)
        if not _resolves(module, name)
    ]
    assert not missing, missing


def _unbound_keywords(callee, keywords: list[str]) -> list[str]:
    """Keyword names ``callee`` does not accept (none if it takes
    ``**kwargs`` or has no inspectable signature)."""
    try:
        params = inspect.signature(callee).parameters.values()
    except (TypeError, ValueError):
        return []
    if any(p.kind is p.VAR_KEYWORD for p in params):
        return []
    names = {p.name for p in params if p.kind is not p.POSITIONAL_ONLY}
    return [k for k in keywords if k not in names]


def _engine_calls(path: Path):
    """(line, callee name, callee, keyword names) of every call of an
    imported engine callable: ``f(...)``, ``module.f(...)``, and a call
    that passes ``f`` positionally and forwards its keywords to it
    (perfbench's ``_span(name, fn, *args, **kw)``)."""
    imported = {
        local: _engine_object(module, name)
        for _, module, name, local in _engine_imports(path)
    }

    def resolve(node):
        if isinstance(node, ast.Name):
            return imported.get(node.id)
        if isinstance(node, ast.Attribute) and isinstance(node.value, ast.Name):
            mod = imported.get(node.value.id)
            if inspect.ismodule(mod):
                return getattr(mod, node.attr, None)
        return None

    for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
        if not isinstance(node, ast.Call):
            continue
        keywords = [k.arg for k in node.keywords if k.arg is not None]
        callee = resolve(node.func)
        if callee is None:
            callee = next((c for c in map(resolve, node.args) if callable(c)), None)
        if callable(callee) and keywords:
            name = getattr(callee, "__name__", ast.unparse(node.func))
            yield node.lineno, name, callee, keywords


def test_engine_calls_found():
    # the walk sees the keyword calls that must keep binding, the
    # forwarded one in perfbench included
    calls: dict[tuple[str, str], set[str]] = {}
    for path in CALLERS:
        for _, name, _, keywords in _engine_calls(path):
            calls.setdefault((path.name, name), set()).update(keywords)
    assert "refine" in calls[("workloads.py", "polygon_join")]
    assert "hot_threshold" in calls[("run_join.py", "polygon_join")]


@pytest.mark.parametrize("path", CALLERS, ids=lambda p: str(p.relative_to(ROOT)))
def test_engine_call_keywords_bind(path):
    unbound = [
        f"{path.name}:{line}: {name}(... {k}=...)"
        for line, name, callee, keywords in _engine_calls(path)
        for k in _unbound_keywords(callee, keywords)
    ]
    assert not unbound, unbound


ENGINE = ROOT / "rtree_cpp_spark"
# engine functions no job, script, gate entry or benchmark calls, kept
# on purpose (name → reason)
UNREACHED_OK = {
    "rtree_cpp_spark.sources.synth.synth_docs_pdf":
        "fixture generator: tests build their docs tables with it",
    "rtree_cpp_spark.sources.synth.synth_docs_df_fast":
        "fixture generator: the JVM-side synth for large test corpora",
    "rtree_cpp_spark.sources.synth._fmt_coord":
        "helper of the fixture generator synth_docs_pdf",
    "rtree_cpp_spark.sources.synth.synth_range_queries_pdf":
        "fixture generator: range-query batches for tests",
    "rtree_cpp_spark.sources.synth.synth_knn_queries_pdf":
        "fixture generator: kNN query batches for tests",
}


def _module_name(path: Path) -> str:
    parts = path.relative_to(ROOT).with_suffix("").parts
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def _engine_bindings(tree: ast.AST) -> dict[str, str]:
    """Local name → dotted engine target (``module.name`` or a module)
    for every engine import anywhere in ``tree``."""
    out: dict[str, str] = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.level == 0 and node.module \
                and node.module.split(".")[0] == "rtree_cpp_spark":
            for alias in node.names:
                out[alias.asname or alias.name] = f"{node.module}.{alias.name}"
        elif isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name.split(".")[0] == "rtree_cpp_spark" and alias.asname:
                    out[alias.asname] = alias.name
    return out


def _references(nodes, bindings: dict[str, str]) -> set[str]:
    """Dotted engine names that ``nodes`` load: ``f`` and ``mod.f``."""
    refs: set[str] = set()
    for top in nodes:
        for node in ast.walk(top):
            if isinstance(node, ast.Name) and node.id in bindings:
                refs.add(bindings[node.id])
            elif isinstance(node, ast.Attribute) and isinstance(node.value, ast.Name) \
                    and node.value.id in bindings:
                refs.add(f"{bindings[node.value.id]}.{node.attr}")
    return refs


def unreached_engine_functions() -> list[str]:
    """Top-level engine ``def``s and ``class``es that no caller reaches,
    transitively.  Roots: ``CALLERS``, ``bench.py`` and the engine's own
    module-level statements; tests are not callers."""
    defs: dict[str, list[str]] = {}  # dotted name → names its body loads
    roots: set[str] = set()
    for path in sorted(ENGINE.rglob("*.py")):
        mod = _module_name(path)
        tree = ast.parse(path.read_text(), filename=str(path))
        top = {
            n.name for n in tree.body
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
        }
        bindings = {**_engine_bindings(tree), **{name: f"{mod}.{name}" for name in top}}
        for node in tree.body:
            if isinstance(node, (ast.Import, ast.ImportFrom)):
                continue
            refs = _references([node], bindings)
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                defs[f"{mod}.{node.name}"] = sorted(refs - {f"{mod}.{node.name}"})
            else:
                roots |= refs
    for path in [*CALLERS, ROOT / "bench.py"]:
        tree = ast.parse(path.read_text(), filename=str(path))
        roots |= _references([tree], _engine_bindings(tree))
    reached: set[str] = set()
    todo = [r for r in roots if r in defs]
    while todo:
        name = todo.pop()
        if name not in reached:
            reached.add(name)
            todo.extend(r for r in defs[name] if r in defs)
    return sorted(set(defs) - reached - set(UNREACHED_OK))


def test_engine_has_no_unreached_functions():
    unreached = unreached_engine_functions()
    assert not unreached, "\n".join(unreached)
