"""Every engine import in the untested entry points resolves.

No test runs ``jobs/*.py``, ``scripts/*.py`` or ``__spark_entry__.py``
end to end, so a renamed or deleted engine name would break them
silently.  This parses each file with ``ast`` (nothing is executed, no
Spark session starts) and resolves every ``from rtree_cpp_spark... import
name`` against the engine modules."""

from __future__ import annotations

import ast
import importlib
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
ENTRY_POINTS = sorted(
    [*ROOT.glob("jobs/*.py"), *ROOT.glob("scripts/*.py"), ROOT / "__spark_entry__.py"]
)


def _engine_imports(path: Path) -> list[tuple[int, str, str]]:
    """(line, module, name) of every ``from rtree_cpp_spark... import``,
    nested and in-function imports included."""
    return [
        (node.lineno, node.module, alias.name)
        for node in ast.walk(ast.parse(path.read_text(), filename=str(path)))
        if isinstance(node, ast.ImportFrom) and node.level == 0
        and node.module and node.module.split(".")[0] == "rtree_cpp_spark"
        for alias in node.names
    ]


def _resolves(module: str, name: str) -> bool:
    mod = importlib.import_module(module)
    if hasattr(mod, name):
        return True
    try:  # ``from package import submodule``
        importlib.import_module(f"{module}.{name}")
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
        for line, module, name in _engine_imports(path)
        if not _resolves(module, name)
    ]
    assert not missing, missing
