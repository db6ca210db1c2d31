"""Lint: no module under ``quality_filter/`` imports a name it never uses.

A plain AST scan, so it needs no linter package: every name an import
binds must be referenced somewhere in the same module — as a name, as
the root of an attribute chain, inside a string annotation, or listed in
``__all__``.  ``from __future__`` imports are exempt.
"""

from __future__ import annotations

import ast
from pathlib import Path

import pytest

PACKAGE = Path(__file__).resolve().parent.parent / "quality_filter"


def _bound_names(tree: ast.Module) -> dict[str, int]:
    """Imported name → line of its import (function-local ones too)."""
    bound = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                bound[a.asname or a.name.split(".")[0]] = node.lineno
        elif isinstance(node, ast.ImportFrom) and node.module != "__future__":
            for a in node.names:
                bound[a.asname or a.name] = node.lineno
    return bound


def _names_in_string(value: str) -> set[str]:
    try:
        expr = ast.parse(value, mode="eval")
    except SyntaxError:
        return set()
    return {n.id for n in ast.walk(expr) if isinstance(n, ast.Name)}


def _used_names(tree: ast.Module) -> set[str]:
    used = set()
    strings = []  # string annotations and ``__all__`` entries
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            used.add(node.id)
        annotations = []
        if isinstance(node, ast.arg | ast.AnnAssign):
            annotations.append(node.annotation)
        elif isinstance(node, ast.FunctionDef | ast.AsyncFunctionDef):
            annotations.append(node.returns)
        elif isinstance(node, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == "__all__" for t in node.targets
        ):
            annotations.append(node.value)
        for ann in filter(None, annotations):
            strings += [
                n.value for n in ast.walk(ann)
                if isinstance(n, ast.Constant) and isinstance(n.value, str)
            ]
    for value in strings:
        used |= _names_in_string(value)
    return used


def unused_imports(source: str) -> list[tuple[str, int]]:
    tree = ast.parse(source)
    used = _used_names(tree)
    return sorted(
        (name, line) for name, line in _bound_names(tree).items() if name not in used
    )


def test_scan_flags_an_unused_import():
    src = (
        "import os\nimport sys\nfrom typing import Iterable, Iterator\n"
        "from a.b import c as d\n"
        "def f(x: 'Iterator[int]'):\n    return sys.argv, d\n"
    )
    assert unused_imports(src) == [("Iterable", 3), ("os", 1)]


@pytest.mark.parametrize(
    "path", sorted(PACKAGE.glob("*.py")), ids=lambda p: p.name
)
def test_no_unused_imports(path):
    assert unused_imports(path.read_text()) == []
