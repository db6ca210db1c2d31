"""Lints over the imports of ``quality_filter/``.

Plain AST scans, so they need no linter package.

- No module imports a name it never uses: every name an import binds must
  be referenced somewhere in the same module — as a name, as the root of
  an attribute chain, inside a string annotation, or listed in
  ``__all__``.  ``from __future__`` imports are exempt.
- Every module is run by something: it is reachable through imports
  (function-local ones included) from the CLI or the benchmark, or
  ``UNREACHED_OWNERS`` names why it stays.
"""

from __future__ import annotations

import ast
from pathlib import Path

import pytest

PACKAGE = Path(__file__).resolve().parent.parent / "quality_filter"
BENCHMARK = sorted((PACKAGE.parent / "perfbench").glob("*.py"))

# Modules that neither the CLI nor the benchmark imports, and why each
# stays: the SURVEY.md reference operator it implements, or the ROADMAP
# item that decides its fate.
UNREACHED_OWNERS = {
    "audit": "ROADMAP item 5: the per-bucket run record",
    "docmodel": "SURVEY C3/C4 on doc-shaped records, A1-A3",
    "evalreport": "ROADMAP item 5: CLI reporting of the trained classifier",
    "langmap": "SURVEY A9",
    "packing": "ROADMAP item 7: retired in a follow-up with its tests",
    "reseg": "SURVEY A4",
    "sampling": "SURVEY R1-R5",
    "taxonomy": "SURVEY G5, M3",
}


def _imports(tree: ast.Module):
    """Import and from-import nodes, function-local ones too."""
    for node in ast.walk(tree):
        if isinstance(node, ast.Import) or (
            isinstance(node, ast.ImportFrom) and node.module != "__future__"
        ):
            yield node


def _bound_names(tree: ast.Module) -> dict[str, int]:
    """Imported name → line of its import (function-local ones too)."""
    bound = {}
    for node in _imports(tree):
        for a in node.names:
            if isinstance(node, ast.Import):
                bound[a.asname or a.name.split(".")[0]] = node.lineno
            else:
                bound[a.asname or a.name] = node.lineno
    return bound


def imported_modules(source: str) -> set[str]:
    """``quality_filter`` modules that ``source`` imports; the package's
    ``__init__`` counts as imported with any of them."""
    found = set()
    for node in _imports(ast.parse(source)):
        if isinstance(node, ast.Import):
            paths = [a.name for a in node.names]
        else:
            paths = [f"{node.module}.{a.name}" for a in node.names]
        for parts in (p.split(".") for p in paths):
            if parts[0] == "quality_filter":
                found |= {"__init__", *parts[1:2]}
    return found


def _reached_from_entry_points() -> set[str]:
    modules = {p.stem for p in PACKAGE.glob("*.py")}
    reached = set()
    todo = {"cli"}.union(*(imported_modules(p.read_text()) for p in BENCHMARK))
    while todo:
        name = todo.pop()
        if name in reached or name not in modules:
            continue
        reached.add(name)
        todo |= imported_modules((PACKAGE / f"{name}.py").read_text())
    return reached


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


def test_reach_scan_counts_function_local_imports():
    src = (
        "import os\nimport quality_filter\nimport quality_filter.rules as R\n"
        "def f():\n    from quality_filter import ngram\n"
        "    from quality_filter.dedup import exact_dedup\n"
    )
    assert imported_modules(src) == {"__init__", "rules", "ngram", "dedup"}


def test_every_module_is_reached_or_owned():
    unreached = {p.stem for p in PACKAGE.glob("*.py")} - _reached_from_entry_points()
    orphans = sorted(unreached - UNREACHED_OWNERS.keys())
    assert orphans == [], (
        f"neither the CLI nor perfbench imports {orphans}: delete them, "
        "or name their owner in UNREACHED_OWNERS"
    )
    stale = sorted(UNREACHED_OWNERS.keys() - unreached)
    assert stale == [], f"UNREACHED_OWNERS lists reached or deleted {stale}"
