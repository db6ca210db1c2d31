"""Lints over the imports of ``quality_filter/`` and ``tests/``.

Plain AST scans, so they need no linter package.

- No module of the package or of the tests imports a name it never uses:
  every name an import binds must be referenced somewhere in the same
  module — as a name, as the root of an attribute chain, inside a string
  annotation, or listed in ``__all__``.  ``from __future__`` imports are
  exempt.
- Every module is run by something: it is reachable through imports
  (function-local ones included) from the CLI or the benchmark, or
  ``UNREACHED_OWNERS`` names why it stays.
- Every top-level def and class of the package is run by something too:
  its name is used as code by something the CLI, the benchmark or an
  owned module reaches, or ``UNREACHED_DEF_OWNERS`` names why it stays.
- Every defaulted parameter of a top-level def in the ``PARAM_LINTED``
  modules is set by something: a call in the CLI, the benchmark or the
  package passes it, or ``UNSET_PARAM_OWNERS`` names the test it is the
  seam or oracle for.  A parameter with one value in use is a constant.
"""

from __future__ import annotations

import ast
from pathlib import Path

import pytest

PACKAGE = Path(__file__).resolve().parent.parent / "quality_filter"
TESTS = Path(__file__).resolve().parent
BENCHMARK = sorted((PACKAGE.parent / "perfbench").glob("*.py"))
# The oracle is the fixed reference the engine is checked against and is
# never edited, so its imports are not linted.
UNLINTED_TESTS = {"oracle.py"}

# Modules that neither the CLI nor the benchmark imports, and why each
# stays: the SURVEY.md reference operator it implements, or the ROADMAP
# item that decides its fate.
UNREACHED_OWNERS = {
    "audit": "ROADMAP item 5: the per-bucket run record",
    "docmodel": "SURVEY C3/C4 on doc-shaped records, A1-A3",
    "evalreport": "ROADMAP item 5: CLI reporting of the trained classifier",
    "langmap": "SURVEY A9",
    "reseg": "SURVEY A4",
    "sampling": "SURVEY R1-R5",
    "taxonomy": "SURVEY G5, M3",
}

# Top-level defs of the other modules that nothing reached from the CLI,
# the benchmark or an owned module uses, and why each stays: the SURVEY.md
# operator it implements, or the test it is the oracle of.
UNREACHED_DEF_OWNERS = {
    "io.merge_freq_tables": "SURVEY G1",
    "io.read_jsonl_repair": "SURVEY S13",
    "io.repair_stringified_array": "SURVEY S13",
    "langid.score_batch": "oracle of scoring.with_scores (test_round9.py)",
    "langid.train_profiles": "SURVEY M5",
    "llmprep.generate_labels_prompt_verbatim_expr": "SURVEY M3",
    "llmprep.synonyms_prompt_verbatim_expr": "SURVEY M3",
    "perplexity.keep_by_perplexity": "SURVEY M6",
    "perplexity.read_model": "SURVEY M6",
    "perplexity.score_batch": "oracle of scoring.with_scores (test_round9.py)",
    "perplexity.train_artifact": "SURVEY M6",
    "perplexity.with_perplexity": "SURVEY M6",
    "perplexity.write_model": "SURVEY M6",
    "teacher.fake_structured_teacher": "SURVEY M2: the CLI names it in the "
    "--teacher default string",
    "teacher.fake_teacher_label_expr": "oracle of fake_structured_teacher "
    "(test_teacher.py)",
    "textstats.quality_score_expr": "SURVEY M4",
    "textstats.with_quality_score": "SURVEY M4",
}


# Modules whose defaulted parameters must each be passed by some caller.
PARAM_LINTED = {
    "checkpoint", "cluster", "corpus", "dedup", "pipeline", "rules", "scoring",
    "scrub",
}

# Defaulted parameters of those modules that no call in the CLI, the
# benchmark or the package passes, and the test each is the seam or the
# oracle of.
UNSET_PARAM_OWNERS = {
    "cluster.connected_components.max_iter": "the non-convergence test "
    "(test_cluster.py::test_connected_components_max_iter_bounds_label_changing_rounds)",
    "dedup.lsh_candidates.max_bucket_size": "small caps at test scale, None "
    "the self-join oracle (test_round5.py, test_round6.py)",
    "dedup.duplicated_span_marks.grams": "'hof' is the oracle of the window "
    "marks (test_round5.py, test_round6.py)",
    "dedup.duplicated_span_marks.segment_size": "the segment seam of the "
    "giant-document test (test_round6.py)",
    "dedup.substring_dedup.grams": "'hof' is the oracle of the giant-document "
    "test (test_round6.py)",
    "dedup.substring_dedup.segment_size": "the segment seam of the "
    "giant-document test (test_round6.py)",
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


_DEFS = ast.FunctionDef | ast.AsyncFunctionDef | ast.ClassDef


def _code_names(node: ast.AST) -> set[str]:
    """Identifiers ``node`` uses as code (names and attribute names, not
    strings or docstrings)."""
    return {
        n.id if isinstance(n, ast.Name) else n.attr
        for n in ast.walk(node) if isinstance(n, ast.Name | ast.Attribute)
    }


def _top_level_defs(package: dict[str, str]):
    """(``module.name``, node) of every top-level def and class."""
    for module, source in package.items():
        for node in ast.parse(source).body:
            if isinstance(node, _DEFS):
                yield f"{module}.{node.name}", node


def entry_names(
    package: dict[str, str], entry_sources: list[str], root_modules: set[str]
) -> set[str]:
    """Names used as code by ``entry_sources`` and by the module-level
    statements of every module of ``package`` (module stem → source),
    which run when it is imported, plus every name the ``root_modules``
    define or use."""
    names = set().union(*(_code_names(ast.parse(s)) for s in entry_sources))
    for module, source in package.items():
        tree = ast.parse(source)
        if module in root_modules:
            names |= _code_names(tree)
            names |= {n.name for n in tree.body if isinstance(n, _DEFS)}
        else:
            for node in tree.body:
                if not isinstance(node, _DEFS):
                    names |= _code_names(node)
    return names


def reached_defs(package: dict[str, str], roots: set[str]) -> set[str]:
    """``module.name`` of the top-level defs and classes of ``package``
    that ``roots`` reach.  Over-approximate by name: a name reaches every
    top-level def of that name in any module, and a reached def reaches
    the names its own code uses."""
    defs: dict[str, list[tuple[str, ast.AST]]] = {}
    for key, node in _top_level_defs(package):
        defs.setdefault(node.name, []).append((key, node))
    reached, seen, todo = set(), set(), set(roots)
    while todo:
        name = todo.pop()
        if name in seen:
            continue
        seen.add(name)
        for key, node in defs.get(name, ()):
            reached.add(key)
            todo |= _code_names(node)
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
    "path",
    sorted(PACKAGE.glob("*.py"))
    + sorted(p for p in TESTS.glob("*.py") if p.name not in UNLINTED_TESTS),
    ids=lambda p: p.name if p.parent == PACKAGE else f"tests/{p.name}",
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


def test_def_reach_scan_flags_an_unreached_def():
    package = {
        "cli": "from quality_filter import a\ndef main():\n    a.run()\n",
        "a": (
            "TABLE = {'k': listed}\n"
            "def run():\n    return helper()\n"
            "def helper():\n    return 1\n"
            "def listed():\n    pass\n"
            "def dead():\n    'Calls run() and helper().'\n    return helper()\n"
            "class Unused:\n    pass\n"
        ),
        "owned": "def tool():\n    return kept()\n",
        "b": "def kept():\n    pass\ndef stray():\n    pass\n",
    }
    roots = entry_names(package, ["from quality_filter.b import x"], {"cli", "owned"})
    reached = reached_defs(package, roots)
    assert reached == {
        "cli.main", "a.run", "a.helper", "a.listed", "owned.tool", "b.kept",
    }
    everything = {key for key, _ in _top_level_defs(package)}
    assert everything - reached == {"a.dead", "a.Unused", "b.stray"}


def test_every_def_is_reached_or_owned():
    package = {p.stem: p.read_text() for p in PACKAGE.glob("*.py")}
    roots = entry_names(
        package, [p.read_text() for p in BENCHMARK], {"cli", *UNREACHED_OWNERS}
    )
    everything = {key for key, _ in _top_level_defs(package)}
    owned = {key.split(".", 1)[1] for key in UNREACHED_DEF_OWNERS}
    orphans = sorted(everything - reached_defs(package, roots | owned))
    assert orphans == [], (
        f"nothing the CLI, perfbench or an owned module reaches uses "
        f"{orphans}: delete them, or name their owner in UNREACHED_DEF_OWNERS"
    )
    stale = sorted(UNREACHED_DEF_OWNERS.keys() - (everything - reached_defs(package, roots)))
    assert stale == [], f"UNREACHED_DEF_OWNERS lists reached or deleted {stale}"


def _defaulted_params(node: ast.FunctionDef) -> list[str]:
    args = node.args
    positional = args.posonlyargs + args.args
    names = [a.arg for a in positional[len(positional) - len(args.defaults):]]
    return names + [
        a.arg for a, d in zip(args.kwonlyargs, args.kw_defaults) if d is not None
    ]


def _call_facts(module: str, source: str, functions: dict, free: bool):
    """(``module.def.param`` key a call passes, the key it depends on or
    None) for every call in ``source`` of a top-level package function.
    A call matches every def of the called name (import aliases
    resolved).  An argument that is just a defaulted parameter of the
    enclosing top-level def is a pass-through: it depends on that
    parameter, unless ``free`` (the CLI and the benchmark, whose values
    count)."""
    tree = ast.parse(source)
    alias = {
        a.asname: a.name for node in _imports(tree) if isinstance(node, ast.ImportFrom)
        for a in node.names if a.asname
    }
    enclosing = {}  # call → the top-level def it sits in
    for node in tree.body:
        if isinstance(node, ast.FunctionDef):
            for call in ast.walk(node):
                enclosing[call] = node
    for call in ast.walk(tree):
        if not isinstance(call, ast.Call):
            continue
        f = call.func
        name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
        outer = None if free else enclosing.get(call)
        for key, node in functions.get(alias.get(name, name), ()):
            defaulted = _defaulted_params(node)
            positional = [a.arg for a in node.args.posonlyargs + node.args.args]
            passed = []  # (param, value or None for a starred argument)
            for i, arg in enumerate(call.args):
                if isinstance(arg, ast.Starred):
                    passed += [(p, None) for p in positional[i:]]
                    break
                if i < len(positional):
                    passed.append((positional[i], arg))
            for kw in call.keywords:
                if kw.arg is None:
                    passed += [(p, None) for p in defaulted]
                else:
                    passed.append((kw.arg, kw.value))
            for param, value in passed:
                if param not in defaulted:
                    continue
                via = None
                if (
                    outer is not None and isinstance(value, ast.Name)
                    and value.id in _defaulted_params(outer)
                ):
                    via = f"{module}.{outer.name}.{value.id}"
                yield f"{key}.{param}", via


def unset_params(
    package: dict[str, str], entry_sources: list[str], linted: set[str]
) -> set[str]:
    """``module.def.param`` of the defaulted parameters of the top-level
    defs of the ``linted`` modules that no call passes: not a call in
    ``entry_sources`` (the benchmark) or in the CLI, nor a call elsewhere
    in ``package`` unless it passes a parameter of its own enclosing def
    that is itself passed (computed to a fixed point)."""
    functions: dict[str, list] = {}
    for module, source in package.items():
        for node in ast.parse(source).body:
            if isinstance(node, ast.FunctionDef):
                functions.setdefault(node.name, []).append((f"{module}.{node.name}", node))
    facts = [
        fact for src in entry_sources
        for fact in _call_facts("<entry>", src, functions, free=True)
    ]
    for module, source in package.items():
        facts += _call_facts(module, source, functions, free=module == "cli")
    passed: set[str] = set()
    grew = True
    while grew:
        grew = False
        for key, via in facts:
            if key not in passed and (via is None or via in passed):
                passed.add(key)
                grew = True
    every = {
        f"{key}.{p}" for defs in functions.values() for key, node in defs
        if key.split(".")[0] in linted for p in _defaulted_params(node)
    }
    return every - passed


def unset_param_problems(
    package: dict[str, str], entry_sources: list[str], linted: set[str],
    owners: dict[str, str],
) -> tuple[list[str], list[str]]:
    """(unset parameters no owner names, owner entries that name a passed
    or deleted parameter)."""
    unset = unset_params(package, entry_sources, linted)
    return sorted(unset - owners.keys()), sorted(owners.keys() - unset)


def test_param_scan_flags_an_unset_param():
    package = {
        "cli": (
            "from quality_filter.a import run as go\n"
            "def main(args):\n    go(1, mode=args.mode)\n"
        ),
        "a": (
            "def run(df, mode='x', width=3, seam=None):\n"
            "    return helper(df, mode, size=width)\n"
            "def helper(df, mode='y', size=2, extra=0):\n"
            "    return deep(df, size)\n"
            "def deep(df, size=1):\n    return df\n"
            "def kwonly(df, *, flag=False):\n    return df\n"
        ),
        "b": "def use(x):\n    return kwonly(x, flag=x)\n",
    }
    bench = ["from quality_filter.a import helper\nhelper(0, extra=5)\n"]
    unset = unset_params(package, bench, {"a"})
    # run.width is never passed, so helper.size and deep.size, which only
    # its pass-through sets, are unset too; run.mode comes from the CLI
    assert unset == {"a.run.width", "a.run.seam", "a.helper.size", "a.deep.size"}
    owners = {"a.run.seam": "a test seam", "a.deep.size": "an oracle", "a.gone.p": "x"}
    orphans, stale = unset_param_problems(package, bench, {"a"}, owners)
    assert orphans == ["a.helper.size", "a.run.width"]
    assert stale == ["a.gone.p"]


def test_every_defaulted_param_is_passed_or_owned():
    package = {p.stem: p.read_text() for p in PACKAGE.glob("*.py")}
    orphans, stale = unset_param_problems(
        package, [p.read_text() for p in BENCHMARK], PARAM_LINTED, UNSET_PARAM_OWNERS
    )
    assert orphans == [], (
        f"no caller in the CLI, perfbench or the package passes {orphans}: "
        "make each a constant, or name the test it serves in UNSET_PARAM_OWNERS"
    )
    assert stale == [], f"UNSET_PARAM_OWNERS lists passed or deleted {stale}"
