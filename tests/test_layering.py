"""The package's import graph points one way.

functions/, sources/, partitioning and session sit at the bottom;
operators/ import only them and each other; streaming/ imports
operators; registry_pipeline imports all of those; registry imports
registry_pipeline.  An oracle fragment lives with the operator it
mirrors, so no operator reaches up into a registry, and every module
declares its package dependencies once, at module level — and so does
every test file.
"""

from __future__ import annotations

import ast
import os
import subprocess
import sys
from graphlib import CycleError, TopologicalSorter
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PKG = "k_means_hadoop_spark"
LOWER_LAYERS = ("operators", "functions", "sources", "streaming")


def _modules() -> dict[str, Path]:
    out = {}
    for path in sorted((REPO / PKG).rglob("*.py")):
        parts = path.relative_to(REPO).with_suffix("").parts
        if parts[-1] == "__init__":
            parts = parts[:-1]
        out[".".join(parts)] = path
    return out


def _targets(node: ast.AST, known: dict[str, Path]) -> list[str]:
    """Package modules an import statement loads by name."""
    if isinstance(node, ast.Import):
        names = [a.name for a in node.names]
    elif isinstance(node, ast.ImportFrom):
        assert node.level == 0, "relative imports are not used in this package"
        base = node.module or ""
        names = [
            f"{base}.{a.name}" if f"{base}.{a.name}" in known else base for a in node.names
        ]
    else:
        return []
    return [n for n in names if n == PKG or n.startswith(PKG + ".")]


def _package_imports(path: Path, known: dict[str, Path]) -> tuple[set[str], list[str]]:
    """(package modules imported at module level, ``file:line`` of the
    package imports inside a def, lambda or class body)."""
    top: set[str] = set()
    nested: list[str] = []

    def visit(node, in_body):
        for child in ast.iter_child_nodes(node):
            targets = _targets(child, known)
            if targets and in_body:
                nested.append(f"{path.relative_to(REPO)}:{child.lineno}")
            elif targets:
                top.update(targets)
            scope = isinstance(
                child, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef, ast.Lambda)
            )
            visit(child, in_body or scope)

    visit(ast.parse(path.read_text(), str(path)), False)
    return top, nested


def _layer(mod: str) -> int:
    if mod.startswith(f"{PKG}.operators"):
        return 1
    if mod.startswith(f"{PKG}.streaming"):
        return 2
    if mod == f"{PKG}.registry_pipeline":
        return 3
    if mod == f"{PKG}.registry":
        return 4
    return 0


def test_lower_layers_never_load_the_registries():
    mods = [m for m in _modules() if m.split(".")[1:2] and m.split(".")[1] in LOWER_LAYERS]
    code = (
        "import importlib, sys\n"
        f"for m in {mods!r}:\n"
        "    importlib.import_module(m)\n"
        f"print(sorted(m for m in sys.modules if m in ('{PKG}.registry', '{PKG}.registry_pipeline')))\n"
    )
    env = dict(os.environ, PYTHONPATH=str(REPO))
    r = subprocess.run(
        [sys.executable, "-c", code], cwd=REPO, env=env, capture_output=True, text=True, timeout=300
    )
    assert r.returncode == 0, r.stderr
    assert r.stdout.strip() == "[]", r.stdout


def test_package_imports_are_module_level_and_point_down():
    known = _modules()
    graph: dict[str, set[str]] = {}
    nested = []
    for mod, path in known.items():
        graph[mod], inner = _package_imports(path, known)
        nested += inner
    # __main__ is the command line; its imports are its own business
    nested = [n for n in nested if not n.startswith(f"{PKG}/__main__.py")]
    assert nested == [], nested

    upward = [
        (a, b)
        for a, bs in graph.items()
        for b in bs
        if a not in (PKG, f"{PKG}.__main__") and _layer(b) > _layer(a)
    ]
    assert upward == [], upward

    try:
        tuple(TopologicalSorter(graph).static_order())
    except CycleError as e:
        raise AssertionError(" -> ".join(e.args[1])) from None


def test_tests_import_the_package_at_module_level():
    """A test file names its package dependencies once, in its header.
    Code strings a test runs in a subprocess are not imports here."""
    known = _modules()
    tests = sorted((REPO / "tests").glob("*.py"))
    nested = [n for p in tests for n in _package_imports(p, known)[1]]
    assert nested == [], nested
