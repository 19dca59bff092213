"""Test-only package code must be named in COVERAGE.md.

A top-level function or class of the package that no declared query
(``@register``) reaches and that nothing outside ``tests/`` refers to
exists only for its tests.  Such a name stays only while a COVERAGE.md
row names it for a capability it alone provides; a second form of work
the engine already does elsewhere is deleted with its tests instead.
This guard makes a new test-only name fail until that choice is made.

A caller is a real reference in code — a name, an attribute or an
import — in the package, ``scripts/``, ``bench.py``, ``perfbench/`` or
``__spark_entry__.py``; a mention in a docstring or comment is not.
"""

from __future__ import annotations

import ast
import pathlib
import re

ROOT = pathlib.Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "data_ingestion_system_spark"


def _is_register(decorator: ast.expr) -> bool:
    fn = decorator.func if isinstance(decorator, ast.Call) else decorator
    return ((isinstance(fn, ast.Name) and fn.id == "register")
            or (isinstance(fn, ast.Attribute) and fn.attr == "register"))


def _definitions() -> dict[str, str]:
    """name -> defining module, for every top-level function or class
    of the package that is not a registered query."""
    found = {}
    for path in sorted(PACKAGE.rglob("*.py")):
        for node in ast.parse(path.read_text()).body:
            if (isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                  ast.ClassDef))
                    and not any(_is_register(d) for d in node.decorator_list)):
                found[node.name] = str(path.relative_to(ROOT))
    return found


def _caller_files() -> list[pathlib.Path]:
    files = [*PACKAGE.rglob("*.py"), *(ROOT / "scripts").rglob("*.py"),
             *(ROOT / "perfbench").rglob("*.py"),
             ROOT / "bench.py", ROOT / "__spark_entry__.py"]
    return [f for f in files if "tests" not in f.relative_to(ROOT).parts]


def _referenced() -> set[str]:
    names = set()
    for path in _caller_files():
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Name):
                names.add(node.id)
            elif isinstance(node, ast.Attribute):
                names.add(node.attr)
            elif isinstance(node, ast.alias):
                names.add(node.name.rsplit(".", 1)[-1])
    return names


def test_test_only_names_are_in_coverage():
    referenced = _referenced()
    test_only = {name: module for name, module in _definitions().items()
                 if name not in referenced}
    coverage = (ROOT / "COVERAGE.md").read_text()
    unnamed = sorted(f"{module}::{name}" for name, module in test_only.items()
                     if not re.search(rf"\b{re.escape(name)}\b", coverage))
    assert not unnamed, (
        "test-only package code not named in COVERAGE.md — name the "
        f"capability it alone provides, or delete it with its tests: {unnamed}")
