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


# Every handler in the package that catches everything (a bare
# ``except``, ``Exception`` or ``BaseException``) and does not end in a
# bare ``raise``, named as (module, enclosing function).  A catch that
# swallows a failure is a decision; a new one fails here until it is
# named.  Cleanup-and-re-raise handlers are not listed.
_ALLOWED_BROAD_CATCHES = sorted([
    # the media family's one quarantine rule: a corrupt blob becomes an
    # error row instead of failing the batch
    ("operators/multimodal.py", "_map_rows.run"),
    # a cache backend error degrades to uncached serving (get, then put)
    ("plans/cache.py", "CachedSearchService._serve"),
    ("plans/cache.py", "CachedSearchService._serve"),
])


def _is_broad(handler: ast.ExceptHandler) -> bool:
    types = (handler.type.elts if isinstance(handler.type, ast.Tuple)
             else [handler.type])
    return any(t is None or (isinstance(t, ast.Name)
                             and t.id in ("Exception", "BaseException"))
               for t in types)


def _broad_catches(node: ast.AST, path: str, scope: str = ""):
    for child in ast.iter_child_nodes(node):
        inner = scope
        if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef,
                              ast.ClassDef)):
            inner = f"{scope}.{child.name}" if scope else child.name
        if isinstance(child, ast.ExceptHandler) and _is_broad(child):
            last = child.body[-1]
            if not (isinstance(last, ast.Raise) and last.exc is None):
                yield path, scope
        yield from _broad_catches(child, path, inner)


def test_broad_catches_that_swallow_are_named():
    found = sorted(
        hit for p in PACKAGE.rglob("*.py")
        for hit in _broad_catches(ast.parse(p.read_text()),
                                  str(p.relative_to(PACKAGE))))
    assert found == _ALLOWED_BROAD_CATCHES
