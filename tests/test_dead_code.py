"""No dead package functions: every undecorated top-level function under
``aws_data_pipeline_spark/`` is referenced somewhere in the repository's
Python outside its own body — by the package, a test, a script, the
benchmark or an entry point. Decorated functions (registered queries) are
reached through their registry and are not checked.

A reference is a name, an attribute, an imported name or a string equal
to the function's name (``getattr`` lookups and ``__all__`` lists count).
The scan is static, needs no Spark session and runs in about a second."""

from __future__ import annotations

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parents[1]
PACKAGE = "aws_data_pipeline_spark"
SOURCES = (PACKAGE, "tests", "scripts", "perfbench")


def _python_files():
    for d in SOURCES:
        yield from sorted((ROOT / d).rglob("*.py"))
    yield from sorted(ROOT.glob("*.py"))


def _referenced_name(node: ast.AST) -> str | None:
    if isinstance(node, ast.Name):
        return node.id
    if isinstance(node, ast.Attribute):
        return node.attr
    if isinstance(node, ast.alias):
        return node.name.rsplit(".", 1)[-1]
    if isinstance(node, ast.Constant) and isinstance(node.value, str):
        return node.value if node.value.isidentifier() else None
    return None


def test_every_package_function_is_referenced():
    defs = []  # (file, FunctionDef)
    refs: dict[str, list[tuple[pathlib.Path, int]]] = {}
    for path in _python_files():
        tree = ast.parse(path.read_text(), str(path))
        rel = path.relative_to(ROOT)
        if rel.parts[0] == PACKAGE:
            defs += [
                (rel, n)
                for n in tree.body
                if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
                and not n.decorator_list
            ]
        for node in ast.walk(tree):
            name = _referenced_name(node)
            if name is not None:
                refs.setdefault(name, []).append((rel, getattr(node, "lineno", 0)))
    assert len(defs) > 100  # the scan sees the package
    dead = [
        f"{rel}::{fn.name}"
        for rel, fn in defs
        if all(
            f == rel and fn.lineno <= line <= fn.end_lineno
            for f, line in refs.get(fn.name, [])
        )
    ]
    assert not dead, f"package functions referenced nowhere: {dead}"
