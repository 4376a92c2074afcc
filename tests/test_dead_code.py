"""No dead package code. Every undecorated top-level function under
``aws_data_pipeline_spark/`` is referenced somewhere in the repository's
Python outside its own body — by the package, a test, a script, the
benchmark or an entry point (decorated functions, the registered queries,
are reached through their registry and are not checked). And every
defaulted option of a package function or config dataclass is set by
some call: an option nobody sets is a constant.

A reference is a name, an attribute, an imported name or a string equal
to the function's name (``getattr`` lookups and ``__all__`` lists count).
The scan is static, needs no Spark session and runs in about a second."""

from __future__ import annotations

import ast
import pathlib
import re

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


# Schema bindings (``*_col``, ``*_cols``, ``out_*``, ``*_prefix``) and
# deployment settings (paths, directories, the Spark master, app name and
# extra conf) name or place data without changing behaviour, so a default
# nobody overrides is still right for them.
_EXEMPT = re.compile(
    r".*_cols?$|^out_|.*_prefix$|.*path$|.*_dir$|^(master|app_name|extra_conf)$"
)


def _is_dataclass(node: ast.ClassDef) -> bool:
    return any(
        _referenced_name(d.func if isinstance(d, ast.Call) else d) == "dataclass"
        for d in node.decorator_list
    )


def _defaults(tree: ast.Module):
    """(owner, name, position or None, is a field) of every defaulted
    parameter of a top-level function and every defaulted field of a
    ``@dataclass``."""
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            a = node.args
            pos = a.posonlyargs + a.args
            first = len(pos) - len(a.defaults)
            for i, arg in enumerate(pos[first:], first):
                yield node.name, arg.arg, i, False
            for arg, d in zip(a.kwonlyargs, a.kw_defaults):
                if d is not None:
                    yield node.name, arg.arg, None, False
        elif isinstance(node, ast.ClassDef) and _is_dataclass(node):
            fields = [
                s for s in node.body
                if isinstance(s, ast.AnnAssign) and isinstance(s.target, ast.Name)
            ]
            for i, s in enumerate(fields):
                if s.value is not None:
                    yield node.name, s.target.id, i, True


def test_every_defaulted_option_is_set_by_some_call():
    """No behaviour option with one value in use: every defaulted
    parameter of a top-level package function, and every defaulted field
    of a package ``@dataclass``, is passed by some call in the
    repository's Python — by keyword, by position, by ``*args``, through
    a ``**mapping`` whose keys a dict literal spells, or (a field) by an
    attribute assignment. An option nothing sets is a constant: write
    its value in and delete the branches it guarded. Schema bindings and
    deployment settings are exempt (``_EXEMPT``).

    Counts of defaulted parameters and fields, unset ones among them, and
    unset behaviour options: 631 (606 parameters + 25 fields), 271 and
    118 when this check was added; 509 (493 + 16), 157 and 0 after the
    options it found became constants, column-name bindings, or (two
    documented 100 TB paths) tested. Calls match by name and imported
    alias, so a same-named callee elsewhere can only hide a finding."""
    defs = []  # (file, owner, name, position, is a field)
    calls: dict[str, list[ast.Call]] = {}
    assigned: set[str] = set()  # attribute names assigned anywhere
    keys: set[str] = set()  # names a dict literal or dict(...) spells
    for path in _python_files():
        tree = ast.parse(path.read_text(), str(path))
        rel = path.relative_to(ROOT)
        if rel.parts[0] == PACKAGE:
            defs += [(rel, *d) for d in _defaults(tree)]
        alias = {
            a.asname: a.name
            for n in ast.walk(tree)
            if isinstance(n, ast.ImportFrom)
            for a in n.names
            if a.asname
        }
        for node in ast.walk(tree):
            if isinstance(node, ast.Call):
                name = _referenced_name(node.func)
                if name is not None:
                    calls.setdefault(alias.get(name, name), []).append(node)
                if name == "dict":
                    keys |= {k.arg for k in node.keywords if k.arg}
            elif isinstance(node, ast.Dict):
                keys |= {
                    k.value for k in node.keys
                    if isinstance(k, ast.Constant) and isinstance(k.value, str)
                }
            elif isinstance(node, (ast.Assign, ast.AnnAssign, ast.AugAssign)):
                targets = (
                    node.targets if isinstance(node, ast.Assign) else [node.target]
                )
                assigned |= {t.attr for t in targets if isinstance(t, ast.Attribute)}

    def passed(owner: str, name: str, pos: int | None, field: bool) -> bool:
        for call in calls.get(owner, []):
            if any(
                k.arg == name or (k.arg is None and name in keys)
                for k in call.keywords
            ):
                return True
            starred = any(isinstance(a, ast.Starred) for a in call.args)
            if pos is not None and (pos < len(call.args) or starred):
                return True
        return field and name in assigned

    assert len(defs) > 400  # the scan sees the package
    unset = [
        f"{rel}::{owner}({name})"
        for rel, owner, name, pos, field in defs
        if not _EXEMPT.match(name) and not passed(owner, name, pos, field)
    ]
    assert not unset, f"defaulted options no call sets: {unset}"
