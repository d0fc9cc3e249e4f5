"""Every top-level package function and class must be used somewhere.

A registered query (``@register``) is reached through the registry by
name; anything else at the top level of the package that no statement
in the repo names is dead code. This scan walks the AST of every
``.py`` file in the repo — names, attribute accesses, ``from ... import``
aliases, and string constants that are themselves package source — and
reports each unregistered top-level ``def``/``class`` that is named
nowhere except inside its own definition."""

from __future__ import annotations

import ast
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "stream_processing_test_spark"


def _repo_files() -> list[Path]:
    return sorted(
        p
        for p in ROOT.rglob("*.py")
        if not any(
            part.startswith(".") or part == "spark-warehouse"
            for part in p.relative_to(ROOT).parts
        )
    )


def _names(tree: ast.AST):
    """Every identifier ``tree`` refers to, including inside string
    constants that are package source (child-process code)."""
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            yield node.id
        elif isinstance(node, ast.Attribute):
            yield node.attr
        elif isinstance(node, ast.alias):
            yield node.name.rsplit(".", 1)[-1]
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            if PKG in node.value:
                try:
                    yield from _names(ast.parse(node.value))
                except SyntaxError:
                    pass


def _registered(node: ast.AST) -> bool:
    for d in getattr(node, "decorator_list", []):
        f = d.func if isinstance(d, ast.Call) else d
        if getattr(f, "id", getattr(f, "attr", None)) == "register":
            return True
    return False


def unreferenced_defs() -> tuple[int, list[str]]:
    """(number of defs scanned, the unreferenced ones)."""
    # name -> the top-level statements (file, index) that use it
    uses: dict[str, set[tuple[Path, int]]] = defaultdict(set)
    defs: list[tuple[Path, int, str]] = []
    for path in _repo_files():
        tree = ast.parse(path.read_text())
        for i, stmt in enumerate(tree.body):
            for name in _names(stmt):
                uses[name].add((path, i))
            if (
                PKG in path.relative_to(ROOT).parts
                and isinstance(
                    stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
                )
                and not _registered(stmt)
            ):
                defs.append((path, i, stmt.name))
    return len(defs), [
        f"{path.relative_to(ROOT)}:{name}"
        for path, i, name in defs
        if not uses[name] - {(path, i)}
    ]


def test_every_package_def_is_referenced():
    n_defs, dead = unreferenced_defs()
    assert n_defs > 100, "the scan found almost no package defs"
    assert not dead, f"top-level package defs nothing uses: {dead}"
