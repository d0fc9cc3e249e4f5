"""Every package name the tools and bench.py import must exist.

The tools run rarely and several import inside function bodies (or
inside the child-process source they spawn), so a rename in the
package would otherwise surface only when someone re-runs an old
measurement. This scan walks each file's AST — every scope, plus
string constants that are themselves child-process source — and
resolves each ``from stream_processing_test_spark... import X``."""

from __future__ import annotations

import ast
import importlib
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

PKG = "stream_processing_test_spark"
FILES = sorted((ROOT / "tools").glob("*.py")) + [ROOT / "bench.py"]


def _package_imports(tree: ast.AST):
    """(module, name) for every package ``from ... import`` in ``tree``,
    at any depth, including in embedded child-process source strings."""
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and (node.module or "").startswith(PKG):
            for alias in node.names:
                yield node.module, alias.name
        elif isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name.startswith(PKG):
                    yield alias.name, None
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            if f"from {PKG}" in node.value or f"import {PKG}" in node.value:
                yield from _package_imports(ast.parse(node.value))


@pytest.mark.parametrize("path", FILES, ids=lambda p: p.name)
def test_package_imports_resolve(path):
    missing = []
    for module, name in _package_imports(ast.parse(path.read_text())):
        try:
            mod = importlib.import_module(module)
        except ImportError:
            missing.append(module)
            continue
        if name is None or hasattr(mod, name):
            continue
        try:
            importlib.import_module(f"{module}.{name}")
        except ImportError:
            missing.append(f"{module}.{name}")
    assert not missing, f"{path.name} imports names the package lacks: {missing}"


def test_scan_sees_function_body_imports():
    src = "def f():\n    from stream_processing_test_spark.session import nope\n"
    assert list(_package_imports(ast.parse(src))) == [
        ("stream_processing_test_spark.session", "nope")
    ]
