"""The package starts streaming queries in exactly three places: the
replay harness every registered replay query runs through, the T8
day-close pipeline and the processing-time rate rollup. A query that
wires its own ``.writeStream`` is back to copying the harness (its
session clone, state partitions and replay dir)."""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "stream_processing_test_spark"


def _write_stream_sites() -> set[tuple[str, str | None]]:
    """(module path, innermost enclosing def) of every ``.writeStream``."""
    sites: set[tuple[str, str | None]] = set()

    def visit(node: ast.AST, rel: str, fn: str | None) -> None:
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                visit(child, rel, child.name)
                continue
            if isinstance(child, ast.Attribute) and child.attr == "writeStream":
                sites.add((rel, fn))
            visit(child, rel, fn)

    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        visit(ast.parse(path.read_text(), str(path)), rel, None)
    return sites


def test_write_stream_call_sites():
    assert _write_stream_sites() == {
        ("streaming/pipeline.py", "replay_to_memory"),
        ("streaming/pipeline.py", "finalize_to_dimension"),
        ("streaming/pipeline.py", "streaming_rate_rollup"),
    }
