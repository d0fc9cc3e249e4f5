"""The nearest-neighbour top-k tie-break is spelled once per engine.

Every ANN query ranks its rounded cosine ``cos_sim DESC, neighbor_id
ASC``; that order is the cross-engine determinism rule, so the Spark
rank and each DuckDB oracle must agree on it. The SQL spelling lives
in ``llm.params.ranked_cte`` and the Spark one in
``llm.similarity.tie_break``. A query that writes its own copy is back
to editing it in step with every other copy. The scan walks the
package, including SQL inside string constants (whitespace-collapsed,
so a reflowed copy still counts).
"""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "stream_processing_test_spark"
SQL = "cos_sim DESC, neighbor_id ASC"


def _is_order(node: ast.AST, col: str, direction: str) -> bool:
    """``node`` is ``F.col(col).<direction>()``."""
    return (
        isinstance(node, ast.Call)
        and not node.args
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == direction
        and isinstance(node.func.value, ast.Call)
        and getattr(node.func.value.func, "attr", None) == "col"
        and [getattr(a, "value", None) for a in node.func.value.args] == [col]
    )


def _spells_tie_break(node: ast.AST) -> bool:
    if isinstance(node, ast.Constant) and isinstance(node.value, str):
        return SQL in " ".join(node.value.split())
    if isinstance(node, (ast.Tuple, ast.List)):
        seq = node.elts
    elif isinstance(node, ast.Call):
        seq = node.args
    else:
        return False
    return any(
        _is_order(a, "cos_sim", "desc") and _is_order(b, "neighbor_id", "asc")
        for a, b in zip(seq, seq[1:])
    )


def _tie_break_sites() -> set[tuple[str, str | None]]:
    """(module path, innermost enclosing def) of every spelling."""
    sites: set[tuple[str, str | None]] = set()

    def visit(node: ast.AST, rel: str, fn: str | None) -> None:
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                visit(child, rel, child.name)
                continue
            if _spells_tie_break(child):
                sites.add((rel, fn))
            visit(child, rel, fn)

    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        visit(ast.parse(path.read_text(), str(path)), rel, None)
    return sites


def test_topk_tie_break_spelled_once_per_engine():
    assert _tie_break_sites() == {
        ("llm/params.py", "ranked_cte"),
        ("llm/similarity.py", "tie_break"),
    }
