"""The IVF execution ladder is written once per engine.

Two queries score a routed IVF batch through the same three arms: exact
probed scoring, the probed-ADC composition, and windowed ADC. The arm
follows from the estimated probed rows against two measured crossovers,
``APPEND_ADC_ROWS`` and ``APPEND_SPILL_ROWS``. On the Spark side that
choice lives in ``llm.similarity.ivf_ladder``. In DuckDB the probed-ADC
join lives in ``llm.pq._probed_adc_ctes`` and the choice in
``llm.similarity._ladder_ctes``. Separate copies drift: one arm of an
earlier pair lacked a guard its sibling had. The scan walks the
package AST, including SQL inside string constants, whitespace-collapsed
so that a reflowed copy still counts.
"""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "stream_processing_test_spark"
ADC_JOIN = "JOIN lut l ON l.query_id ="
CROSSOVERS = {"APPEND_ADC_ROWS", "APPEND_SPILL_ROWS"}
FIELDS = {"adc_rows", "spill_rows"}  # the Crossovers fields they default


def _defs():
    """(module path, innermost def, its own nodes) for every def and
    for each module's top level; nested defs are not their parent's."""

    def own(node):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            yield child
            yield from own(child)

    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        tree = ast.parse(path.read_text(), str(path))
        yield rel, None, list(own(tree))
        for fn in ast.walk(tree):
            if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                yield rel, fn, list(own(fn))


def _crossover_names(fn, nodes) -> set[str]:
    """The constants plus each parameter of ``fn`` they default, in the
    signature or by an ``if p is None: p = CONST`` in the body."""
    names = set(CROSSOVERS)
    if fn is None:
        return names
    args = fn.args.posonlyargs + fn.args.args
    defaults = list(zip(args[::-1], fn.args.defaults[::-1]))
    defaults += zip(fn.args.kwonlyargs, fn.args.kw_defaults)
    names |= {
        a.arg for a, d in defaults if getattr(d, "id", None) in CROSSOVERS
    }
    for node in nodes:
        if (
            isinstance(node, ast.Assign)
            and getattr(node.value, "id", None) in CROSSOVERS
        ):
            names |= {t.id for t in node.targets if isinstance(t, ast.Name)}
    return names


def _compares_crossover(fn, nodes) -> bool:
    names = _crossover_names(fn, nodes)
    for node in nodes:
        if not isinstance(node, ast.Compare) or all(
            isinstance(op, (ast.Is, ast.IsNot)) for op in node.ops
        ):
            continue
        for sub in ast.walk(node):
            if (
                getattr(sub, "id", None) in names
                or getattr(sub, "attr", None) in FIELDS
            ):
                return True
    return False


def _adc_join_strings() -> list[tuple[str, str | None]]:
    """(module path, innermost def) of each string constant holding
    the probed-ADC join."""
    return [
        (rel, getattr(fn, "name", None))
        for rel, fn, nodes in _defs()
        for node in nodes
        if isinstance(node, ast.Constant)
        and isinstance(node.value, str)
        and ADC_JOIN in " ".join(node.value.split())
    ]


def test_probed_adc_join_spelled_once():
    assert _adc_join_strings() == [("llm/pq.py", "_probed_adc_ctes")]


def test_ladder_decision_made_once():
    sites = {
        (rel, fn.name)
        for rel, fn, nodes in _defs()
        if fn is not None and _compares_crossover(fn, nodes)
    }
    assert sites == {("llm/similarity.py", "ivf_ladder")}
