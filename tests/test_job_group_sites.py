"""Job groups and the status store are read in one place: ``profile.run``.

A harness that sets its own job group and reads stage ids back is a copy
of the run protocol (cache drop, group, timed build and noop write,
executor task time) that will drift from it. The scan walks the package,
bench.py, tools/ and tests/, including string constants that are package
source (child-process code). perfbench/ is the benchmark, which keeps its
own reader so that it times every revision of the package the same way.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "stream_processing_test_spark"
JOB_GROUP_API = {"statusStore", "statusTracker", "getJobIdsForGroup", "setJobGroup"}


def _files() -> list[Path]:
    return (
        sorted((ROOT / PKG).rglob("*.py"))
        + [ROOT / "bench.py"]
        + sorted((ROOT / "tools").glob("*.py"))
        + sorted((ROOT / "tests").glob("*.py"))
    )


def _api_uses(tree: ast.AST):
    for node in ast.walk(tree):
        if isinstance(node, ast.Attribute) and node.attr in JOB_GROUP_API:
            yield node.attr
        elif isinstance(node, ast.Name) and node.id in JOB_GROUP_API:
            yield node.id
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            if PKG in node.value:
                try:
                    yield from _api_uses(ast.parse(node.value))
                except SyntaxError:
                    pass


def test_only_profile_reads_job_groups():
    sites = {
        (path.relative_to(ROOT).as_posix(), name)
        for path in _files()
        for name in _api_uses(ast.parse(path.read_text()))
    }
    assert {path for path, _ in sites} == {f"{PKG}/profile.py"}, sorted(sites)
