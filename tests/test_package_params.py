"""Every defaulted package parameter must be set by some call.

A parameter with a default that no call in the repo ever passes is a
constant spelled as a knob: it widens the signature, and every reader
has to check whether some caller relies on it. This scan walks the AST
of every ``def`` in the package, collects its defaulted parameters,
and reports each one that no call in the repo's ``.py`` files (tests
included) passes by keyword or by position. Calls resolve by function
or attribute name and through ``import ... as`` aliases; a call that
splats ``*args``/``**kwargs`` counts as passing every parameter it
could reach. Names defined more than once in the package are skipped,
since a call cannot be told apart between them.

The only exceptions are the deployment settings in ``ALLOWED``: knobs
an operator sets for their own database, host or receiver, which no
test or workload here has reason to vary."""

from __future__ import annotations

import ast
from collections import Counter, defaultdict

from tests.test_unreferenced_defs import PKG, ROOT, _repo_files

ALLOWED = {
    "sources/jdbc.py:read_jdbc.fetchsize": (
        "rows per JDBC round trip; sized to the deployment's database"
    ),
    "sources/jdbc.py:write_jdbc.truncate": (
        "full-refresh overwrite keeping the table's grants and indexes"
    ),
    "sources/jdbc.py:write_jdbc.batchsize": (
        "rows per JDBC insert batch; sized to the database's ingest headroom"
    ),
    "sources/probe.py:ffprobe_available.path": (
        "search path for an ffprobe installed off PATH on the probe host"
    ),
    "sources/probe.py:ffprobe_prober.open_timeout_s": (
        "per-stream connect timeout for the deployment's network"
    ),
    "sinks/reports.py:send_report_batches.pacing_s": (
        "pause between posts for a rate-limited webhook receiver"
    ),
}


def _defaulted(fn: ast.FunctionDef | ast.AsyncFunctionDef):
    """(name, positional index or None) of each defaulted parameter,
    the index counted from the first argument a call site passes."""
    a = fn.args
    pos = a.posonlyargs + a.args
    skip = 1 if pos and pos[0].arg in ("self", "cls") else 0
    for i in range(len(pos) - len(a.defaults), len(pos)):
        yield pos[i].arg, i - skip
    for arg, default in zip(a.kwonlyargs, a.kw_defaults):
        if default is not None:
            yield arg.arg, None


def unset_params() -> tuple[int, list[str]]:
    """(number of defaulted parameters scanned, the ones no call sets)."""
    defs = []
    n_defined: Counter[str] = Counter()
    keywords: dict[str, set[str]] = defaultdict(set)
    positional: Counter[str] = Counter()  # most positionals any call passes
    splatted: set[str] = set()
    for path in _repo_files():
        tree = ast.parse(path.read_text())
        rel = path.relative_to(ROOT)
        if PKG in rel.parts:
            for node in ast.walk(tree):
                if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    n_defined[node.name] += 1
                    where = rel.relative_to(PKG).as_posix()
                    defs += [(where, node.name, p) for p in _defaulted(node)]
        alias = {
            a.asname: a.name.rsplit(".", 1)[-1]
            for a in ast.walk(tree)
            if isinstance(a, ast.alias) and a.asname
        }
        for call in ast.walk(tree):
            if not isinstance(call, ast.Call):
                continue
            f = call.func
            name = getattr(f, "id", getattr(f, "attr", None))
            if name is None:
                continue
            name = alias.get(name, name)
            keywords[name].update(k.arg for k in call.keywords if k.arg)
            if any(k.arg is None for k in call.keywords) or any(
                isinstance(x, ast.Starred) for x in call.args
            ):
                splatted.add(name)
            positional[name] = max(positional[name], len(call.args))
    unset = [
        f"{where}:{fn}.{param}"
        for where, fn, (param, index) in defs
        if n_defined[fn] == 1
        and fn not in splatted
        and param not in keywords[fn]
        and (index is None or positional[fn] <= index)
    ]
    return len(defs), unset


def test_every_defaulted_package_param_is_set_by_some_call():
    n_params, unset = unset_params()
    assert n_params > 100, "the scan found almost no defaulted parameters"
    stale = sorted(set(ALLOWED) - set(unset))
    assert not stale, f"allowlisted parameters that are gone or now set: {stale}"
    never = [p for p in unset if p not in ALLOWED]
    assert not never, f"defaulted package parameters no call sets: {never}"
