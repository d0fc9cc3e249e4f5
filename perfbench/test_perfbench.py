"""Tests of the benchmark's own pieces (no Spark session needed):

    python3 -m pytest perfbench/test_perfbench.py
"""

from __future__ import annotations

import json
import math
import re
import sys
from pathlib import Path

import numpy as np
import pandas as pd
import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(ROOT), str(HERE)]

import gen  # noqa: E402
import run  # noqa: E402
from tracing import Span, self_times  # noqa: E402


def _files(d: Path) -> dict[str, bytes]:
    return {p.name: p.read_bytes() for p in sorted(d.iterdir())}


def test_tables_same_seed_same_bytes_other_seed_differs(tmp_path):
    gen.write_tables(str(tmp_path / "a"), 7)
    gen.write_tables(str(tmp_path / "b"), 7)
    gen.write_tables(str(tmp_path / "c"), 8)
    a, b, c = (_files(tmp_path / k) for k in "abc")
    from stream_processing_test_spark.tables import TABLE_NAMES

    assert sorted(a) == sorted(f"{t}.parquet" for t in TABLE_NAMES)
    assert a == b
    assert a["lineitem.parquet"] != c["lineitem.parquet"]


def test_day_plan_same_seed_same_bytes_other_seed_differs():
    def rounds(seed):
        plan = gen.DayPlan.make(seed, 50, 4)
        return [(plan.events_parquet(r), plan.envelope_lines(r)) for r in range(4)]

    assert rounds(3) == rounds(3)
    assert rounds(3) != rounds(4)


def test_day_plan_expected_score_is_the_closed_form():
    plan = gen.DayPlan.make(5, 200, 6)
    for s, got in enumerate(plan.expected_scores()):
        err = sum(plan.items[r, s] != 0 for r in range(6))
        assert got == max(math.floor((6 - err) / 6 * 100), 0)
    errors = plan.items != 0
    assert 0.1 < errors.mean() < 0.3
    codes = plan.items[errors]
    top = {int(c) for c in np.bincount(codes - 1000).argsort()[-2:]}
    assert top == {1, 15}  # skewed toward 1001 and 1015
    assert (plan.resolution == "0x0").any()


def test_day_plan_shapes_match_the_library_schemas():
    from stream_processing_test_spark.schemas import (
        BROADCAST_DETAIL_SCHEMA,
        STREAM_SOURCE_SCHEMA,
    )
    from stream_processing_test_spark.sources.envelope import TRANSPORT_SCHEMA

    plan = gen.DayPlan.make(1, 10, 3)
    line = json.loads(plan.envelope_lines(0).decode().splitlines()[0])
    assert list(line) == TRANSPORT_SCHEMA.names
    assert all(isinstance(v, str) for v in line.values())
    assert re.fullmatch(r"\d{4}-\d\d-\d\d \d\d:\d\d:\d\d", line["created_time"])
    assert plan.source_dim().column_names == STREAM_SOURCE_SCHEMA.names
    assert plan.programs_table().column_names == BROADCAST_DETAIL_SCHEMA.names


def _span(sid, start, end, parent=None, name=None, run_id="r"):
    return Span(sid, name or f"s{sid}", start, end, parent, run_id)


def test_self_time_on_nested_spans():
    spans = [
        _span(0, 0.0, 10.0, name="outer"),
        # two children that overlap each other: their union is 2..7
        _span(1, 2.0, 6.0, 0, name="child"),
        _span(2, 4.0, 7.0, 0, name="child"),
        # a child reaching past the parent's end counts only up to it
        _span(3, 9.0, 12.0, 0, name="late"),
        # a grandchild is covered by its parent, not by the outer span
        _span(4, 2.5, 3.5, 1, name="grand"),
    ]
    got = self_times(spans)
    assert got["outer"] == pytest.approx(10 - 5 - 1)
    assert got["child"] == pytest.approx((4 - 1) + 3)
    assert got["late"] == pytest.approx(3)
    assert got["grand"] == pytest.approx(1)


def test_self_time_sums_one_name_over_runs():
    spans = [_span(0, 0, 2, run_id="a", name="x"), _span(1, 5, 8, run_id="b", name="x")]
    assert self_times(spans) == {"x": pytest.approx(5)}
    assert self_times([s for s in spans if s.run_id == "b"]) == {"x": pytest.approx(3)}


def test_metric_names_and_benchmark_json_agree():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert all(re.fullmatch(r"[A-Za-z0-9_.-]+", n) and len(n) <= 64 for n in names)
    assert len(names) == len(set(names))
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)


def test_suite_split_covers_every_non_streaming_headline_query():
    import bench
    from stream_processing_test_spark.registry import all_queries

    specs = all_queries()
    modules: dict[str, set[str]] = {s: set() for s in run.SAMPLE}
    for q in bench.HEADLINE:
        module = specs[q].fn.__module__.removeprefix("stream_processing_test_spark.")
        package = module.split(".")[0]
        suites = [s for s, p in run.SUITE_PACKAGE.items() if p == package]
        if package == "streaming":
            assert not suites  # day_loop measures the streaming layer
            continue
        assert len(suites) == 1, (q, module)
        modules[suites[0]].add(module)
    for suite, sample in run.SAMPLE.items():
        assert set(sample) | (modules[suite] & set(run.UNSAMPLED)) == modules[suite]
        for module, q in sample.items():
            assert q in bench.HEADLINE
            assert specs[q].fn.__module__.endswith(module)
            assert specs[q].oracle is not None


def test_oracle_check_tolerates_last_digit_rounding_only():
    duck = pd.DataFrame({"k": ["a", "b"], "v": [470.9173, 53.3043]})
    near = pd.DataFrame({"v": [53.3042, 470.9172], "k": ["b", "a"]})
    far = pd.DataFrame({"k": ["a", "b"], "v": [470.92, 53.3043]})
    assert run.oracle_mismatch(near, duck) == ""
    assert run.oracle_mismatch(far, duck).startswith("v:")
    assert run.oracle_mismatch(near.head(1), duck).startswith("rows")
