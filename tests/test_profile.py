"""``profile.run``: one isolated, timed query run and its layer record
(plan build vs execution, jobs, stages, executor task seconds)."""

from __future__ import annotations

import pytest

from stream_processing_test_spark import profile
from stream_processing_test_spark.registry import PLAN_OPAQUE_QUERIES, all_queries
from tests.conftest import SF_SMALL


def _run(spark, name: str, label: str) -> dict:
    fn = all_queries()[name].fn
    return profile.run(spark, lambda: fn(spark, SF_SMALL), label)[1]


@pytest.mark.parametrize("name", ["daily_scores", "q1_pricing_summary"])
def test_lazy_query_builds_without_jobs(spark, name):
    """A lazy query runs no job while its plan is built; its jobs all
    come from the write. Asserted on the second run, because the first
    read of a table in a session runs one job."""
    _run(spark, name, f"test_profile:{name}:0")
    rec = _run(spark, name, f"test_profile:{name}:1")
    assert rec["build_jobs"] == 0, rec
    assert rec["jobs"] >= 1 and rec["stages"] >= 1, rec
    assert rec["build_s"] + rec["exec_s"] == pytest.approx(rec["wall_s"], abs=1e-3)
    assert rec["task_s"] is not None and rec["task_s"] >= 0, rec


@pytest.mark.parametrize("name", ["dup_clusters", "streaming_daily_scores"])
def test_materializing_query_runs_jobs_while_building(spark, name):
    """Queries the registry lists as plan-opaque execute while they
    build: the CC loop's rounds, and the streaming replay's read of its
    memory sink (its micro-batch jobs run outside the job group)."""
    assert name in PLAN_OPAQUE_QUERIES
    rec = _run(spark, name, f"test_profile:{name}")
    assert rec["build_jobs"] > 0, rec
    assert rec["jobs"] > rec["build_jobs"], rec


def test_job_group_restored_and_exception_propagates(spark):
    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", "caller")
    try:
        _run(spark, "daily_scores", "test_profile:restore")
        assert sc.getLocalProperty("spark.jobGroup.id") == "caller"

        def boom():
            raise ValueError("query failed while building")

        with pytest.raises(ValueError, match="query failed while building"):
            profile.run(spark, boom, "test_profile:raise")
        assert sc.getLocalProperty("spark.jobGroup.id") == "caller"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
