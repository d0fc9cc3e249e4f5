"""One isolated, timed run of a query, split by layer: the run protocol
bench.py and the timing tools share. ``build_s`` plus the jobs run while
building is the driver-side coordination cost; ``task_s`` is the
executor-side cost, the one that scales with cores."""

from __future__ import annotations

import time

from stream_processing_test_spark.session import release_pinned_rdds

# the local properties SparkContext.setJobGroup writes
_JOB_GROUP_KEYS = (
    "spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"
)


def run(spark, build, label: str):
    """Drop caches and pinned RDDs, run ``build()`` under job group
    ``<label>:build`` and write its frame to the noop sink under
    ``<label>:exec``; return ``(df, record)``. The caller's job group is
    restored and a query's exception propagates. The record counts every
    job of the two groups, so each run needs its own label:

    - ``build_s``, ``exec_s`` and their sum ``wall_s``. A query that
      materializes while building (``finish_with``, driver-side loops)
      has that execution in ``build_s``, and ``build_jobs > 0``.
    - ``build_jobs``, ``jobs``: jobs of the build group, and of both.
    - ``stages``: distinct stages of those jobs; ``task_s``: their
      executorRunTime, None if the status store could not be read.

    Streaming queries run their micro-batch jobs on the stream execution
    thread, outside both groups, so for them ``jobs``, ``stages`` and
    ``task_s`` cover foreground work only.
    """
    sc = spark.sparkContext
    caller = {k: sc.getLocalProperty(k) for k in _JOB_GROUP_KEYS}
    spark.catalog.clearCache()  # each run pays for (only) its own caches
    release_pinned_rdds(spark)  # incl. checkpoint pins (kmeans assignments)
    try:
        sc.setJobGroup(f"{label}:build", label)
        t0 = time.perf_counter()
        df = build()
        build_s = time.perf_counter() - t0
        sc.setJobGroup(f"{label}:exec", label)
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        exec_s = time.perf_counter() - t0
    finally:
        for key, value in caller.items():
            sc.setLocalProperty(key, value)  # None removes the property

    tracker = sc.statusTracker()
    build_jobs = list(tracker.getJobIdsForGroup(f"{label}:build"))
    jobs = build_jobs + list(tracker.getJobIdsForGroup(f"{label}:exec"))
    stage_ids: set[int] = set()
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        if info is not None:
            stage_ids.update(info.stageIds)
    task_ms = _task_time_ms_for_stages(spark, stage_ids)
    return df, {
        "build_s": build_s,
        "exec_s": exec_s,
        "wall_s": build_s + exec_s,
        "build_jobs": len(build_jobs),
        "jobs": len(jobs),
        "stages": len(stage_ids),
        "task_s": None if task_ms is None else task_ms / 1000.0,
    }


def _task_time_ms_for_stages(spark, stage_ids) -> int | None:
    """Sum of executorRunTime (ms, max over attempts) for the given
    stage ids, from the driver's AppStatusStore — the executor-side
    cost ledger the UI's Stages tab reads. Used to attribute per-query
    EXECUTOR TASK TIME alongside wall: at sf0.1 wall is dominated by
    fixed driver costs (plan build, barriers), so an 8-vs-32-core wall
    ratio is ~1 and reads as 'cpus ignored' (PERF r16 flagged exactly
    that, a false positive — VERDICT r16 item 4/next-2). Task time is
    what actually scales with cores. Best-effort: any reflection
    failure returns None and the bench emits wall only."""
    try:
        sc = spark.sparkContext
        store = sc._jsc.sc().statusStore()
        jvm = sc._jvm
        empty_statuses = jvm.java.util.Collections.emptyList()
        empty_quantiles = sc._gateway.new_array(jvm.double, 0)
        total = 0
        for sid in stage_ids:
            # Seq[v1.StageData], one entry per attempt; max is the
            # attempt that actually completed the work
            seq = store.stageData(
                sid, False, empty_statuses, False, empty_quantiles
            )
            it = seq.iterator()
            best = 0
            while it.hasNext():
                rt = it.next().executorRunTime()
                if rt > best:
                    best = rt
            total += best
        return total
    except Exception:
        return None
