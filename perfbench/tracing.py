"""Tracing for the benchmark's traced run: spans recorded in memory around
each call into a layer, and counters read from Spark's public status
sources.

- ``Tracer`` keeps spans (name, start, end, parent, run id); ``self_times``
  turns them into each layer's self time: its spans' duration minus the
  part of that interval its child spans cover.
- ``stage_totals`` sums the AppStatusStore ``StageData`` of a job group's
  stages (the same source ``bench.py`` reads executor task time from).
- ``ProgressLog`` is a ``StreamingQueryListener`` that keeps every
  micro-batch progress event, because streaming micro-batches run on the
  stream execution thread, outside any job group the caller sets.
"""

from __future__ import annotations

import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql.streaming import StreamingQueryListener


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str


class Tracer:
    """In-memory span recorder.

    Each thread has its own stack of open spans. A span opened on a
    thread with no open span of its own takes as parent the innermost
    open span of the thread that created the tracer: a ``foreachBatch``
    callback runs on a py4j callback thread, and the span that caused it
    is the caller's open ``finalize_to_dimension`` span."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._stacks: dict[int, list[Span]] = {}
        self._home = threading.get_ident()

    @contextmanager
    def span(self, name: str, run_id: str | None = None):
        me = threading.get_ident()
        with self._lock:
            stack = self._stacks.setdefault(me, [])
            outer = stack or self._stacks.get(self._home, [])
            parent = outer[-1] if outer else None
            if run_id is None:
                run_id = parent.run_id if parent else ""
            s = Span(len(self.spans), name, time.perf_counter(), 0.0,
                     parent.sid if parent else None, run_id)
            self.spans.append(s)
            stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            with self._lock:
                stack.remove(s)

    def wrap(self, name: str, fn):
        """``fn`` with every call recorded as a span named ``name``."""

        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced


def self_times(spans: list[Span]) -> dict[str, float]:
    """Self time per span name, summed over every span of that name in
    ``spans`` (pass one run's spans to get that run's figures): each
    span's duration minus the union of its children's intervals, clipped
    to the parent's interval."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        covered, cursor = 0.0, s.start
        for c in sorted(children.get(s.sid, ()), key=lambda c: c.start):
            lo, hi = max(c.start, cursor), min(c.end, s.end)
            if hi > lo:
                covered += hi - lo
                cursor = hi
        out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - covered
    return out


_STAGE_FIELDS = {
    "task_s": ("executorRunTime", 1e-3),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "spill_bytes": ("diskBytesSpilled", 1),
    "peak_exec_memory_bytes": ("peakExecutionMemory", 1),
}


def stage_totals(spark, group: str) -> dict[str, float]:
    """Jobs, stages and summed ``StageData`` fields of every job
    submitted under job group ``group`` (``peak_exec_memory_bytes`` is
    the largest stage's). Of a stage's attempts, the one with the most
    run time counts."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stage_ids: set[int] = set()
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        if info is not None:
            stage_ids.update(info.stageIds)
    store = sc._jsc.sc().statusStore()
    no_status = sc._jvm.java.util.Collections.emptyList()
    no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
    out = dict.fromkeys(_STAGE_FIELDS, 0.0)
    out["jobs"] = len(jobs)
    out["stages"] = len(stage_ids)
    for sid in stage_ids:
        attempts = store.stageData(sid, False, no_status, False, no_quantiles)
        best, it = None, attempts.iterator()
        while it.hasNext():
            a = it.next()
            if best is None or a.executorRunTime() > best.executorRunTime():
                best = a
        if best is None:
            continue
        for key, (field, scale) in _STAGE_FIELDS.items():
            v = getattr(best, field)() * scale
            if key == "peak_exec_memory_bytes":
                out[key] = max(out[key], v)
            else:
                out[key] += v
    return out


class ProgressLog(StreamingQueryListener):
    """Keeps each micro-batch's progress, grouped by query run."""

    def __init__(self) -> None:
        self._batches: dict[str, list[dict]] = {}
        self._done: list[str] = []
        self._cond = threading.Condition()

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        state = list(p.stateOperators)
        row = {
            "batch_id": p.batchId,
            "input_rows": p.numInputRows,
            "duration_ms": dict(p.durationMs),
            "state_rows": sum(s.numRowsTotal for s in state),
            "state_commit_ms": sum(s.commitTimeMs for s in state),
            "state_memory_bytes": sum(s.memoryUsedBytes for s in state),
            "state_partitions": sum(s.numShufflePartitions for s in state),
        }
        with self._cond:
            self._batches.setdefault(str(p.runId), []).append(row)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self._cond:
            self._done.append(str(event.runId))
            self._cond.notify_all()

    def wait_runs(self, n: int, timeout: float = 30.0) -> list[list[dict]]:
        """Wait until ``n`` query runs have terminated (the listener bus
        delivers events after the query returns) and return each run's
        batches, in the order the runs terminated."""
        deadline = time.monotonic() + timeout
        with self._cond:
            while len(self._done) < n:
                left = deadline - time.monotonic()
                if left <= 0:
                    raise TimeoutError(f"{len(self._done)} of {n} runs reported")
                self._cond.wait(left)
            return [list(self._batches.get(r, [])) for r in self._done]
