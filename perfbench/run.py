"""The repo benchmark: one workload per run, printed as one JSON line.

    python3 perfbench/run.py --workload day_loop --seed 1 --seconds 10 --trace 0

Workloads (README.md says why each was chosen):

- ``day_loop``: the reference's probe day as an open loop. A generator
  thread lands one probe round of S sources every I wall-seconds; the
  scorer calls ``streaming.pipeline.finalize_to_dimension`` whenever new
  rounds have landed; after the last round the day close reads the
  envelope events and runs ``lifecycle.day_close``.
- ``suites``: the ``bench.HEADLINE`` queries of the ``analytics`` suite
  (defined under ``operators/``) and the ``corpus`` suite (under
  ``llm/``), one query per defining module, each materialized through
  the noop sink, pass after pass.

Every run builds the session and inputs three times and reports the
median (``setup_s``), warms up once (the day's first round, or the check
pass of the suites), checks the program's outputs (scores against
their closed form, suite queries against their DuckDB oracle), and
prints ``{"correct", "attempted", "failed", "metrics"}`` as its last
line: the end-to-end metrics with ``--trace 0``, the per-layer metrics
with ``--trace 1``. ``--out FILE`` also writes the run's samples and, when
traced, its spans, self times and counters.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import threading
import time
from contextlib import nullcontext
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench_work"
SETUPS = 3

WORKLOADS = ("day_loop", "suites")

# day_loop sizing: S sources probed every INTERVAL_S seconds; the round
# count is fixed by --seconds so every run of a length does the same work.
# A warm finalize call over one round takes 3.3-5 s on a 4-vCPU host, so
# the scorer keeps up with a round every 7 s. The day close runs CLOSES
# times over the landed day and the fastest is reported: the closes keep
# warming up through the run, and the host's noise only ever adds time.
SOURCES = 300
INTERVAL_S = 7.0
MIN_ROUNDS = 3
CLOSES = 4

# The timed sample of each suite: one headline query per defining module.
# A run pays one cold pass (the oracle check) and one timed pass, and a
# cold pass costs about 2.5 warm ones, so the sample must stay near 12 s
# warm on a 4-vCPU host; all 65 headline queries take 70-90 s.
SAMPLE = {
    "analytics": {
        "operators.behavior": "cohort_retention",
        "operators.extended": "decayed_user_scores",
        "operators.programs": "failing_programs",
        "operators.relational": "q6_forecast_revenue",
        "operators.rollup": "daily_scores",
        "operators.sqltext": "sql_daily_event_summary",
        "operators.stats": "stats_moments",
        "operators.tpch": "q10_returned_items",
        "operators.vendor": "vendor_flow_stats",
        "operators.windows": "top_events_per_user",
    },
    "corpus": {
        "llm.cluster": "dup_clusters",
        "llm.corpus": "doc_chunking",
        "llm.dedup": "dedup_exact",
        "llm.embeddings": "embedding_norm_stats",
        "llm.packing": "sequence_pack",
        "llm.sampling": "stratified_sample",
        "llm.similarity": "ann_cosine_topk",
        "llm.text": "token_count",
    },
}
SUITE_PACKAGE = {"analytics": "operators", "corpus": "llm"}
# Defining modules left out of the sample, with why.
UNSAMPLED = {
    "llm.pq": "ann_pq_topk costs 2.5 s warm plus 4 s of DuckDB oracle per run",
    "llm.filters": "doc_span_dedup costs 2.1 s warm, 6 s with its cold check",
}

# Oracle float tolerance: DuckDB and Spark round some 4-decimal results
# differently in the last digit (README.md, "Output checks").
REL_TOL, ABS_TOL = 1e-6, 1e-4

# Every end-to-end metric is a time at the reference host speed: the
# measured time times PROBE_REF_S over the run's median probe time.
PROBE_REF_S = 0.15
END_TO_END = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "completion_s": "s",
}

_MODULE_FIELDS = {"build_s": "s", "task_s": "s", "jobs": "count",
                  "shuffle_write_bytes": "bytes"}
_SUITE_FIELDS = {"total_s": "s", "spill_bytes": "bytes", "stages": "count",
                 "peak_exec_memory_bytes": "bytes"}
PER_LAYER = {
    "process.peak_rss_mb": "MB",
    "host.probe_s": "s",
    "session.get_spark_s": "s",
    "generator.late_max_s": "s",
    "streaming.pipeline.first_call_s": "s",
    "streaming.pipeline.call_s": "s",
    "streaming.pipeline.outside_trigger_s": "s",
    "streaming.pipeline.query_planning_ms": "ms",
    "streaming.pipeline.add_batch_ms": "ms",
    "streaming.pipeline.commit_ms": "ms",
    "streaming.pipeline.batches": "count",
    "streaming.pipeline.nodata_batch_ratio": "ratio",
    "streaming.state.rows_total": "count",
    "streaming.state.commit_ms": "ms",
    "streaming.state.memory_bytes": "bytes",
    "streaming.state.partitions": "count",
    "sinks.upsert.calls": "count",
    "sinks.upsert.busy_s": "s",
    "sinks.upsert.useful_ratio": "ratio",
    "sinks.upsert.dim_write_s": "s",
    "lifecycle.day_close.call_s": "s",
    "lifecycle.day_close.jobs": "count",
    "lifecycle.day_close.stages": "count",
    "lifecycle.day_close.task_s": "s",
    "lifecycle.day_close.shuffle_write_bytes": "bytes",
    "sinks.reports.pages": "count",
    "sinks.reports.sink_s": "s",
    **{
        f"{module}.{field}": unit
        for suite in SAMPLE.values()
        for module in suite
        for field, unit in _MODULE_FIELDS.items()
    },
    **{
        f"{suite}.{field}": unit
        for suite in SAMPLE
        for field, unit in _SUITE_FIELDS.items()
    },
}


class Run:
    """What one run measured and checked."""

    def __init__(self, tracer) -> None:
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = dict.fromkeys(PER_LAYER, 0.0)
        self.notes: dict = {}

    def op(self, ok: bool) -> None:
        self.attempted += 1
        self.failed += not ok

    def span(self, name: str, run_id: str | None = None):
        if self.tracer is None:
            return nullcontext()
        return self.tracer.span(name, run_id)


# ---------------------------------------------------------------------------
# session
# ---------------------------------------------------------------------------
def get_spark(work: Path):
    """The library's session on every core, with one shuffle partition
    per core: a run's inputs are small, and 32 partitions would mostly
    measure task overhead."""
    from stream_processing_test_spark.session import get_spark as build

    cores = len(os.sched_getaffinity(0))
    return build(
        "perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.local.dir": str(work / "spark-local"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_jvm(spark) -> int:
    """Stop the session and the gateway JVM, wait for the JVM to exit,
    and return its peak resident memory in kB."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = gateway.proc
    jvm_kb = vm_hwm_kb(proc.pid)
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None
    return jvm_kb


def probe(run: Run, spark) -> None:
    """Time a fixed job with no I/O (a hash fold over a literal range on
    every core): how fast the host runs Spark right now. The host is
    shared, and its speed moves by 20-50% between minutes; the metrics
    divide that out."""
    t = time.perf_counter()
    spark.range(0, 20_000_000, 1, len(os.sched_getaffinity(0))).selectExpr(
        "sum(xxhash64(id))").collect()
    run.notes.setdefault("probe_s", []).append(time.perf_counter() - t)


def vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for pid {pid}")


def set_up(run: Run, work: Path, make_inputs, warm_file: Path):
    """Build the session, make the inputs and scan ``warm_file`` (the
    first jobs of a session load and JIT the scan/write path) ``SETUPS``
    times, stopping the session in between, and keep the last;
    ``setup_s`` is the median. The first set-up also launches the JVM."""
    setups, sessions = [], []
    spark = None
    for k in range(SETUPS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        with run.span("session.get_spark", f"setup-{k}"):
            spark = get_spark(work)
        sessions.append(time.perf_counter() - t0)
        inputs = make_inputs()
        spark.read.parquet(str(warm_file)).write.format("noop").mode(
            "overwrite").save()
        setups.append(time.perf_counter() - t0)
        probe(run, spark)  # untimed: loads and JITs the probe
    run.notes["probe_s"] = []  # the probes that count are the later ones
    run.e2e["setup_s"] = statistics.median(setups)
    run.layer["session.get_spark_s"] = statistics.median(sessions)
    run.notes["setup_samples_s"] = setups
    return spark, inputs


# ---------------------------------------------------------------------------
# day_loop
# ---------------------------------------------------------------------------
def day_loop(run: Run, seed: int, seconds: int, work: Path):
    import numpy as np
    import pyarrow.parquet as pq
    from gen import DayPlan

    import stream_processing_test_spark.sinks.upsert as upsert_mod
    from stream_processing_test_spark.lifecycle import day_close
    from stream_processing_test_spark.sinks.reports import RecordingSink
    from stream_processing_test_spark.sources.envelope import read_probe_events
    from stream_processing_test_spark.streaming.pipeline import (
        finalize_to_dimension,
    )

    # round 0 opens the day and warms the streaming path up; rounds
    # 1..n_rounds are timed
    n_rounds = max(MIN_ROUNDS, round(seconds / INTERVAL_S))
    d = {k: work / k for k in ("events", "envelope", "staging", "dim",
                               "ckpt", "sources", "programs", "updated")}

    def make_inputs():
        for p in d.values():
            shutil.rmtree(p, ignore_errors=True)
        for k in ("events", "envelope", "staging", "dim"):
            d[k].mkdir(parents=True)
        plan = DayPlan.make(seed, SOURCES, n_rounds + 1)
        pq.write_table(plan.scores_dim(), d["dim"] / "part-0.parquet")
        pq.write_table(plan.source_dim(), str(d["sources"]) + ".parquet")
        pq.write_table(plan.programs_table(), str(d["programs"]) + ".parquet")
        rounds = [(plan.events_parquet(r), plan.envelope_lines(r))
                  for r in range(n_rounds + 1)]
        return plan, rounds

    spark, (plan, rounds) = set_up(
        run, work, make_inputs, d["dim"] / "part-0.parquet")
    tracer = run.tracer
    progress = None
    if tracer is not None:
        from tracing import ProgressLog

        progress = ProgressLog()
        spark.streams.addListener(progress)
        upsert_mod.upsert_parquet = tracer.wrap(
            "sinks.upsert.upsert_parquet", upsert_mod.upsert_parquet
        )

    def land(r: int) -> None:
        # files are renamed into place once fully written
        for kind, data, ext in (("events", rounds[r][0], "parquet"),
                                ("envelope", rounds[r][1], "json")):
            tmp = d["staging"] / f"r{r:04d}.{ext}"
            tmp.write_bytes(data)
            os.rename(tmp, d[kind] / tmp.name)

    def finalize(r: int) -> bool:
        try:
            with run.span("perfbench.round", f"round-{r}"), \
                    run.span("streaming.pipeline.finalize_to_dimension"):
                finalize_to_dimension(
                    spark, str(d["events"]), str(d["dim"]),
                    str(d["ckpt"]), watermark="1 day",
                )
            return True
        except Exception as exc:  # noqa: BLE001 — counted, run goes on
            run.notes.setdefault("errors", []).append(repr(exc)[:300])
            return False

    land(0)
    t0 = time.perf_counter()
    run.op(finalize(0))
    run.layer["streaming.pipeline.first_call_s"] = time.perf_counter() - t0

    # Open loop: round r is due at start + (r - 1) * INTERVAL_S whatever
    # the scorer is doing.
    landed = threading.Condition()
    landed_n = [1]
    late = []
    start = time.perf_counter() + 0.5
    due = [start + (r - 1) * INTERVAL_S for r in range(n_rounds + 1)]

    def generate():
        for r in range(1, n_rounds + 1):
            time.sleep(max(0.0, due[r] - time.perf_counter()))
            land(r)
            late.append(time.perf_counter() - due[r])
            with landed:
                landed_n[0] = r + 1
                landed.notify_all()

    gen_thread = threading.Thread(target=generate, name="generator")
    gen_thread.start()
    latencies, calls, scored = [], [], 1
    try:
        while scored <= n_rounds:
            with landed:
                while landed_n[0] == scored:
                    landed.wait()
                upto = landed_n[0]
            t0 = time.perf_counter()
            ok = finalize(scored)
            done = time.perf_counter()
            calls.append(done - t0)
            # probe the host while the scorer waits for the next round,
            # stopping short of its landing so the probes never delay it
            with landed:
                idle = landed_n[0] == upto
            until = due[upto] - 0.4 if upto <= n_rounds else time.perf_counter()
            while idle and time.perf_counter() < until:
                probe(run, spark)
            for r in range(scored, upto):
                latencies.append(done - due[r])
                run.op(ok)
            scored = upto
    finally:
        gen_thread.join()

    # Day close: envelope events -> lifecycle.day_close -> updated_dim
    # written and every report page posted; then the output checks,
    # outside the timed region. The streamed dimension is final now.
    expected = plan.expected_scores()
    streamed = spark.read.parquet(str(d["dim"])).toPandas().sort_values("id")
    stream_ok = (
        streamed["id"].tolist() == list(range(SOURCES))
        and streamed["flow_score"].astype("int64").tolist() == expected.tolist()
    )
    if not stream_ok:
        run.failed += 1  # the last round's output is wrong
    pages = math.ceil(SOURCES / 30)
    sc = spark.sparkContext
    closes, close_calls, dim_writes, sink_s, close_ok = [], [], [], [], []
    for k in range(CLOSES):
        sink = RecordingSink()
        sink_t = [0.0]

        def timed_sink(msg: str, sink=sink, sink_t=sink_t) -> None:
            t = time.perf_counter()
            with run.span("sinks.reports.sink"):
                sink(msg)
            sink_t[0] += time.perf_counter() - t

        group = f"perfbench:day_close:{k}"
        sc.setJobGroup(group, "day close")
        t0 = time.perf_counter()
        with run.span("perfbench.day_close", f"day_close-{k}"):
            with run.span("sources.envelope.read_probe_events"):
                events = read_probe_events(spark, str(d["envelope"]), "json")
            dim = spark.read.parquet(str(d["sources"]) + ".parquet")
            programs = spark.read.parquet(str(d["programs"]) + ".parquet")
            t1 = time.perf_counter()
            with run.span("lifecycle.day_close"):
                result = day_close(dim, events, programs, report_sink=timed_sink)
            t2 = time.perf_counter()
            with run.span("sinks.upsert.dim_write"):
                result.updated_dim.write.mode("overwrite").parquet(
                    str(d["updated"]))
            t3 = time.perf_counter()
        sc.setJobGroup("perfbench:after", "")
        closes.append(t3 - t0)
        close_calls.append(t2 - t1)
        dim_writes.append(t3 - t2)
        sink_s.append(sink_t[0])
        closed = spark.read.parquet(str(d["updated"])).toPandas()
        closed = closed.assign(id=closed["id"].astype(int)).sort_values("id")
        ok = (
            closed["id"].tolist() == list(range(SOURCES))
            and closed["flow_score"].astype("int64").tolist() == expected.tolist()
            and result.report_batches == pages
            and len(sink.messages) == pages
        )
        close_ok.append(bool(ok))
        run.op(ok)
        probe(run, spark)

    run.notes.update(
        rounds=n_rounds, sources=SOURCES, interval_s=INTERVAL_S,
        stream_check=bool(stream_ok), day_close_checks=close_ok,
        round_latency_s=latencies, call_s=calls, day_close_s=closes,
        mean_expected_score=float(np.mean(expected)),
    )
    run.e2e["latency_p50_s"] = statistics.median(latencies)
    run.e2e["completion_s"] = min(closes)

    L = run.layer
    L["generator.late_max_s"] = max(late)
    L["sinks.upsert.dim_write_s"] = statistics.median(dim_writes)
    L["lifecycle.day_close.call_s"] = statistics.median(close_calls)
    L["sinks.reports.pages"] = len(sink.messages)
    L["sinks.reports.sink_s"] = statistics.median(sink_s)
    if tracer is not None:
        from tracing import stage_totals

        totals = stage_totals(spark, group)
        for k in ("jobs", "stages", "task_s", "shuffle_write_bytes"):
            L[f"lifecycle.day_close.{k}"] = totals[k]
        # the first query run is round 0's
        stream_layers(run, progress.wait_runs(len(calls) + 1)[1:], calls)


def stream_layers(run: Run, per_run: list[list[dict]], calls: list[float]) -> None:
    """Per-layer streaming metrics of the timed finalize calls, from the
    listener's batches of each call's query run and the traced upsert
    spans. Durations are medians over the calls; counts are totals."""
    per_call = [sorted(bs, key=lambda b: b["batch_id"]) for bs in per_run]
    finals = [s for s in run.tracer.spans
              if s.name == "streaming.pipeline.finalize_to_dimension"][1:]
    upserts = [s for s in run.tracer.spans if s.name == "sinks.upsert.upsert_parquet"
               and s.start >= finals[0].start]

    def med_sum(key):
        return statistics.median(sum(key(b) for b in bs) for bs in per_call)

    def dur(*names):
        return lambda b: sum(b["duration_ms"].get(n, 0) for n in names)

    trigger_s = [sum(dur("triggerExecution")(b) for b in bs) / 1e3 for bs in per_call]
    all_b = [b for bs in per_call for b in bs]
    useful, busy = 0, []
    for f, bs in zip(finals, per_call):
        # foreachBatch upserts once per batch: the i-th upsert of a call
        # belongs to its i-th batch
        mine = [u for u in upserts if f.start <= u.start <= f.end]
        useful += sum(b["input_rows"] > 0 for b in bs[: len(mine)])
        busy.append(sum(u.end - u.start for u in mine))
    last = all_b[-1]
    L = run.layer
    L.update({
        "streaming.pipeline.call_s": statistics.median(calls),
        "streaming.pipeline.outside_trigger_s": statistics.median(
            c - t for c, t in zip(calls, trigger_s)),
        "streaming.pipeline.query_planning_ms": med_sum(dur("queryPlanning")),
        "streaming.pipeline.add_batch_ms": med_sum(dur("addBatch")),
        "streaming.pipeline.commit_ms": med_sum(dur("walCommit", "commitOffsets")),
        "streaming.pipeline.batches": len(all_b),
        "streaming.pipeline.nodata_batch_ratio": (
            sum(b["input_rows"] == 0 for b in all_b) / len(all_b)),
        "streaming.state.rows_total": last["state_rows"],
        "streaming.state.commit_ms": med_sum(lambda b: b["state_commit_ms"]),
        "streaming.state.memory_bytes": last["state_memory_bytes"],
        "streaming.state.partitions": last["state_partitions"],
        "sinks.upsert.calls": len(upserts),
        "sinks.upsert.busy_s": statistics.median(busy),
        "sinks.upsert.useful_ratio": useful / len(upserts),
    })


# ---------------------------------------------------------------------------
# analytics / corpus
# ---------------------------------------------------------------------------
def oracle_mismatch(sdf, ddf) -> str:
    """'' when the Spark result matches the oracle's: same row count and
    columns, equal values with floats compared to REL_TOL / ABS_TOL."""
    import numpy as np
    from stream_processing_test_spark.oracle import normalize

    if len(sdf) != len(ddf):
        return f"rows spark={len(sdf)} duckdb={len(ddf)}"
    if sorted(sdf.columns) != sorted(ddf.columns):
        return f"columns spark={sorted(sdf.columns)} duckdb={sorted(ddf.columns)}"
    a, b = normalize(sdf), normalize(ddf)
    for c in a.columns:
        x, y = a[c], b[c]
        if x.dtype.kind in "iuf" and y.dtype.kind in "iuf":
            same = np.isclose(x.to_numpy(float), y.to_numpy(float),
                              rtol=REL_TOL, atol=ABS_TOL, equal_nan=True)
        else:
            same = (x.astype(str) == y.astype(str)).to_numpy()
        if not same.all():
            i = int(np.flatnonzero(~same)[0])
            return f"{c}: spark={x.iloc[i]!r} duckdb={y.iloc[i]!r}"
    return ""


def suites(run: Run, seed: int, seconds: int, work: Path):
    from gen import write_tables

    from stream_processing_test_spark.oracle import duckdb_connection
    from stream_processing_test_spark.registry import all_queries
    from stream_processing_test_spark.session import release_pinned_rdds

    tables = work / "tables"

    def make_inputs():
        shutil.rmtree(tables, ignore_errors=True)
        write_tables(str(tables), seed)

    spark, _ = set_up(run, work, make_inputs, tables / "region.parquet")
    specs = all_queries()
    sample = {m: q for s in SAMPLE.values() for m, q in s.items()}
    sc = spark.sparkContext

    def fresh():
        spark.catalog.clearCache()  # each query pays for only its own caches
        release_pinned_rdds(spark)

    # Check pass: every sampled query against its DuckDB oracle. It is
    # untimed, and it is the warm-up: a query's first execution in a JVM
    # compiles its generated code. The queries run on one thread per core
    # because the cold pass is mostly single-threaded compilation; nothing
    # is released until they are all done.
    from concurrent.futures import ThreadPoolExecutor

    def collect(q):
        return specs[q].fn(spark, str(tables)).toPandas()

    t_check = time.perf_counter()
    with ThreadPoolExecutor(len(os.sched_getaffinity(0))) as pool:
        futures = {q: pool.submit(collect, q) for q in sample.values()}
    con = duckdb_connection(str(tables))
    mismatches = {}
    for q, fut in futures.items():
        try:
            bad = oracle_mismatch(fut.result(), con.execute(specs[q].oracle).df())
        except Exception as exc:  # noqa: BLE001 — counted, run goes on
            bad = repr(exc)[:300]
        if bad:
            mismatches[q] = bad
        run.op(not bad)
    con.close()
    run.notes["check_s"] = time.perf_counter() - t_check

    # Timed passes over the sample until --seconds have passed (at least
    # one).
    build = {q: [] for q in sample.values()}
    total = {q: [] for q in sample.values()}
    counters = {q: [] for q in sample.values()}
    t_end = time.perf_counter() + seconds
    passes = 0
    while passes < 1 or time.perf_counter() < t_end:
        for module, q in sample.items():
            fresh()
            group = f"perfbench:{q}:{passes}"
            if run.tracer is not None:
                sc.setJobGroup(group, q)
            ok = True
            try:
                with run.span("perfbench.query", q):
                    t0 = time.perf_counter()
                    with run.span(f"{module}.build"):
                        df = specs[q].fn(spark, str(tables))
                    t1 = time.perf_counter()
                    with run.span(f"{module}.execute"):
                        df.write.format("noop").mode("overwrite").save()
                    t2 = time.perf_counter()
            except Exception as exc:  # noqa: BLE001 — counted, run goes on
                ok = False
                mismatches[q] = repr(exc)[:300]
            run.op(ok)
            if not ok:
                continue
            build[q].append(t1 - t0)
            total[q].append(t2 - t0)
            if run.tracer is not None:
                from tracing import stage_totals

                sc.setJobGroup("perfbench:after", "")
                counters[q].append(stage_totals(spark, group))
            probe(run, spark)  # outside the query's job group
        passes += 1

    medians = {q: statistics.median(ts) for q, ts in total.items() if ts}
    run.e2e["latency_p50_s"] = statistics.median(medians.values())
    run.e2e["completion_s"] = sum(medians.values())
    run.notes.update(passes=passes, query_s=medians, mismatches=mismatches)
    if run.tracer is None:
        return
    L = run.layer
    for name, modules in SAMPLE.items():
        L[f"{name}.total_s"] = sum(medians.get(q, 0.0) for q in modules.values())
        for module, q in modules.items():
            cs = counters[q]
            if not cs:
                continue
            L[f"{module}.build_s"] = statistics.median(build[q])
            L[f"{module}.task_s"] = statistics.median(c["task_s"] for c in cs)
            L[f"{module}.jobs"] = cs[0]["jobs"]
            L[f"{module}.shuffle_write_bytes"] = cs[0]["shuffle_write_bytes"]
            L[f"{name}.stages"] += cs[0]["stages"]
            L[f"{name}.spill_bytes"] += cs[0]["spill_bytes"]
            L[f"{name}.peak_exec_memory_bytes"] = max(
                L[f"{name}.peak_exec_memory_bytes"],
                max(c["peak_exec_memory_bytes"] for c in cs))


# ---------------------------------------------------------------------------
# main
# ---------------------------------------------------------------------------
def trace_report(run: Run) -> dict:
    """Spans and self time per span name of a traced run, and the layer
    with the most self time after set-up (``perfbench.*`` spans are the
    benchmark's own)."""
    from tracing import self_times

    spans = run.tracer.spans
    selfs = self_times(spans)
    measured = self_times([s for s in spans if not s.run_id.startswith("setup-")])
    layers = {k: v for k, v in measured.items() if not k.startswith("perfbench.")}
    return {
        "self_time_s": dict(sorted(selfs.items(), key=lambda kv: -kv[1])),
        "slowest_layer": max(layers, key=layers.get),
        "spans": [vars(s) for s in spans],
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", help="write the traced run's report here")
    args = ap.parse_args(argv)

    if not (ROOT / "stream_processing_test_spark" / "__init__.py").is_file():
        print(f"perfbench: no stream_processing_test_spark package in {ROOT}",
              file=sys.stderr)
        return 2
    sys.path[:0] = [str(ROOT), str(HERE)]
    work = WORK / args.workload
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    # Spark's python workers import the package; temp files stay inside
    # the checkout (the JVMs' perf-data files would go to /tmp).
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in [os.environ.get("PYTHONPATH")] if p])
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"

    tracer = None
    if args.trace:
        from tracing import Tracer

        tracer = Tracer()
    run = Run(tracer)
    try:
        if args.workload == "day_loop":
            day_loop(run, args.seed, args.seconds, work)
        else:
            suites(run, args.seed, args.seconds, work)
    finally:
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
        jvm_kb = stop_jvm(spark) if spark is not None else 0
    run.layer["process.peak_rss_mb"] = (vm_hwm_kb("self") + jvm_kb) / 1024
    host = statistics.median(run.notes["probe_s"])
    run.layer["host.probe_s"] = host
    run.notes["measured_s"] = dict(run.e2e)
    run.e2e = {k: v * PROBE_REF_S / host for k, v in run.e2e.items()}

    if args.out:
        report = {"workload": args.workload, "seed": args.seed,
                  "seconds": args.seconds, "trace": args.trace,
                  "end_to_end": run.e2e, "notes": run.notes}
        if tracer is not None:
            report.update(per_layer=run.layer, **trace_report(run))
        Path(args.out).write_text(json.dumps(report, indent=1) + "\n")
    shutil.rmtree(work, ignore_errors=True)

    names = PER_LAYER if args.trace else END_TO_END
    values = run.layer if args.trace else run.e2e
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in names.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
