"""Structured Streaming tests: stream/batch parity (T2/T3), micro-batch
ingestion (T1), and the day-close upsert pipeline (T8)."""

from __future__ import annotations

import shutil
import sys
from pathlib import Path

import pandas as pd
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
# the benchmark's StreamingQueryListener (tracing.ProgressLog)
sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "perfbench"))

from pyspark.sql import functions as F

from stream_processing_test_spark.streaming.pipeline import (
    daily_rollup,
    events_stream,
    finalize_to_dimension,
    replay_to_memory,
)
from tests.conftest import SF_SMALL
from tracing import ProgressLog


def test_stream_batch_parity(spark):
    """The streaming windowed rollup over the full events file must
    equal the batch daily_scores on the same data — Structured
    Streaming is an incrementally-executed batch query."""
    from stream_processing_test_spark.operators.rollup import daily_scores

    stream_result = replay_to_memory(
        spark, SF_SMALL, lambda _, events: daily_rollup(events())
    )
    batch_result = daily_scores(spark, SF_SMALL)
    got = sorted(map(tuple, stream_result.collect()))
    want = sorted(map(tuple, batch_result.collect()))
    assert got == want


def test_incremental_micro_batches_converge(spark, tmp_path):
    """T1: feeding the same events in multiple micro-batches
    (maxFilesPerTrigger=1) converges to the same final table."""
    src = tmp_path / "events_incoming"
    src.mkdir()
    # split sf0.001 events into 3 file-chunks = 3 micro-batches
    ev = spark.read.parquet(f"{SF_SMALL}/events.parquet")
    parts = ev.randomSplit([1.0, 1.0, 1.0], seed=7)
    for i, p in enumerate(parts):
        p.coalesce(1).write.parquet(str(src / f"chunk{i}"))
    stream_result = replay_to_memory(
        spark,
        SF_SMALL,
        lambda scoped, _: daily_rollup(
            events_stream(scoped, f"{src}/chunk*/", max_files_per_trigger=1)
        ),
    )
    from stream_processing_test_spark.operators.rollup import daily_scores

    want = sorted(map(tuple, daily_scores(spark, SF_SMALL).collect()))
    got = sorted(map(tuple, stream_result.collect()))
    assert got == want


def test_update_mode_multi_batch_converges(spark, tmp_path):
    """The bounded-state deployment shape (update mode + 1-day
    watermark) under a REAL multi-batch replay: events split into 3
    time-ordered file chunks (ascending, so nothing ever arrives later
    than the watermark), maxFilesPerTrigger=1. The memory sink then
    holds a genuine history of per-key updates — more rows than keys —
    and final_update_state's max-n_detection reduction must recover
    exactly the batch answer. (The registered query replays one file =
    one batch, where the reduction is trivially the identity; this is
    where it does real work.)"""
    from pyspark.sql import functions as F

    from stream_processing_test_spark.operators.rollup import daily_scores
    from stream_processing_test_spark.streaming.pipeline import (
        final_update_state,
    )

    src = tmp_path / "events_ordered"
    src.mkdir()
    ev = spark.read.parquet(f"{SF_SMALL}/events.parquet")
    n = ev.count()
    from pyspark.sql import Window

    ranked = ev.withColumn(
        "rn", F.row_number().over(Window.orderBy("ts", "user_id"))
    )
    for i in range(3):  # contiguous time slices, written in order
        (
            ranked.filter(
                (F.col("rn") > i * n // 3) & (F.col("rn") <= (i + 1) * n // 3)
            )
            .drop("rn")
            .coalesce(1)
            .write.parquet(str(src / f"chunk{i}"))
        )
    raw = replay_to_memory(
        spark,
        SF_SMALL,
        lambda scoped, _: daily_rollup(
            events_stream(scoped, f"{src}/chunk*/", max_files_per_trigger=1),
            watermark="1 day",
        ),
        "update",
    )
    assert raw.count() > raw.select("user_id", "day").distinct().count(), (
        "expected a multi-update history, got one row per key — the "
        "multi-batch split did not happen"
    )
    got = sorted(map(tuple, final_update_state(raw).collect()))
    want = sorted(map(tuple, daily_scores(spark, SF_SMALL).collect()))
    assert got == want


def test_replays_leave_no_tempdir_and_no_caller_state(spark, tmp_path, monkeypatch):
    """Each registered replay runs on a cloned session over a replay
    dir it removes once the stream stops: nothing is left under the
    tempdir, and the caller's conf, catalog and active streams are as
    they were."""
    import tempfile

    from stream_processing_test_spark.registry import all_queries

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    queries = all_queries()
    for name in (
        "streaming_daily_scores",
        "streaming_session_windows",
        "streaming_click_purchase_outer",
    ):
        assert queries[name].fn(spark, SF_SMALL).collect(), name
    assert list(tmp_path.iterdir()) == []

    # a caller whose shuffle width differs from the replays' own
    caller = spark.newSession()
    caller.conf.set("spark.sql.shuffle.partitions", "3")
    views = {t.name for t in caller.catalog.listTables()}
    for name in ("streaming_click_purchase_join", "streaming_dedup"):
        assert queries[name].fn(caller, SF_SMALL).collect(), name
    assert caller.conf.get("spark.sql.shuffle.partitions") == "3"
    assert {t.name for t in caller.catalog.listTables()} == views
    assert caller.streams.active == []
    assert list(tmp_path.iterdir()) == []


def test_stream_static_dim_update_semantics(spark, tmp_path):
    """SCD semantics of the stream-static enrichment (VERDICT r11
    item 6), pinned by measurement in BOTH directions:

    (1) the plan-captured static frame does NOT see dim updates — its
        file listing is frozen at analysis, so overwriting the dim
        directory under a running query kills the stream rather than
        refreshing it (the naive deployment pattern is an outage, not
        an SCD mechanism);
    (2) the foreachBatch form — a FRESH dim read inside each batch —
        picks the updated row up in the NEXT batch while the prior
        batch's output keeps the old attribute (events join the dim
        as of their processing batch)."""
    import pandas as pd
    import pytest
    from pyspark.sql import functions as F

    dim = str(tmp_path / "dim")
    src = tmp_path / "src"
    src.mkdir()

    def write_dim(seg):
        spark.createDataFrame(
            pd.DataFrame({"user_id": [1], "seg": [seg]})
        ).write.mode("overwrite").parquet(dim)

    def write_chunk(name, v):
        spark.createDataFrame(
            pd.DataFrame({"user_id": [1], "v": [v]})
        ).coalesce(1).write.parquet(str(src / name))

    write_dim("A")
    write_chunk("c0", 10)
    stream = (
        spark.readStream.schema("user_id long, v long")
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src}/c*/")
    )

    # (1) the frozen-listing outage, pinned
    frozen = stream.join(
        F.broadcast(spark.read.parquet(dim)), "user_id"
    ).select("user_id", "seg", "v")
    q1 = (
        frozen.writeStream.format("memory")
        .queryName("scd_frozen")
        .outputMode("append")
        .start()
    )
    q1.processAllAvailable()
    assert [r["seg"] for r in spark.sql("select * from scd_frozen").collect()] == ["A"]
    write_dim("B")  # overwrite deletes the listed part files
    write_chunk("c1", 20)
    with pytest.raises(Exception):
        q1.processAllAvailable()
        if q1.exception() is not None:
            raise q1.exception()
    q1.stop()

    # (2) the foreachBatch pattern: fresh dim read per batch
    out: list[tuple] = []

    def enrich_batch(batch_df, batch_id):
        d = F.broadcast(batch_df.sparkSession.read.parquet(dim))
        out.extend(
            (r["v"], r["seg"])
            for r in batch_df.join(d, "user_id").select("v", "seg").collect()
        )

    write_dim("A")
    write_chunk("c2", 30)
    stream2 = (
        spark.readStream.schema("user_id long, v long")
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src}/c*/")
    )
    q2 = stream2.writeStream.foreachBatch(enrich_batch).start()
    q2.processAllAvailable()
    # a fresh stream replays c0..c2; all three batches read dim "A"
    seen_before_update = sorted(out)
    write_dim("Z")
    write_chunk("c3", 40)
    q2.processAllAvailable()
    q2.stop()
    later = sorted(set(out) - set(seen_before_update))
    # the next batch after the update sees the NEW attribute...
    assert later == [(40, "Z")]
    # ...and prior batches' rows keep what the dim said at their time
    assert all(seg != "Z" for _, seg in seen_before_update)
    assert (30, "A") in seen_before_update


def test_finalize_to_dimension_upserts_scores(spark, tmp_path):
    """T8 end-to-end: events stream -> daily scores -> foreachBatch
    upsert into the source-dimension parquet, idempotent on re-run."""
    dim_path = str(tmp_path / "dim")
    ckpt = str(tmp_path / "ckpt")
    # the file stream source reads directories, not a bare file
    src = tmp_path / "events"
    src.mkdir()
    (src / "events.parquet").symlink_to(f"{SF_SMALL}/events.parquet")
    user_ids = [
        r["user_id"]
        for r in spark.read.parquet(f"{SF_SMALL}/events.parquet")
        .select("user_id")
        .distinct()
        .collect()
    ]
    pd.DataFrame(
        {
            "id": sorted(user_ids),
            "url": [f"http://src/{u}" for u in sorted(user_ids)],
            "day": [None] * len(user_ids),
            "flow_score": [None] * len(user_ids),
            "n_detection": [None] * len(user_ids),
            "n_error": [None] * len(user_ids),
        }
    ).pipe(
        lambda pdf: spark.createDataFrame(
            pdf,
            "id LONG, url STRING, day STRING, flow_score INT, "
            "n_detection LONG, n_error LONG",
        )
    ).write.parquet(dim_path)

    finalize_to_dimension(spark, str(src), dim_path, ckpt)
    dim = spark.read.parquet(dim_path)
    scored = dim.filter(F.col("flow_score").isNotNull())
    assert scored.count() > 0
    assert dim.filter(F.col("url").isNull()).count() == 0  # urls preserved
    # scores in the dimension match the batch rollup's LAST day per source
    # (update-mode emits every window; the upsert keeps the final write —
    # here we only assert consistency for single-window sources)
    from stream_processing_test_spark.operators.rollup import daily_scores

    batch = daily_scores(spark, SF_SMALL)
    one_window = (
        batch.groupBy("user_id").count().filter(F.col("count") == 1).select("user_id")
    )
    want = {
        r["user_id"]: r["flow_score"]
        for r in batch.join(one_window, "user_id").collect()
    }
    got = {r["id"]: r["flow_score"] for r in scored.collect()}
    for uid, score in want.items():
        assert got.get(uid) == score

    # idempotence: re-running the whole stream from a fresh checkpoint
    # over the same input leaves the dimension unchanged
    before = sorted(map(tuple, spark.read.parquet(dim_path).collect()))
    shutil.rmtree(ckpt)
    finalize_to_dimension(spark, str(src), dim_path, ckpt)
    after = sorted(map(tuple, spark.read.parquet(dim_path).collect()))
    assert before == after


def test_streak_fn_orders_out_of_order_chunks():
    """applyInPandasWithState may deliver one key's micro-batch as
    several Arrow chunks with no ordering guarantee. A streak whose
    rows arrive split across out-of-order chunks must still be walked
    in event_id order — per-chunk (or skipped) sorting would split it
    at the boundary. Direct transition-function test: no Spark, so the
    chunk layout is fully controlled."""
    import pandas as pd

    from stream_processing_test_spark.streaming.stateful import _streak_fn

    class FakeState:
        def __init__(self):
            self._v = None

        @property
        def exists(self):
            return self._v is not None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v

    # errors 2,3,4 closed by success 5 — but chunk 1 carries the TAIL
    c1 = pd.DataFrame({"event_id": [4, 5], "event_type": ["error", "view"]})
    c2 = pd.DataFrame({"event_id": [2, 3], "event_type": ["error", "error"]})
    st = FakeState()
    out = list(_streak_fn((7,), iter([c1, c2]), st))
    assert len(out) == 1
    row = out[0].iloc[0]
    assert (
        row["user_id"],
        row["streak_len"],
        row["start_event_id"],
        row["end_event_id"],
    ) == (7, 3, 2, 4)
    assert st.get == (0, 0, 0)  # streak closed, state reset

    # in-order delivery (the fast path that skips the argsort) must
    # produce the identical result
    st2 = FakeState()
    out2 = list(_streak_fn((7,), iter([c2, c1]), st2))
    assert out2[0].equals(out[0])


def test_stateful_streaks_carry_across_micro_batches(spark, tmp_path):
    """A streak spanning micro-batch boundaries must be detected —
    state carries between batches (the whole point of
    applyInPandasWithState vs per-batch aggregation)."""
    import pandas as pd

    from stream_processing_test_spark.streaming.stateful import failure_streaks

    src = tmp_path / "stream_src"
    src.mkdir()
    # batch 1: two errors (streak open at boundary); batch 2: one more
    # error then a success closing a 3-streak
    chunks = [
        pd.DataFrame(
            {
                "event_id": [1, 2],
                "ts": [1_700_000_000_000_000_000, 1_700_000_001_000_000_000],
                "user_id": [7, 7],
                "event_type": ["error", "error"],
                "value": [1.0, 1.0],
                "props": ["{}", "{}"],
            }
        ),
        pd.DataFrame(
            {
                "event_id": [3, 4],
                "ts": [1_700_000_002_000_000_000, 1_700_000_003_000_000_000],
                "user_id": [7, 7],
                "event_type": ["error", "click"],
                "value": [1.0, 1.0],
                "props": ["{}", "{}"],
            }
        ),
    ]
    for i, pdf in enumerate(chunks):
        pdf.to_parquet(src / f"{i:02d}.parquet", index=False)

    from stream_processing_test_spark.streaming.pipeline import events_stream

    ev = events_stream(spark, str(src), max_files_per_trigger=1)
    q = (
        failure_streaks(ev)
        .writeStream.format("memory")
        .queryName("streak_carry")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.table("streak_carry").collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["user_id"], r["streak_len"], r["start_event_id"], r["end_event_id"]) == (
        7,
        3,
        1,
        3,
    )


def _write_event_chunks(spark, src, n=3):
    ev = spark.read.parquet(f"{SF_SMALL}/events.parquet")
    parts = ev.randomSplit([1.0] * n, seed=11)
    for i, p in enumerate(parts):
        p.coalesce(1).write.parquet(str(src / f"chunk{i}"))
    return ev


def test_restart_resumes_offsets_exactly_once(spark, tmp_path):
    """T1/T8 recovery: a stopped stream restarted from the SAME
    checkpoint must resume from recorded offsets — files already
    processed before the stop are not re-emitted, files added while
    down are picked up, and the file sink's commit manifest yields
    every event exactly once across both runs."""
    src = tmp_path / "incoming"
    src.mkdir()
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    ev = _write_event_chunks(spark, src)
    all_chunks = sorted(src.glob("chunk*"))
    # phase 2 chunks are invisible until the restart
    hidden = tmp_path / "hidden"
    hidden.mkdir()
    for c in all_chunks[1:]:
        c.rename(hidden / c.name)

    def run_passthrough():
        q = (
            events_stream(spark, f"{src}/chunk*/", max_files_per_trigger=1)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_passthrough()  # processes chunk0 only, then stops
    n_phase1 = spark.read.parquet(out).count()
    assert 0 < n_phase1 < ev.count()
    for c in sorted(hidden.glob("chunk*")):
        c.rename(src / c.name)
    run_passthrough()  # same checkpoint: resumes, reads only new files

    got = spark.read.parquet(out)
    assert got.count() == ev.count()  # nothing lost...
    assert got.select("event_id").distinct().count() == ev.count()  # ...nothing doubled


def test_restart_recovers_aggregation_state(spark, tmp_path):
    """T2/T3/T8 recovery: the windowed-rollup state store must survive
    a stop/restart — a two-phase run (chunk0, stop, add the rest,
    resume from the SAME checkpoint) upserts exactly the same final
    dimension as a one-shot run over everything.

    Both runs use an effectively-infinite watermark: the chunks are
    random (non-chronological) splits, so any finite watermark would
    legitimately drop phase-2 events as late — that policy has its own
    tests (streaming_dedup, click/purchase join); THIS test isolates
    checkpoint state recovery from it."""
    src = tmp_path / "incoming"
    src.mkdir()
    ev = _write_event_chunks(spark, src)
    user_ids = sorted(
        r["user_id"] for r in ev.select("user_id").distinct().collect()
    )

    def fresh_dim(path):
        pd.DataFrame(
            {
                "id": user_ids,
                "url": [f"http://src/{u}" for u in user_ids],
                "day": [None] * len(user_ids),
                "flow_score": [None] * len(user_ids),
                "n_detection": [None] * len(user_ids),
                "n_error": [None] * len(user_ids),
            }
        ).pipe(
            lambda pdf: spark.createDataFrame(
                pdf,
                "id LONG, url STRING, day STRING, flow_score INT, "
                "n_detection LONG, n_error LONG",
            )
        ).write.parquet(path)

    # one-shot reference run
    dim_full, ckpt_full = str(tmp_path / "dim_full"), str(tmp_path / "ck_full")
    fresh_dim(dim_full)
    finalize_to_dimension(
        spark, f"{src}/chunk*/", dim_full, ckpt_full, watermark="36500 days"
    )

    # two-phase run, same checkpoint across the restart
    hidden = tmp_path / "hidden2"
    hidden.mkdir()
    for c in sorted(src.glob("chunk*"))[1:]:
        c.rename(hidden / c.name)
    dim_two, ckpt_two = str(tmp_path / "dim_two"), str(tmp_path / "ck_two")
    fresh_dim(dim_two)
    finalize_to_dimension(
        spark, f"{src}/chunk*/", dim_two, ckpt_two, watermark="36500 days"
    )
    for c in sorted(hidden.glob("chunk*")):
        c.rename(src / c.name)
    finalize_to_dimension(
        spark, f"{src}/chunk*/", dim_two, ckpt_two, watermark="36500 days"
    )

    want = sorted(map(tuple, spark.read.parquet(dim_full).collect()))
    got = sorted(map(tuple, spark.read.parquet(dim_two).collect()))
    assert got == want


def test_finalize_warns_on_dayless_dimension(spark, tmp_path):
    """A target dimension without a 'day' column cannot enforce
    newest-day-wins: finalize must still work (pre-guard contract) but
    say so loudly."""
    import warnings

    src = tmp_path / "incoming"
    src.mkdir()
    ev = _write_event_chunks(spark, src, n=1)
    user_ids = sorted(
        r["user_id"] for r in ev.select("user_id").distinct().collect()
    )
    dim_path = str(tmp_path / "dim_dayless")
    pd.DataFrame(
        {"id": user_ids, "flow_score": [None] * len(user_ids)}
    ).pipe(
        lambda pdf: spark.createDataFrame(pdf, "id LONG, flow_score INT")
    ).write.parquet(dim_path)

    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        finalize_to_dimension(
            spark, f"{src}/chunk*/", dim_path, str(tmp_path / "ck")
        )
    assert any("no 'day' column" in str(w.message) for w in caught)
    dim = spark.read.parquet(dim_path)
    assert dim.filter(dim.flow_score.isNotNull()).count() > 0


def _score_dim(spark, path, user_ids):
    """An unscored source dimension over ``user_ids``."""
    spark.createDataFrame(
        pd.DataFrame({"id": sorted(user_ids), "day": [None] * len(user_ids)}),
        "id LONG, day STRING",
    ).selectExpr(
        "id", "day", "CAST(NULL AS INT) AS flow_score",
        "CAST(NULL AS LONG) AS n_detection", "CAST(NULL AS LONG) AS n_error",
    ).write.parquet(path)


_FINALIZE_CONFS = (
    "spark.sql.streaming.noDataMicroBatches.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
)


def test_finalize_one_batch_one_upsert_per_round(spark, tmp_path, monkeypatch):
    """A finalize over a newly landed chunk runs one micro-batch (no
    watermark-only batch after it) and one dimension upsert, on the
    caller's session (its listener sees the run), and leaves the
    caller's conf as it was, after a normal call and a raising one."""
    import stream_processing_test_spark.sinks.upsert as upsert_mod
    from pyspark.errors import StreamingQueryException

    upserts = []
    real = upsert_mod.upsert_parquet

    def counted(*args, **kwargs):
        upserts.append(args[2])
        return real(*args, **kwargs)

    monkeypatch.setattr(upsert_mod, "upsert_parquet", counted)
    src = tmp_path / "incoming"
    src.mkdir()
    ev = _write_event_chunks(spark, src, n=2)
    hidden = tmp_path / "hidden"
    hidden.mkdir()
    chunks = sorted(src.glob("chunk*"))
    chunks[1].rename(hidden / chunks[1].name)
    dim_path, ckpt = str(tmp_path / "dim"), str(tmp_path / "ckpt")
    _score_dim(
        spark, dim_path, [r[0] for r in ev.select("user_id").distinct().collect()]
    )

    caller = spark.newSession()  # a conf no earlier test has touched
    confs = {k: caller.conf.get(k, None) for k in _FINALIZE_CONFS}
    log = ProgressLog()
    caller.streams.addListener(log)
    try:
        for r in range(2):
            if r == 1:  # land the second chunk
                (hidden / chunks[1].name).rename(chunks[1])
            upserts.clear()
            finalize_to_dimension(caller, f"{src}/chunk*/", dim_path, ckpt)
            assert upserts == [dim_path]
            assert {k: caller.conf.get(k, None) for k in _FINALIZE_CONFS} == confs
        for batches in log.wait_runs(2):
            assert [b["input_rows"] > 0 for b in batches] == [True]

        with pytest.raises(StreamingQueryException):
            finalize_to_dimension(
                caller, f"{src}/chunk*/", str(tmp_path / "no_dim"),
                str(tmp_path / "ckpt2"),
            )
        assert {k: caller.conf.get(k, None) for k in _FINALIZE_CONFS} == confs
    finally:
        caller.streams.removeListener(log)


def test_finalize_evicts_closed_day_in_next_data_batch(spark, tmp_path):
    """With no watermark-only batches, a day closed by round 2's
    watermark is evicted in round 3's data batch: the state then holds
    only the newer day's keys, and the dimension carries their scores."""
    import datetime as dt

    from stream_processing_test_spark.tables import normalize_event_ts

    d = dt.datetime(2024, 3, 1)
    rounds = [  # (users, first event time); later rounds are never late
        (range(1, 7), d + dt.timedelta(hours=1)),
        (range(1, 5), d + dt.timedelta(days=1, hours=1)),
        (range(3, 9), d + dt.timedelta(days=1, hours=5)),
    ]
    src = tmp_path / "incoming"
    src.mkdir()
    dim_path, ckpt = str(tmp_path / "dim"), str(tmp_path / "ckpt")
    _score_dim(spark, dim_path, range(1, 9))
    log = ProgressLog()
    spark.streams.addListener(log)
    try:
        for r, (users, t0) in enumerate(rounds):
            rows = [
                (r * 100 + i, t0 + dt.timedelta(minutes=i), u,
                 "error" if (u + i) % 3 == 0 else "detect", 1.0, "")
                for u in users
                for i in range(3)
            ]
            spark.createDataFrame(
                rows, "event_id LONG, ts TIMESTAMP, user_id LONG, "
                "event_type STRING, value DOUBLE, props STRING",
            ).coalesce(1).write.parquet(str(src / f"chunk{r}"))
            finalize_to_dimension(spark, f"{src}/chunk*/", dim_path, ckpt)
        last = log.wait_runs(3)[-1][-1]
    finally:
        spark.streams.removeListener(log)

    next_day = (d + dt.timedelta(days=1)).strftime("%Y-%m-%d")
    batch = daily_rollup(
        normalize_event_ts(spark.read.parquet(f"{src}/chunk*/"))
    ).filter(F.col("day") == next_day)
    want = {r["user_id"]: (next_day, r["flow_score"]) for r in batch.collect()}
    assert last["state_rows"] == len(want) == 8
    got = {
        r["id"]: (r["day"], r["flow_score"])
        for r in spark.read.parquet(dim_path).collect()
        if r["id"] in want
    }
    assert got == want


def test_rate_source_daily_scores_bounded(spark):
    """T1 trigger semantics beyond file replay (VERDICT r6 stretch):
    the rate-micro-batch source drives daily_rollup through REAL
    processing-time micro-batches (no files on disk), stopped after a
    few epochs. The source's content is deterministic — batch i is
    values [i*rpb, (i+1)*rpb) stamped start + i*advance — so a
    spark.range batch replay through the SAME derivation
    (rate_rows_to_events) is an exact oracle for whatever prefix of
    batches committed before stop()."""
    import time

    from stream_processing_test_spark.streaming.pipeline import (
        rate_events_stream,
        rate_rows_to_events,
    )

    RPB, START, ADV_MS = 50, 1_705_276_800, 21_600_000
    scoped = spark.newSession()
    prev = scoped.conf.get("spark.sql.shuffle.partitions")
    scoped.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        ev = rate_events_stream(
            scoped, rows_per_batch=RPB, start_epoch=START, advance_ms=ADV_MS
        )
        q = (
            daily_rollup(ev)
            .writeStream.format("memory")
            .queryName("rate_scores")
            .outputMode("complete")
            .trigger(processingTime="50 milliseconds")
            .start()
        )
        deadline = time.time() + 120
        while time.time() < deadline:
            n = scoped.sql(
                "SELECT coalesce(sum(n_detection), 0) FROM rate_scores"
            ).collect()[0][0]
            if n >= 4 * RPB:  # at least 4 committed micro-batches
                break
            time.sleep(0.2)
        q.stop()
        q.awaitTermination(60)
    finally:
        scoped.conf.set("spark.sql.shuffle.partitions", prev)

    got_df = scoped.table("rate_scores")
    got = sorted(map(tuple, got_df.collect()))
    # committed rows: every committed batch is exactly RPB rows
    n_rows = sum(r[2] for r in got)  # n_detection column
    assert n_rows >= 4 * RPB and n_rows % RPB == 0, n_rows

    # exact batch oracle over the same prefix: the SAME derivation
    # (rate_rows_to_events) and the SAME aggregation (daily_rollup —
    # the watermark node is eliminated on a batch frame), so the only
    # thing this test can disagree on is the streaming execution
    raw = scoped.range(n_rows).select(
        F.timestamp_millis(
            F.lit(START * 1000) + (F.col("id") / RPB).cast("long") * ADV_MS
        ).alias("timestamp"),
        F.col("id").alias("value"),
    )
    want = sorted(
        map(tuple, daily_rollup(rate_rows_to_events(raw)).collect())
    )
    assert got == want
    # the 6h advance must have crossed at least one UTC day boundary
    assert len({r[1] for r in got}) >= 2 or n_rows < 5 * RPB


def test_streaming_rate_rollup_matches_oracle(spark):
    """The REGISTERED rate-rollup query (poll-then-stop over a
    value-bounded rate-micro-batch stream) must equal its DuckDB
    oracle exactly — the same check the driver gate runs, pinned in
    pytest so the harness and oracle are exercised every round even
    when the query sits outside the 50-slot driver window."""
    import duckdb

    from stream_processing_test_spark.registry import all_queries

    spec = all_queries()["streaming_rate_rollup"]
    df = spec.fn(spark, "/root/testdata/sf0.001")
    got = sorted(tuple(r) for r in df.collect())
    want = sorted(tuple(r) for r in duckdb.sql(spec.oracle).fetchall())
    assert df.columns == [
        "user_id", "n_events", "n_errors",
        "min_value", "max_value", "min_ts", "max_ts",
    ]
    assert got == want


def test_sliding_rollup_stream_batch_parity_and_coverage(spark):
    """The streaming sliding-window rollup equals the same F.window
    expression run as a batch query (incremental execution is an
    implementation detail), every event lands in exactly size/slide
    windows, and all window starts are slide-aligned."""
    from stream_processing_test_spark.streaming.pipeline import (
        SLIDE_SEC,
        SLIDE_SIZE_SEC,
        streaming_sliding_rollup,
    )
    from stream_processing_test_spark.tables import load

    out = streaming_sliding_rollup(spark, SF_SMALL)
    rows = out.collect()
    ev = load(spark, SF_SMALL, "events")

    n_events_total = ev.count()
    per_event_windows = SLIDE_SIZE_SEC // SLIDE_SEC
    assert sum(r["n_events"] for r in rows) == per_event_windows * n_events_total
    assert all(r["window_start"] % SLIDE_SEC == 0 for r in rows)

    batch = (
        ev.groupBy(
            F.window("ts", "6 hours", "2 hours").alias("win"), "event_type"
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.floor(F.col("value") * 100).cast("long")).alias(
                "value_cents"
            ),
        )
        .select(
            F.col("win.start").cast("long").alias("window_start"),
            "event_type",
            "n_events",
            "value_cents",
        )
        .collect()
    )
    key = lambda r: (r["window_start"], r["event_type"])
    assert sorted(map(tuple, rows)) == sorted(map(tuple, batch))
    assert {key(r) for r in rows} == {key(r) for r in batch}


def test_stream_outer_join_emits_unmatched_purchases(spark):
    """The left-outer stream-stream join must contain (a) every inner
    match, and (b) a NULL-click row for every purchase that no click
    preceded within 1 h — the rows whose existence depends entirely on
    watermark state eviction (a broken eviction path silently DROPS
    them; the batch reference here and the DuckDB oracle both catch
    that). Verified against the batch left join on the same events."""
    from stream_processing_test_spark.registry import all_queries
    from stream_processing_test_spark.tables import load

    got = all_queries()["streaming_click_purchase_outer"].fn(
        spark, SF_SMALL
    ).collect()
    ev = load(spark, SF_SMALL, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("user_id"),
        F.col("ts").alias("pts"),
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_uid"),
        F.col("ts").alias("cts"),
    )
    want = (
        p.join(
            c,
            (p["user_id"] == c["c_uid"])
            & (c["cts"] >= p["pts"] - F.expr("INTERVAL 1 HOUR"))
            & (c["cts"] <= p["pts"]),
            "left_outer",
        )
        .select("purchase_id", "click_id", "user_id")
        .collect()
    )
    as_set = lambda rows: {  # noqa: E731
        (r["purchase_id"], r["click_id"], r["user_id"]) for r in rows
    }
    assert as_set(got) == as_set(want)
    unmatched = [r for r in got if r["click_id"] is None]
    matched = [r for r in got if r["click_id"] is not None]
    assert unmatched and matched  # both behaviors actually exercised
