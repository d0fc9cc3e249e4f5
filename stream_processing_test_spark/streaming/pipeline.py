"""Structured Streaming layer — the reference's probe/report loops
(EP1/EP2, SURVEY.md §2.8 T1-T8) as a streaming DAG.

Reference behavior → streaming mapping:
- T1 micro-batch ingestion (25 probes / 10 s round, StreamTest.cpp:
  827-828, 1083-1176) → file/Kafka source micro-batches; tests use
  ``maxFilesPerTrigger`` for deterministic batch boundaries.
- T2 tumbling daily window (UTC-day scan bounds, StreamTest.cpp:
  837-839) → ``F.window(ts, "1 day")`` + watermark.
- T3 periodic full recompute every 120 min (StreamTest.cpp:832,
  1049-1052) → ``outputMode("complete")``/``update`` on the windowed
  aggregation — Spark incrementalizes what the reference recomputes.
- T4 keyed rollup state (std::map rebuilt per cycle, :840-937) →
  the same ``groupBy(window, key)`` aggregation state, managed by the
  engine with checkpointing instead of rebuilt by hand.
- T5 watermark: the reference stamps events server-side so late data
  cannot exist (:296); we default to a 0-second watermark and make it
  configurable for sources with real event-time lag.
- T8 idempotent day-end write-back (:982-1029) → ``foreachBatch`` +
  keyed upsert (sinks.upsert).

The streaming aggregation is definitionally the SAME query as the
batch ``daily_scores`` (operators/rollup.py) — stream/batch parity is
asserted in tests and by the driver oracle, because Structured
Streaming treats a stream as an incrementally-executed batch query.

Scale: state is keyed by (window, source) — bounded by active sources
× retained windows; the watermark lets Spark drop closed-window state.
A 100 TB/day deployment shards this state across executors by the
group key hash exactly like the batch shuffle.
"""

from __future__ import annotations

import os
import tempfile
from collections.abc import Callable, Sequence
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from stream_processing_test_spark.operators.extended import (
    SESSION_ORACLE,
    session_rollup,
)
from stream_processing_test_spark.operators.rollup import SCORE_AGGS, SCORES_ORACLE
from stream_processing_test_spark.registry import register
from stream_processing_test_spark.tables import load, normalize_event_ts

# Shuffle (hence state-store) partitions of every replayed query; see
# replay_to_memory for why it is a conf and why it is small.
STATE_PARTITIONS = 8


# Schema of the driver's events table; ``ts`` takes whichever dtype
# the file materializes (see tables.normalize_event_ts) —
# events_stream probes it.
def _events_raw_schema(ts_type: T.DataType) -> T.StructType:
    return T.StructType(
        [
            T.StructField("event_id", T.LongType(), True),
            T.StructField("ts", ts_type, True),
            T.StructField("user_id", T.LongType(), True),
            T.StructField("event_type", T.StringType(), True),
            T.StructField("value", T.DoubleType(), True),
            T.StructField("props", T.StringType(), True),
        ]
    )


def events_stream(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """T1: file-source event stream with the events schema.

    ``path`` is a directory (or a glob of directories) accumulating
    event files — the production shape: the probe connector appends
    one file per micro-batch. Spark's file stream source rejects a
    bare file; :func:`replay_to_memory` replays one through a
    directory."""
    # TIMESTAMP(NANOS) files read as long nanos (tables.load's reason)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # A file stream must declare its schema up front; probe the footer
    # with a (cheap, metadata-only) batch read so the declared ts dtype
    # matches how the file materializes (long for TIMESTAMP(NANOS),
    # TIMESTAMP_NTZ for a naive µs writer, TIMESTAMP for a tz-aware one).
    try:
        ts_type = spark.read.parquet(path).schema["ts"].dataType
    except Exception:  # dir empty at start-up: the fixtures' shape
        ts_type = T.TimestampNTZType()
    reader = spark.readStream.schema(_events_raw_schema(ts_type)).format("parquet")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return normalize_event_ts(reader.load(path))


def replay_to_memory(
    spark: SparkSession,
    sf_dir: str,
    build: Callable[[SparkSession, Callable[[], DataFrame]], DataFrame],
    output_mode: str = "complete",
    sentinels: Sequence[tuple[int, str]] = (),
) -> DataFrame:
    """Replay ``<sf_dir>/events.parquet`` as a file stream, run the
    streaming query ``build(scoped, events)`` returns over all of it
    (Trigger.AvailableNow) into a memory sink, and return the final
    table as a batch DataFrame — the harness of every registered
    replay query. ``scoped`` is the session to build on; each
    ``events()`` call opens one more event stream over the replay (a
    stream-stream join opens one per side). Complete mode = the
    reference's T3 full-recompute semantics, emitted incrementally.

    Session: ``scoped`` is a clone of ``spark`` (same SparkContext and
    executors, its own SQLConf and catalog), so the memory-sink view
    and the conf set here never reach the caller or queries running
    beside it, and nothing needs restoring. Its shuffle partitions are
    STATE_PARTITIONS: a stateful plan pins that count for the
    checkpoint's lifetime, and each partition carries state-store and
    task overhead every micro-batch — for ``applyInPandasWithState`` a
    Python worker spawn (32 -> 8 measured 4x faster at sf0.01) — so a
    count sized for relational shuffles wastes fixed cost when keys
    are few. It has to be the conf: a stateful operator requires
    HashPartitioning(key, shuffle partitions), so an upstream
    repartition would only get a second exchange added back. A
    large-keyspace deployment sizes it to the cluster instead.

    Replay: the stream reads a TemporaryDirectory (the file stream
    source rejects a bare file), removed once the stream has stopped —
    the memory sink holds the result. Without ``sentinels`` it holds a
    symlink to the events file. With them it holds ONE parquet file of
    the events plus one far-future row (ts 2100-01-01, user_id = -1)
    per ``(event_id, event_type)`` in ``sentinels``, and rows with
    ``user_id < 0`` are dropped from the result. Why each piece
    matters:
    - a finite stream's watermark stops at the LAST REAL EVENT, which
      would hold the final windows/unmatched state open forever; the
      sentinels are the 'later traffic' that closes them;
    - one sentinel per INPUT the query carves out of the replay (e.g.
      one 'click' + one 'purchase' for a two-sided join): a filtered
      input whose event_type never includes a sentinel would keep ITS
      watermark — and the query's global minimum — pinned at the last
      real event;
    - the single coalesced file means the first micro-batch contains
      every real event AND the sentinels together, so the watermark
      only advances AFTER all real events are in state (a
      sentinel-first file order would mark the real events late and
      drop them), and Spark's trailing no-data batch then flushes the
      evicted state through the operator."""
    scoped = spark.newSession()
    scoped.conf.set("spark.sql.shuffle.partitions", str(STATE_PARTITIONS))
    with tempfile.TemporaryDirectory(prefix="events_replay_") as tmp:
        replay_dir = os.path.join(tmp, "events")
        if sentinels:
            sent = scoped.createDataFrame(
                [
                    (eid, datetime(2100, 1, 1), -1, etype, 0.0, "{}")
                    for eid, etype in sentinels
                ],
                _events_raw_schema(T.TimestampType()),
            )
            load(scoped, sf_dir, "events").select(*sent.columns).unionByName(
                sent
            ).coalesce(1).write.parquet(replay_dir)
        else:
            os.mkdir(replay_dir)
            os.symlink(
                os.path.abspath(os.path.join(sf_dir, "events.parquet")),
                os.path.join(replay_dir, "events.parquet"),
            )
        result = build(scoped, lambda: events_stream(scoped, replay_dir))
        (
            result.writeStream.format("memory")
            .queryName("replay")
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
    out = scoped.table("replay")
    return out.filter(F.col("user_id") >= 0) if sentinels else out


def daily_rollup(events: DataFrame, watermark: str = "0 seconds") -> DataFrame:
    """T2+T3+T4: watermarked 1-day tumbling window rollup per source —
    the streaming twin of ``operators.rollup.daily_scores``."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.expr("window(ts, '1 day') AS win"), "user_id")
        .agg(*map(F.expr, SCORE_AGGS))
        .selectExpr(
            "user_id",
            "date_format(win.start, 'yyyy-MM-dd') AS day",
            "n_detection",
            "n_error",
            "flow_score",
        )
    )


# The streaming rollup is oracle-checked with the SAME SQL as the batch
# daily_scores — stream/batch parity is the correctness claim (T2/T3).
@register(
    "streaming_daily_scores",
    oracle=SCORES_ORACLE,
    survey_ops="T1,T2,T3,T4,T5,A6", tier=0
)
def streaming_daily_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming daily availability scores: the events parquet replayed
    through a file-source stream, windowed-aggregated, and proven equal
    to the batch query by the shared DuckDB oracle."""
    return replay_to_memory(
        spark, sf_dir, lambda _, events: daily_rollup(events())
    )


def final_update_state(raw: DataFrame) -> DataFrame:
    """Reduce an UPDATE-mode memory sink's append-of-updates history to
    the final per-key state. Update mode emits a (user_id, day) row in
    every micro-batch that changed the key, and ``n_detection`` is a
    strictly monotone COUNT within a key (a key is emitted only when
    new events landed on it) — so the final state is exactly the
    max-n_detection row per key, with no batch-id bookkeeping. A real
    deployment points update mode at a keyed upsert sink
    (sinks/upsert.py) and never needs this; the memory-sink reduction
    exists so the driver can hash the final table."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id", "day").orderBy(
        F.col("n_detection").desc()
    )
    return (
        raw.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


@register(
    "streaming_daily_scores_update",
    oracle=SCORES_ORACLE,
    survey_ops="T2,T3,T5,A6",
    tier=0,  # new driver surface in r10 (VERDICT r9 item 4)
)
def streaming_daily_scores_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BOUNDED-STATE deployment shape of the daily rollup
    (VERDICT r9 item 4): same aggregation as
    ``streaming_daily_scores`` but with a 1-day watermark in UPDATE
    output mode — the only shape that survives an unbounded stream.
    Complete mode re-emits (and therefore retains) every window ever
    seen: state grows with stream lifetime (measured 4.0 M rows /
    1.9 GB at 10 M events — BENCH_SCALE stream_x100). The watermark
    lets Spark expire windows older than max(event time) − 1 day, so
    state is bounded by open windows × users regardless of lifetime
    (measured 15× smaller, 383 MB, on the same 10 M events — the
    ``scores_update`` harness arm this query promotes to the driver
    gate).

    Oracle-checked against the SAME batch SQL as the complete-mode
    twin: with the fixture's single-file replay nothing is ever later
    than the watermark, so the final state equals the batch answer
    (the multi-batch path, where updates genuinely supersede each
    other and :func:`final_update_state` does real work, is pinned by
    test_streaming.test_update_mode_multi_batch_converges)."""
    raw = replay_to_memory(
        spark,
        sf_dir,
        lambda _, events: daily_rollup(events(), watermark="1 day"),
        "update",
    )
    return final_update_state(raw)


def rate_events_stream(
    spark: SparkSession,
    rows_per_batch: int = 100,
    start_epoch: int = 1_705_276_800,  # 2024-01-15 00:00:00 UTC
    advance_ms: int = 21_600_000,  # 6h per micro-batch
    max_value: int | None = None,
) -> DataFrame:
    """T1 beyond file replay: a ``rate-micro-batch``-source event stream
    with DETERMINISTIC content, for exercising trigger semantics
    (processing-time micro-batches) without any files on disk.

    The source emits batch ``i`` as values ``[i*rows_per_batch,
    (i+1)*rows_per_batch)``, all stamped ``start + i*advance`` — so
    every derived column is a pure function of ``value`` and a batch
    replay of ``spark.range(n)`` through the same expressions is an
    exact oracle for any prefix of ``n`` rows (asserted in
    tests/test_streaming.py). Events derive with the portable hash
    (llm/hashing.phash), mirroring the synthetic probe connector:
    ~20% errors, 7 users, value in [0, 10).

    This is the shape a production deployment uses to soak-test the
    streaming DAG (state growth, trigger latency) before pointing it
    at Kafka — the aggregation/network path is identical, only the
    source differs.

    ``max_value`` bounds the UNBOUNDED source deterministically:
    values >= max_value are filtered out before derivation, so once
    the first ``max_value // rows_per_batch`` batches have committed,
    further batches leave any aggregate over the stream unchanged — a
    poll-then-stop consumer reads the same result no matter how many
    extra batches slip in before stop() lands (the trick behind the
    driver-checkable ``streaming_rate_rollup``)."""
    raw = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", rows_per_batch)
        .option("startTimestamp", start_epoch * 1000)
        .option("advanceMillisPerBatch", advance_ms)
        .option("numPartitions", 4)
        .load()
    )
    if max_value is not None:
        raw = raw.filter(F.col("value") < max_value)
    return rate_rows_to_events(raw)


def rate_rows_to_events(raw: DataFrame) -> DataFrame:
    """(timestamp, value) -> the events shape, shared by the stream and
    its ``spark.range``-based batch oracle so the two cannot drift."""
    from stream_processing_test_spark.llm.hashing import phash

    h = phash(F.col("value").cast("string"))
    return raw.select(
        F.col("timestamp").alias("ts"),
        (F.col("value") % 7).alias("user_id"),
        F.when(h % 10 < 2, F.lit("error"))
        .otherwise(F.lit("view"))
        .alias("event_type"),
        ((F.col("value") % 100) / 10.0).alias("value"),
    )


RATE_RPB = 50  # rows per micro-batch for the registered rate rollup
RATE_K = 200  # aggregate bound: exactly the first 4 batches of values

_RATE_START = 1_705_276_800
_RATE_ADV_S = 21_600  # 6h per batch, in seconds


def _rate_rollup_oracle() -> str:
    from stream_processing_test_spark.llm.hashing import phash_sql

    h = phash_sql("CAST(value AS VARCHAR)")
    return f"""
WITH vals AS (SELECT range AS value FROM range({RATE_K})),
ev AS (
    SELECT value % 7 AS user_id,
           CASE WHEN ({h}) % 10 < 2 THEN 'error' ELSE 'view' END AS event_type,
           (value % 100) / 10.0 AS value_score,
           TIMESTAMP '2024-01-15 00:00:00'
               + (value // {RATE_RPB}) * INTERVAL {_RATE_ADV_S} SECOND AS ts
    FROM vals)
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_errors,
       ROUND(MIN(value_score), 1) AS min_value,
       ROUND(MAX(value_score), 1) AS max_value,
       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS min_ts,
       strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS max_ts
FROM ev GROUP BY user_id
"""


@register(
    "streaming_rate_rollup",
    oracle=_rate_rollup_oracle(),
    survey_ops="T1,T3,A8",
    tier=1,
)
def streaming_rate_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1's second source shape under oracle evidence (VERDICT r7
    item 7): a REAL processing-time rate-micro-batch stream —
    no files on disk — aggregated in complete mode and stopped
    deterministically.

    Determinism over an unbounded source: the stream is value-bounded
    at RATE_K (``max_value`` filter before derivation), so once the
    first RATE_K / RATE_RPB batches commit, the aggregate is final —
    extra batches that slip in before stop() are filtered to nothing.
    The consumer polls the complete-mode memory sink until all RATE_K
    values are reflected, then stops; the returned table is therefore
    a pure function of the derivation, which the DuckDB oracle replays
    from ``range(RATE_K)`` (the source stamps batch i's values with
    start + i*advance, so ts = f(value) too). ``sf_dir`` is unused —
    the source is synthetic by design (the point is trigger semantics,
    not ingest)."""
    import time as _time

    scoped = spark.newSession()  # own SQLConf, as in replay_to_memory
    scoped.conf.set("spark.sql.shuffle.partitions", "4")
    name = "rate_rollup_drv"
    ev = rate_events_stream(
        scoped,
        rows_per_batch=RATE_RPB,
        start_epoch=_RATE_START,
        advance_ms=_RATE_ADV_S * 1000,
        max_value=RATE_K,
    )
    agg = ev.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.sum(
            F.when(F.col("event_type") == "error", 1).otherwise(0)
        ).alias("n_errors"),
        F.round(F.min("value"), 1).alias("min_value"),
        F.round(F.max("value"), 1).alias("max_value"),
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("min_ts"),
        F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("max_ts"),
    )
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(processingTime="50 milliseconds")
        .start()
    )
    deadline = _time.time() + 120
    n = 0
    while _time.time() < deadline:
        if q.exception() is not None:
            break  # dead query: surface its error via awaitTermination
        n = scoped.sql(
            f"SELECT coalesce(sum(n_events), 0) FROM {name}"
        ).collect()[0][0]
        if n >= RATE_K:
            break
        _time.sleep(0.2)
    q.stop()
    q.awaitTermination(60)  # rethrows if the query failed
    if n < RATE_K:
        raise TimeoutError(
            f"rate stream committed only {n}/{RATE_K} values in 120s"
        )
    return scoped.table(name)


def finalize_to_dimension(
    spark: SparkSession,
    events_path: str,
    dim_path: str,
    checkpoint_dir: str,
    watermark: str = "0 seconds",
) -> None:
    """T8: end-to-end day-close pipeline — stream events, window-score
    per source, upsert scores into the source dimension parquet via
    foreachBatch (the reference's once-daily WriteSqlDbData loop,
    StreamTest.cpp:982-1029).

    Update output mode: each micro-batch emits only changed
    (window, source) rows — possibly SEVERAL windows per source — and
    ``sinks.upsert.upsert_newest_day`` writes the newest day per
    source, never older than the stored one. Re-emission of the same
    rows is idempotent; checkpointing makes restarts exactly-once.

    The caller's session conf is as it was on return, raised or not."""
    from stream_processing_test_spark.sinks.upsert import upsert_newest_day

    nodata = "spark.sql.streaming.noDataMicroBatches.enabled"
    saved = {
        k: spark.conf.get(k, None)
        for k in (nodata, "spark.sql.legacy.parquet.nanosAsLong")
    }
    # No watermark-only batch after the data batch. In update mode it
    # emits no rows, yet it would pay a state commit and a full upsert
    # of the dimension; evicting the windows it closes moves to the next
    # data batch. Set on the caller's session, not a newSession() clone:
    # StreamingQueryListeners are per session, so a clone's query would
    # be invisible to the caller's listeners. The checkpoint does not
    # record this conf, so runs with and without it share checkpoints.
    spark.conf.set(nodata, "false")
    try:
        ev = events_stream(spark, events_path)
        scores = daily_rollup(ev, watermark).selectExpr(
            "CAST(user_id AS BIGINT) AS id",
            "day",
            "flow_score",
            "n_detection",
            "n_error",
        )
        q = (
            scores.writeStream.outputMode("update")
            .option("checkpointLocation", checkpoint_dir)
            .foreachBatch(lambda batch_df, _: upsert_newest_day(batch_df, dim_path))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


@register(
    "streaming_session_windows",
    oracle=SESSION_ORACLE,
    survey_ops="T2,T5,⊘session",
    tier=2,
)
def streaming_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap sessionization AS A STREAM: the batch ``session_windows``
    query's :func:`session_rollup`, run in append mode with a
    watermark over the replayed events — checked against the same
    gaps-and-islands oracle.

    Append-mode session windows only emit once the watermark passes a
    session's close, and a finite replay's watermark stops at the last
    real event — which would hold the final session of every user open
    forever. The replay therefore appends ONE far-future sentinel
    event (user_id = -1, excluded from results): exactly the
    production situation, where later traffic is what closes sessions.
    The replay-file mechanics are :func:`replay_to_memory`'s.
    """

    def sessions(_, events):
        return session_rollup(events().withWatermark("ts", "0 seconds"))

    return replay_to_memory(
        spark, sf_dir, sessions, "append", sentinels=[(-1, "sentinel")]
    )


# ---------------------------------------------------------------------------
# Sliding-window rollup — the overlapping-window member of the T2 family
# ---------------------------------------------------------------------------

SLIDE_SEC = 7_200  # 2 h hop
SLIDE_SIZE_SEC = 21_600  # 6 h window = 3 hops -> each event in exactly 3 windows

# Per-event window enumeration, replayed in SQL: event at epoch second
# ``es`` belongs to window starts (floor(es / slide) - k) * slide for
# k in [0, size/slide) — exactly Spark's epoch-aligned assignment.
# The floor is integer-exact via the double-mod idiom rather than
# DuckDB's ``//``, which truncates toward zero and would mis-align
# pre-1970 timestamps ((-1) // 7200 = 0, but Spark's window floor
# puts epoch -1 in the window starting at -7200).
_STREAM_SLIDING_ORACLE = f"""
WITH ev AS (
    SELECT event_type, value, CAST(floor(epoch(ts)) AS BIGINT) AS es
    FROM events
),
ew AS (
    SELECT event_type, value,
           es - (((es % {SLIDE_SEC}) + {SLIDE_SEC}) % {SLIDE_SEC}) AS w0
    FROM ev
),
w AS (
    SELECT event_type, value,
           unnest(list_transform(range({SLIDE_SIZE_SEC // SLIDE_SEC}),
                  k -> w0 - k * {SLIDE_SEC})) AS window_start
    FROM ew
)
SELECT CAST(window_start AS BIGINT) AS window_start,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
FROM w GROUP BY 1, 2
"""


def sliding_rollup(events: DataFrame, watermark: str = "0 seconds") -> DataFrame:
    """T2 variant: 6-hour windows hopping every 2 hours — each event
    lands in exactly size/slide = 3 overlapping windows. Value totals
    aggregate as integer cents (``floor(value*100)``): unlike the
    tumbling family's fixture-stable double sums, the 3× row
    duplication here triples the float-merge reorder surface, and
    integer addition is associative — cross-engine parity by
    construction, not by luck."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(
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
    )


@register(
    "streaming_sliding_rollup",
    oracle=_STREAM_SLIDING_ORACLE,
    survey_ops="T1,T2,T3,F1",
    tier=0,
)
def streaming_sliding_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding (hopping) windowed aggregation AS A STREAM: the events
    parquet replayed through a file source, every event assigned to
    its 3 overlapping 6-hour windows, counted and value-summed per
    (window, event_type) — proven equal to a per-event window
    enumeration in the DuckDB oracle.

    The reference's engine has only tumbling re-aggregation (its T2/T3
    daily recompute, PollingScheduler.cpp — see SURVEY §2.8); sliding
    windows are the standard Spark-first generalization and come free
    from ``F.window(ts, size, slide)``. Window starts are emitted as
    epoch seconds (``win.start`` cast to long): integer-exact in both
    engines, immune to timezone/render differences, and the natural
    key a downstream sink would partition on.

    Scale shape: Spark expands each event to size/slide window rows
    before the keyed state update — state rows = windows × types, and
    shuffle volume is 3× events. At 100 TB the slide/size ratio is the
    operator's cost dial (the reference's daily tumbling is the 1×
    special case); watermarking bounds state to the open-window set."""
    return replay_to_memory(
        spark, sf_dir, lambda _, events: sliding_rollup(events())
    )


# ---------------------------------------------------------------------------
# Stream-static enrichment join (the missing standard streaming shape)
# ---------------------------------------------------------------------------

_ENRICHED_ORACLE = """
SELECT c.c_mktsegment AS segment,
       strftime(date_trunc('day', e.ts), '%Y-%m-%d') AS day,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CASE WHEN e.event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
       ROUND(SUM(e.value), 4) AS value_sum
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY segment, date_trunc('day', e.ts)
"""


def enriched_rollup(
    events: DataFrame, customer: DataFrame, watermark: str = "0 seconds"
) -> DataFrame:
    """Stream-static enrichment: the event stream joined to the static
    ``customer`` dimension (user_id = c_custkey), then windowed-rolled
    per (market segment, day). The dim side is a plain batch frame —
    Spark re-plans it per micro-batch, and the explicit broadcast hint
    keeps the join map-side (the dim is customer-bounded, never
    event-scaled), so enrichment adds ZERO shuffle to the stream: the
    only exchange is the windowed aggregation's own state shuffle.

    SCD caveat (MEASURED, r12 — tests/test_streaming.py): re-planned
    per batch does NOT mean re-LISTED. A file-based dim's listing is
    frozen in this frame's analyzed plan, so overwriting the dim
    directory under a running query KILLS the stream
    (FileNotFoundException on the vanished part files) — and
    ``spark.catalog.refreshByPath`` does not reach the running plan's
    own index either. A deployment whose dimension actually changes
    must either re-read the dim INSIDE ``foreachBatch`` (fresh
    listing per batch — the pinned pattern) or store the dim in a
    snapshot-resolving table format."""
    dim = F.broadcast(
        customer.select(
            F.col("c_custkey").alias("user_id"), "c_mktsegment"
        )
    )
    return (
        events.withWatermark("ts", watermark)
        .join(dim, "user_id")
        .groupBy(F.window("ts", "1 day").alias("win"), "c_mktsegment")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(
                F.when(F.col("event_type") == "error", 1).otherwise(0)
            ).alias("n_error"),
            F.round(F.sum("value"), 4).alias("value_sum"),
        )
        .select(
            F.col("c_mktsegment").alias("segment"),
            F.date_format(F.col("win.start"), "yyyy-MM-dd").alias("day"),
            "n_events",
            "n_error",
            "value_sum",
        )
    )


@register(
    "streaming_enriched_rollup",
    oracle=_ENRICHED_ORACLE,
    survey_ops="T1,T2,T3,J1,A1",
    tier=0,
)
def streaming_enriched_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(segment, day) event rollup with stream-static dimension
    enrichment — the deployment shape every monitoring pipeline runs
    (facts arrive as a stream; the entity dimension is a slowly
    changing table read per micro-batch). Events replayed through the
    file-source stream; equality with the batch join+agg is proven by
    the shared DuckDB oracle."""
    return replay_to_memory(
        spark,
        sf_dir,
        lambda scoped, events: enriched_rollup(
            events(), load(scoped, sf_dir, "customer")
        ),
    )
