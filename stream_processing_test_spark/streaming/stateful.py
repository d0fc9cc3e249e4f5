"""Custom stateful streaming operator: consecutive-failure streak
detection via ``applyInPandasWithState``.

The reference's closest analog is the "all sources of this program are
failing" report (StreamTest.cpp:626-638) — a batch re-scan. The
streaming-native form tracks, per source, the running streak of error
events and emits a record the moment a streak ENDS (a success arrives),
without rescanning history: state per key is three integers, not the
day's events.

This is the one operator class where Spark's built-in windowed
aggregation genuinely cannot express the semantics (streak boundaries
depend on event ORDER, not time buckets), hence
``applyInPandasWithState`` (SURVEY.md §2.9): Arrow-batched, grouped
state, user-defined per-group transition function.

Scale: state is O(1) per source (three longs); keys shard across
executors by hash. The transition function walks each group's batch
rows once in sequence order — no cross-key coordination.

Ordering contract: within a micro-batch, rows for a key are sorted by
``event_id`` before the walk; ACROSS micro-batches the source must
deliver in order (true for the probe connector's append log and for
Kafka per-partition order; the tests feed ordered file chunks).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from stream_processing_test_spark.registry import register
from stream_processing_test_spark.streaming.pipeline import replay_to_memory

MIN_STREAK = 3

STREAK_SCHEMA = (
    "user_id BIGINT, streak_len BIGINT, start_event_id BIGINT, end_event_id BIGINT"
)
STATE_SCHEMA = "streak_len BIGINT, start_event_id BIGINT, last_event_id BIGINT"


def _streak_fn(
    key: tuple,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Transition function: walk this key's new rows in event order,
    maintaining (streak_len, start_event_id, last_event_id); emit one
    output row per closed streak of length >= MIN_STREAK."""
    (user_id,) = key
    if state.exists:
        streak_len, start_id, last_id = state.get
    else:
        streak_len, start_id, last_id = 0, 0, 0

    out: list[dict[str, Any]] = []
    # applyInPandasWithState may deliver one key's micro-batch as several
    # Arrow chunks (~10k rows each) with no ordering guarantee; sorting
    # per-chunk would split streaks that span a chunk boundary, so the
    # whole key-batch must be ordered before the walk. Cost discipline
    # (this ordering fix was the one measured r2->r3 perf regression,
    # BENCH_NOTES): only the two needed columns leave pandas (numpy
    # views, no full-frame concat/sort_values), and the O(n log n)
    # argsort runs ONLY when a boundary is actually violated — chunk
    # concatenation order is already correct for in-order sources (file
    # replay, Kafka per-partition), making the common case one O(n)
    # monotonicity scan. State stays O(1); the transient arrays are
    # bounded by one key's rows in one micro-batch.
    import numpy as np

    chunks = [pdf for pdf in pdfs if len(pdf)]
    if chunks:
        if len(chunks) == 1:
            eids = chunks[0]["event_id"].to_numpy()
            etypes = chunks[0]["event_type"].to_numpy()
        else:
            eids = np.concatenate([c["event_id"].to_numpy() for c in chunks])
            etypes = np.concatenate(
                [c["event_type"].to_numpy() for c in chunks]
            )
        if len(eids) > 1 and not (eids[1:] >= eids[:-1]).all():
            order = np.argsort(eids, kind="stable")
            eids = eids[order]
            etypes = etypes[order]
        for eid, etype in zip(eids, etypes):
            if etype == "error":
                if streak_len == 0:
                    start_id = int(eid)
                streak_len += 1
                last_id = int(eid)
            else:
                if streak_len >= MIN_STREAK:
                    out.append(
                        {
                            "user_id": int(user_id),
                            "streak_len": streak_len,
                            "start_event_id": start_id,
                            "end_event_id": last_id,
                        }
                    )
                streak_len, start_id, last_id = 0, 0, 0
    state.update((streak_len, start_id, last_id))
    if out:
        yield pd.DataFrame(out)


def failure_streaks(events: DataFrame) -> DataFrame:
    """Streaming DataFrame of closed error streaks (length >=
    MIN_STREAK) per source. ``events`` must be a streaming DataFrame
    with (user_id, event_id, event_type)."""
    from stream_processing_test_spark.session import ensure_package_shipped

    ensure_package_shipped(events.sparkSession)
    return (
        events.select("user_id", "event_id", "event_type")
        .groupBy("user_id")
        .applyInPandasWithState(
            _streak_fn,
            outputStructType=STREAK_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


_STREAK_ORACLE = f"""
WITH seq AS (
    SELECT user_id, event_id, event_type,
           CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS is_error,
           ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id)
         - ROW_NUMBER() OVER (PARTITION BY user_id, event_type = 'error' ORDER BY event_id) AS grp
    FROM events
), streaks AS (
    SELECT user_id, grp,
           COUNT(*) AS streak_len,
           MIN(event_id) AS start_event_id,
           MAX(event_id) AS end_event_id
    FROM seq WHERE is_error = 1
    GROUP BY user_id, grp
    HAVING COUNT(*) >= {MIN_STREAK}
), closes AS (
    SELECT user_id, MAX(event_id) AS last_success_id
    FROM events WHERE event_type <> 'error' GROUP BY user_id
)
SELECT CAST(s.user_id AS BIGINT) AS user_id,
       CAST(streak_len AS BIGINT) AS streak_len,
       CAST(start_event_id AS BIGINT) AS start_event_id,
       CAST(end_event_id AS BIGINT) AS end_event_id
FROM streaks s JOIN closes c ON s.user_id = c.user_id
WHERE s.end_event_id < c.last_success_id
"""


@register(
    "streaming_failure_streaks", oracle=_STREAK_ORACLE, survey_ops="§2.9,T4,T6", tier=0)
def streaming_failure_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streak detection run over the events file replayed as
    a stream (availableNow), oracle-checked against the SQL islands
    formulation — custom stateful operator + batch parity in one."""
    return replay_to_memory(
        spark, sf_dir, lambda _, events: failure_streaks(events()), "append"
    )
