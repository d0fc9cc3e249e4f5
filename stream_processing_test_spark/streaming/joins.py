"""Stream-stream joins and streaming deduplication.

Two Structured Streaming capabilities the batch layer can't express:

- **Stream-stream interval join** (click→purchase attribution): both
  sides are unbounded; Spark buffers each side in the state store and
  emits matches as they arrive. The time-range condition plus the
  watermark bound the buffered state — without them a stream-stream
  join holds both streams forever.
- **Streaming dedup within watermark** (at-least-once → exactly-once):
  `dropDuplicatesWithinWatermark` keeps an event-id seen-set whose
  entries expire once the watermark passes, so state is bounded by
  (delay window x arrival rate), not by the stream's lifetime.

Both are proven against a DuckDB batch oracle on the same replayed
events (stream/batch parity, the same claim `streaming_daily_scores`
makes).

Scale notes (100 TB posture):
- State is keyed by user_id (join) / event_id (dedup) — uniform keys,
  no skew; state-store partitions are `pipeline.STATE_PARTITIONS` in
  the registered replays and sized to the cluster in deployment.
- The interval is the state bound: 1 h of click state per user, not
  the full history.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stream_processing_test_spark.registry import register
from stream_processing_test_spark.streaming.pipeline import replay_to_memory

_SS_JOIN_ORACLE = """
SELECT CAST(p.event_id AS BIGINT) AS purchase_id,
       CAST(c.event_id AS BIGINT) AS click_id,
       CAST(p.user_id AS BIGINT) AS user_id
FROM events p
JOIN events c
  ON p.user_id = c.user_id
 AND p.event_type = 'purchase'
 AND c.event_type = 'click'
 AND c.ts >= p.ts - INTERVAL 1 HOUR
 AND c.ts <= p.ts
"""


def click_purchase_pairs(
    events: Callable[[], DataFrame], how: str
) -> DataFrame:
    """Stream-stream interval join of purchases (left) to clicks
    (right) by the same user with the click at most 1 h before the
    purchase; ``how`` is the join type. Each side reads its own
    ``events()`` stream. The 2 h watermarks plus the interval let
    Spark evict click state older than the join window."""
    clicks = (
        events()
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "2 hours")
    )
    purchases = (
        events()
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "2 hours")
    )
    return purchases.join(
        clicks,
        (F.col("user_id") == F.col("c_user_id"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("click_ts") <= F.col("purchase_ts")),
        how,
    ).select("purchase_id", "click_id", "user_id")


@register(
    "streaming_click_purchase_join",
    oracle=_SS_JOIN_ORACLE,
    survey_ops="⊘stream-stream-join,T1,T5", tier=0
)
def streaming_click_purchase_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner interval join: every (purchase, click) pair
    by the same user with the click at most 1 h before the purchase.
    Inner join → matches emit immediately."""
    return replay_to_memory(
        spark,
        sf_dir,
        lambda _, events: click_purchase_pairs(events, "inner"),
        "append",
    )


_SDEDUP_ORACLE = """
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events
FROM events
GROUP BY event_type
"""


@register(
    "streaming_dedup",
    oracle=_SDEDUP_ORACLE,
    survey_ops="⊘streaming-dedup,T1,T5,§7-dedup", tier=0
)
def streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once per-event counts from an at-least-once stream: the
    events file replayed on TWO file-source streams unioned (every
    event delivered twice), deduplicated by event_id within the
    watermark, then counted per type. The oracle is the batch count of
    the ORIGINAL events — equality proves the duplicates were fully
    removed."""

    def counts(_, events):
        once = events().select("event_id", "ts", "event_type")
        twice = once.union(events().select("event_id", "ts", "event_type"))
        return (
            twice.withWatermark("ts", "1 hour")
            .dropDuplicatesWithinWatermark(["event_id"])
            .groupBy("event_type")
            .agg(F.count("*").alias("n_events"))
        )

    return replay_to_memory(spark, sf_dir, counts)


_SS_OUTER_ORACLE = """
SELECT CAST(p.event_id AS BIGINT) AS purchase_id,
       CAST(c.event_id AS BIGINT) AS click_id,
       CAST(p.user_id AS BIGINT) AS user_id
FROM events p
LEFT JOIN events c
  ON p.user_id = c.user_id
 AND c.event_type = 'click'
 AND c.ts >= p.ts - INTERVAL 1 HOUR
 AND c.ts <= p.ts
WHERE p.event_type = 'purchase'
"""


@register(
    "streaming_click_purchase_outer",
    oracle=_SS_OUTER_ORACLE,
    survey_ops="⊘stream-stream-join,T1,T5",
    tier=0,  # new in r13
)
def streaming_click_purchase_outer(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Stream-stream LEFT OUTER interval join: every purchase with its
    attributing clicks, and a NULL click row for purchases no click
    preceded within 1 h — the semantics the inner variant cannot give
    (an unattributed purchase simply never appears there).

    What this pins that the inner join doesn't: outer results depend
    ENTIRELY on state eviction. Spark emits the null-padded row only
    when the watermark proves no future click can match, so a broken
    eviction path shows up as MISSING unmatched purchases, not as
    extra rows — exactly the failure the batch LEFT JOIN oracle
    catches row-for-row.

    Finite-replay mechanics: one far-future sentinel PER SIDE (a
    'click' and a 'purchase', user_id = -1, filtered from the result)
    appended to the single replay file — :func:`pipeline.replay_to_memory`
    documents why each piece is load-bearing (per-input watermark
    advance, real-events-first ordering, the trailing no-data batch
    that flushes evicted state through the outer join).

    Scale shape: identical to the inner variant — state keyed by
    user_id, bounded by (watermark delay x arrival rate), priced with
    rows-in-state at 1M/10M events in BENCH_SCALE's ss_join arm
    (BENCH_NOTES §r13-ssjoin-rungs).
    """
    return replay_to_memory(
        spark,
        sf_dir,
        lambda _, events: click_purchase_pairs(events, "left_outer"),
        "append",
        sentinels=[(-1, "click"), (-2, "purchase")],
    )
