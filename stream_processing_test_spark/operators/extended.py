"""Extended relational operators beyond the reference's surface.

SURVEY.md §2 marks these ⊘ (absent in the reference); a complete
engine needs them, and the north star explicitly asks for as-of /
range joins and window frames. Each is oracle-checked against the
identical ANSI formulation in DuckDB.

Scale notes are per-operator; the common theme: every one is a single
hash-partition pass on the natural key (user_id / group key) — no
global sorts, no driver loops, no Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from stream_processing_test_spark.registry import register
from stream_processing_test_spark.tables import load

# ---------------------------------------------------------------------------
# As-of join (⊘ §2.3): latest prior click for every purchase
# ---------------------------------------------------------------------------

_ASOF_ORACLE = """
WITH tagged AS (
    SELECT user_id, ts, event_id, event_type, value FROM events
    WHERE event_type IN ('click', 'purchase')
), attributed AS (
    SELECT *,
           last_value(CASE WHEN event_type = 'click' THEN event_id END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS click_event_id,
           last_value(CASE WHEN event_type = 'click' THEN value END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS click_value
    FROM tagged
)
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(event_id AS BIGINT) AS purchase_event_id,
       ROUND(value, 6) AS purchase_value,
       CAST(click_event_id AS BIGINT) AS click_event_id,
       ROUND(click_value, 6) AS click_value
FROM attributed WHERE event_type = 'purchase'
"""


@register("asof_click_attribution", oracle=_ASOF_ORACLE, survey_ops="⊘asof(§2.3)")
def asof_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: attribute every purchase to the user's most recent
    strictly-prior click (by (ts, event_id) order; NULL if none).

    Implementation is the scale-correct union-tag form — both event
    kinds flow through ONE partitioned sort and a running
    last-non-null, instead of a per-row range probe: one shuffle on
    user_id, no join at all. The classic MERGE_ASOF / point-in-time
    join becomes a linear pass per partition. Deterministic tie-break:
    event_id."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    click_id = F.last(
        F.when(F.col("event_type") == "click", F.col("event_id")), ignorenulls=True
    ).over(w)
    click_value = F.last(
        F.when(F.col("event_type") == "click", F.col("value")), ignorenulls=True
    ).over(w)
    return (
        ev.withColumn("click_event_id", click_id)
        .withColumn("click_value", F.round(click_value, 6))
        .filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.col("event_id").alias("purchase_event_id"),
            F.round("value", 6).alias("purchase_value"),
            "click_event_id",
            "click_value",
        )
    )


# ---------------------------------------------------------------------------
# Range (interval) join (⊘ §2.3): activity in the 5 minutes before an error
# ---------------------------------------------------------------------------

_RANGE_ORACLE = """
SELECT CAST(e.event_id AS BIGINT) AS error_event_id,
       CAST(e.user_id AS BIGINT) AS user_id,
       CAST(COUNT(c.event_id) AS BIGINT) AS n_prior_5min
FROM events e
LEFT JOIN events c
  ON e.user_id = c.user_id
 AND c.event_type IN ('click', 'view')
 AND c.ts >= e.ts - INTERVAL 5 MINUTE
 AND c.ts < e.ts
WHERE e.event_type = 'error'
GROUP BY e.event_id, e.user_id
"""


@register("range_join_error_context", oracle=_RANGE_ORACLE, survey_ops="⊘range(§2.3)")
def range_join_error_context(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join: per error event, how many click/view events the
    same user produced in the preceding 5 minutes.

    Planned as an equi-join on user_id with the time band as a
    post-join filter — the right shape when the band is narrow and
    keys are selective. At 100 TB the refinement is bucketing both
    sides by (user_id, time-bucket) so band partners are co-located;
    AQE handles per-user skew (one hot user splits into subjoins)."""
    ev = load(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_event_id"),
        F.col("user_id"),
        F.col("ts").alias("error_ts"),
    )
    context = ev.filter(F.col("event_type").isin("click", "view")).select(
        F.col("user_id").alias("c_user_id"),
        F.col("ts").alias("c_ts"),
        F.col("event_id").alias("c_event_id"),
    )
    joined = errors.join(
        context,
        (F.col("user_id") == F.col("c_user_id"))
        & (F.col("c_ts") >= F.col("error_ts") - F.expr("INTERVAL 5 MINUTES"))
        & (F.col("c_ts") < F.col("error_ts")),
        "left",
    )
    return joined.groupBy("error_event_id", "user_id").agg(
        F.count("c_event_id").alias("n_prior_5min")
    )


# ---------------------------------------------------------------------------
# Monotonicity validator (T6 — the reference's disabled DTS/PTS check)
# ---------------------------------------------------------------------------

_MONO_ORACLE = """
WITH seq AS (
    SELECT user_id, event_id, value,
           lag(value) OVER (PARTITION BY user_id ORDER BY event_id) AS prev_value
    FROM events
)
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(COUNT(*) AS BIGINT) AS n_steps,
       CAST(SUM(CASE WHEN value < prev_value THEN 1 ELSE 0 END) AS BIGINT) AS n_regressions,
       ROUND(MAX(CASE WHEN value < prev_value THEN prev_value - value END), 6) AS max_drop
FROM seq WHERE prev_value IS NOT NULL
GROUP BY user_id
"""


@register("monotonic_violations", oracle=_MONO_ORACLE, survey_ops="T6,⊘lag(§2.5)")
def monotonic_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-monotonicity validator — the generalized form of the
    reference's (shipped-disabled) DTS/PTS non-decreasing check
    (StreamTest.cpp:1585-1638, gated by ``if (false)`` at :1599):
    per stream (user), in sequence order (event_id), count regressions
    of the monitored measure and the worst drop. ``lag`` over a
    partitioned window — per-group sort inside hash partitions, no
    global order."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("event_id")
    seq = ev.withColumn("prev_value", F.lag("value").over(w)).filter(
        F.col("prev_value").isNotNull()
    )
    drop = F.when(
        F.col("value") < F.col("prev_value"), F.col("prev_value") - F.col("value")
    )
    return seq.groupBy("user_id").agg(
        F.count("*").alias("n_steps"),
        F.sum(F.when(F.col("value") < F.col("prev_value"), 1).otherwise(0)).alias(
            "n_regressions"
        ),
        F.round(F.max(drop), 6).alias("max_drop"),
    )


# ---------------------------------------------------------------------------
# Window frames (⊘ §2.5): rolling statistics per user
# ---------------------------------------------------------------------------

_ROLLING_ORACLE = """
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(event_id AS BIGINT) AS event_id,
       ROUND(AVG(value) OVER w, 6) AS rolling_avg_7,
       ROUND(SUM(value) OVER w, 6) AS rolling_sum_7,
       CAST(COUNT(*) OVER w AS BIGINT) AS n_in_frame
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY event_id
             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
"""


@register("rolling_user_stats", oracle=_ROLLING_ORACLE, survey_ops="⊘frames(§2.5)")
def rolling_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-frame window aggregates: 7-row rolling avg/sum/count of
    the event measure per user in sequence order — the standard
    telemetry-smoothing shape. One shuffle on user_id; the frame is
    evaluated incrementally within each sorted group."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("event_id").rowsBetween(-6, 0)
    return ev.select(
        "user_id",
        "event_id",
        F.round(F.avg("value").over(w), 6).alias("rolling_avg_7"),
        F.round(F.sum("value").over(w), 6).alias("rolling_sum_7"),
        F.count("*").over(w).alias("n_in_frame"),
    )


# ---------------------------------------------------------------------------
# ROLLUP / grouping sets (⊘ §2.4)
# ---------------------------------------------------------------------------

_ROLLUP_SQL_ORACLE = """
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_items
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


@register("revenue_rollup", oracle=_ROLLUP_SQL_ORACLE, survey_ops="⊘rollup(§2.4)")
def revenue_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical totals via ROLLUP: (flag, status) → (flag) → ().
    Catalyst expands grouping sets into one Expand + single aggregate
    — one pass over the fact table for all three levels (NULL marks
    subtotal rows, same as the SQL standard)."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


# ---------------------------------------------------------------------------
# Dynamic JSON envelope (§1 dynamic-schema path: the reference builds
# its INSERT from a JSON object's keys, StreamTest.cpp:229-249)
# ---------------------------------------------------------------------------

_JSON_ORACLE = """
WITH extracted AS (
    SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) AS k, value
    FROM events
)
SELECT CAST(k % 10 AS INTEGER) AS k_bucket,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(AVG(value), 4) AS avg_value,
       CAST(MIN(k) AS INTEGER) AS min_k,
       CAST(MAX(k) AS INTEGER) AS max_k
FROM extracted
GROUP BY k % 10
"""


@register("props_json_stats", oracle=_JSON_ORACLE, survey_ops="F10,§1-dynamic-schema")
def props_json_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-envelope extraction: parse the dynamic ``props`` column
    (the analog of the reference's JSON event envelope) with
    ``get_json_object`` and aggregate on an extracted key. The parse
    is JVM-side (Jackson) inside codegen — no Python, pushdown-safe."""
    ev = load(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        ev.select(k.alias("k"), "value")
        .groupBy((F.col("k") % 10).alias("k_bucket"))
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg("value"), 4).alias("avg_value"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


# ---------------------------------------------------------------------------
# Session windows (gap-based sessionization — ⊘ in the reference, core
# Structured Streaming capability surfaced in batch form too)
# ---------------------------------------------------------------------------

SESSION_GAP_MIN = 30

SESSION_ORACLE = f"""
WITH seq AS (
    SELECT user_id, ts, value,
           CASE WHEN lag(ts) OVER w IS NULL
                  OR ts - lag(ts) OVER w >= INTERVAL {SESSION_GAP_MIN} MINUTE
                THEN 1 ELSE 0 END AS new_sess
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), sess AS (
    SELECT *, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                  ROWS UNBOUNDED PRECEDING) AS sess_seq
    FROM seq
)
SELECT CAST(user_id AS BIGINT) AS user_id,
       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(SUM(value), 4) AS total_value
FROM sess
GROUP BY user_id, sess_seq
"""


def session_rollup(events: DataFrame) -> DataFrame:
    """(user_id, session_start, n_events, total_value) per gap session
    of ``events`` — batch or stream; a stream sets its watermark
    first."""
    return (
        events.groupBy(
            "user_id",
            F.session_window("ts", f"{SESSION_GAP_MIN} minutes").alias("sw"),
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(
            "user_id",
            F.date_format(F.col("sw.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
            "n_events",
            "total_value",
        )
    )


@register("session_windows", oracle=SESSION_ORACLE, survey_ops="⊘session,T2")
def session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization: events closer than SESSION_GAP_MIN
    minutes merge into one session per user. Uses Spark's native
    ``session_window`` (merging-interval state logic in the engine, no
    self-join); the oracle is the classic gaps-and-islands SQL, so the
    check also proves the two formulations agree. The same
    :func:`session_rollup` runs over a stream in
    ``streaming_session_windows``."""
    return session_rollup(load(spark, sf_dir, "events"))


# Time-decay scoring: reference epoch (2024-02-01 UTC, after the
# fixture's January window) and a 1-day half-life.
DECAY_REF_EPOCH = 1706745600  # 2024-02-01T00:00:00Z
DECAY_HALF_LIFE_S = 86400.0

_DECAY_ORACLE = f"""
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(SUM(ROUND(value * pow(0.5,
             ({DECAY_REF_EPOCH} - epoch_ns(ts) / 1e9) / {DECAY_HALF_LIFE_S}),
             6)), 4) AS decayed_value
FROM events GROUP BY user_id
"""


@register(
    "decayed_user_scores", oracle=_DECAY_ORACLE, survey_ops="A6,F5,F1", tier=2
)
def decayed_user_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-weighted activity score: each event's value decays with
    a 1-day half-life measured back from a fixed reference instant —
    the standard exponential-decay freshness signal feed-ranking and
    stream-quality systems maintain.

    Cross-engine float discipline (same recipe as the k-means oracle):
    the per-event contribution ``value * 0.5^(age_days)`` is rounded
    to 6 decimals BEFORE the sum — pow() may differ between engines in
    the last ulp, and rounding at the source keeps every summand
    bit-identical — and the (order-dependent) sum is rounded to 4,
    far above double accumulation noise for per-user sums of O(100)
    summands. One map pass + one partial-aggregated shuffle on
    user_id; a streaming deployment maintains the same score with the
    reference instant advanced per trigger."""
    ev = load(spark, sf_dir, "events")
    age_days = (
        F.lit(DECAY_REF_EPOCH) - F.unix_micros("ts") / 1e6
    ) / DECAY_HALF_LIFE_S
    contrib = F.round(F.col("value") * F.pow(F.lit(0.5), age_days), 6)
    return ev.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum(contrib), 4).alias("decayed_value"),
    )
