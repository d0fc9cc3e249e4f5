"""Per-source rollups and daily scoring — the reference's reporting
thread (EP2, StreamTest.cpp:830-1055) as declarative aggregations.

The reference rebuilds an in-memory ``std::map<url_id, OutStreamInfo>``
every 120 minutes by looping over the day's events: pivoted per-error
counters (A3, StreamTest.cpp:912-936), first-non-empty attribute rollup
(A4, :847-910), then a derived availability score (A6, :985-996).
Here each becomes one ``groupBy().agg()`` — partial aggregation
map-side, a single shuffle on the group key, no driver-side loops.

Determinism note (SURVEY §7 hard parts): the reference's
"first non-empty" depends on MySQL heap order; we define it as
"non-null value with the smallest event_id" (``min_by`` + FILTER),
which is deterministic and shuffle-friendly (no window sort needed).

Synthetic mapping (FIXTURES.md §2): events.user_id ⇒ url_id;
event_type ⇒ error-class (``'error'`` ⇒ item != 0); ts ⇒ created_time;
props ⇒ the dynamic JSON envelope.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from stream_processing_test_spark.functions.scalars import (
    availability_score,
    classify_resolution,
    crosses_next_utc_midnight_col,
    first_real_resolution,
)
from stream_processing_test_spark.registry import register
from stream_processing_test_spark.tables import load

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

_DAY_CLOSE_ORACLE = """
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CASE WHEN ts + INTERVAL 120 MINUTE
                     >= date_trunc('day', ts) + INTERVAL 1 DAY
                THEN 1 ELSE 0 END) AS BIGINT) AS n_last_loop
FROM events GROUP BY date_trunc('day', ts)
"""


@register("day_close_trigger", oracle=_DAY_CLOSE_ORACLE, survey_ops="F3,F1,A8", tier=0)
def day_close_trigger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3: the reference's day-close predicate ``isLastLoop``
    (StreamTest.cpp:47-70) — "does the next 120-minute sleep reach or
    cross UTC midnight" — evaluated per event timestamp and rolled up
    per day: how many of the day's events fall in the final report
    cycle. The predicate itself is
    ``functions.scalars.crosses_next_utc_midnight_col`` (whole-stage
    codegen); the Python twin drives batch day-close loops."""
    ev = load(spark, sf_dir, "events")
    return ev.groupBy(
        F.date_format(F.date_trunc("DAY", "ts"), "yyyy-MM-dd").alias("day")
    ).agg(
        F.count("*").alias("n_events"),
        F.sum(
            crosses_next_utc_midnight_col(F.col("ts"), 120).cast("long")
        ).alias("n_last_loop"),
    )


_WINDOW_ORACLE = """
SELECT CAST(event_id AS BIGINT) AS event_id,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
       CAST(user_id AS BIGINT) AS user_id,
       event_type,
       ROUND(value, 6) AS value
FROM events
WHERE ts BETWEEN TIMESTAMP '2024-01-10 00:00:00' AND TIMESTAMP '2024-01-20 00:00:00'
"""


@register("records_in_window", oracle=_WINDOW_ORACLE, survey_ops="S3,P2,P5,F1,F2")
def records_in_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-range fact scan (S3): the reference's
    ``SELECT ... WHERE created_time BETWEEN start AND end``
    (StreamTest.cpp:370-374). The BETWEEN predicate and the 5-column
    projection both push down to the parquet scan; on a
    date-partitioned lake this is partition pruning."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.filter(
            F.col("ts").between(
                F.lit("2024-01-10 00:00:00").cast("timestamp"),
                F.lit("2024-01-20 00:00:00").cast("timestamp"),
            )
        )
        .select(
            "event_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
            "user_id",
            "event_type",
            F.round("value", 6).alias("value"),
        )
    )


def _pivot_counts():
    """A3: one counter column per event type — the analog of the
    reference's 16 per-error-code counters (ErrorItemInfo,
    StreamTest.h:240-258), expressed as SUM(CASE WHEN ...) so a single
    aggregate pass produces all counters (no .pivot() second pass)."""
    return [
        F.sum(F.when(F.col("event_type") == t, 1).otherwise(0)).alias(f"n_{t}")
        for t in EVENT_TYPES
    ]


_ROLLUP_ORACLE = """
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(SUM(CASE WHEN event_type = 'click'    THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
       CAST(SUM(CASE WHEN event_type = 'error'    THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
       CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
       CAST(SUM(CASE WHEN event_type = 'signup'   THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
       CAST(SUM(CASE WHEN event_type = 'view'     THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
       CAST(COUNT(*) AS BIGINT) AS n_detection,
       arg_min(event_type, event_id) FILTER (WHERE value >= 0.5) AS first_good_type,
       ROUND(arg_min(value, event_id) FILTER (WHERE value >= 0.5), 6) AS first_good_value
FROM events
GROUP BY user_id
"""


@register("per_source_rollup", oracle=_ROLLUP_ORACLE, survey_ops="A3,A4,A8,P6,F9")
def per_source_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source rollup (A3+A4): pivoted counters + first-non-empty
    attributes, one shuffle.

    ``first_good_*`` mirrors the reference's first-non-empty attribute
    rollup (StreamTest.cpp:847-910): among qualifying rows (here
    value >= 0.5, standing in for "attribute not empty"), take the one
    with the smallest event_id. ``min_by`` aggregates without a sort —
    at 100 TB this matters: no per-group window ordering, pure
    map-side-combinable aggregation."""
    ev = load(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        *_pivot_counts(),
        F.count("*").alias("n_detection"),
        F.expr(
            "min_by(event_type, event_id) FILTER (WHERE value >= 0.5)"
        ).alias("first_good_type"),
        F.round(
            F.expr("min_by(value, event_id) FILTER (WHERE value >= 0.5)"), 6
        ).alias("first_good_value"),
    )


SCORES_ORACLE = """
SELECT CAST(user_id AS BIGINT) AS user_id,
       strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
       CAST(COUNT(*) AS BIGINT) AS n_detection,
       CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
       CAST(GREATEST(floor(CAST(COUNT(*) - SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS DOUBLE)
                           / COUNT(*) * 100), 0) AS INT) AS flow_score
FROM events
GROUP BY user_id, date_trunc('day', ts)
"""


@register("daily_scores", oracle=SCORES_ORACLE, survey_ops="A6,A8,T2,F1,F2,F5,P7")
def daily_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily availability score (A6, StreamTest.cpp:985-996):
    ``score = int((detections - errors) / detections * 100)``, clamped
    at 0, per source per UTC day (the reference's tumbling daily window
    T2); the arithmetic is ``functions.scalars.availability_score``."""
    ev = load(spark, sf_dir, "events")
    errors = F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
    detections = F.count("*")
    return (
        ev.groupBy(
            "user_id", F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day")
        )
        .agg(
            detections.alias("n_detection"),
            errors.alias("n_error"),
            availability_score(detections, errors).alias("flow_score"),
        )
    )


_LABELS_ORACLE = """
WITH error_dim(event_type, code, label) AS (
    VALUES ('click',    0,    'success'),
           ('view',     0,    'success'),
           ('signup',   0,    'success'),
           ('purchase', 0,    'success'),
           ('error',    1001, 'failed to open input stream')
)
SELECT d.label AS label, CAST(d.code AS INT) AS code,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users
FROM events e JOIN error_dim d ON e.event_type = d.event_type
GROUP BY d.label, d.code
"""


@register("error_labels", oracle=_LABELS_ORACLE, survey_ops="J4,A5,A8,F12")
def error_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-code → message lookup (J4): broadcast join against a
    literal taxonomy dimension (the reference's StreamErrorMap,
    StreamTest.h:59-77, consulted as a hard-coded C++ map). A literal
    dim + broadcast join keeps the lookup JVM-side and shuffle-free."""
    from stream_processing_test_spark.tables import literal_df

    ev = load(spark, sf_dir, "events")
    rows = [
        ("click", 0, "success"),
        ("view", 0, "success"),
        ("signup", 0, "success"),
        ("purchase", 0, "success"),
        ("error", 1001, "failed to open input stream"),
    ]
    dim = literal_df(spark, rows, "event_type STRING, code INT, label STRING")
    return (
        ev.join(F.broadcast(dim), "event_type")
        .groupBy("label", "code")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


# The 'WxH' test column both resolution queries derive from the events
# envelope's k: the value of the first bound k is under, else _WXH_ELSE.
_WXH_LADDER = (
    (10, "0x0"),
    (25, ""),
    (45, "1920x1080"),
    (60, "1280x720"),
    (70, "1111x999"),
    (80, "3840x2160"),
)
_WXH_ELSE = "640x480"
_WXH_SQL = (
    "CASE "
    + "\n                ".join(f"WHEN k < {b} THEN '{v}'" for b, v in _WXH_LADDER)
    + f"\n                ELSE '{_WXH_ELSE}' END"
)


def _wxh(k: Column) -> Column:
    """The Spark twin of ``_WXH_SQL``."""
    out = F  # F.when opens the chain, Column.when extends it
    for bound, wxh in _WXH_LADDER:
        out = out.when(k < bound, wxh)
    return out.otherwise(_WXH_ELSE)


_RESOLUTION_ORACLE = f"""
WITH derived AS (
    SELECT {_WXH_SQL} AS video_resolution
    FROM (SELECT CAST(regexp_extract(props, '"k": (\\d+)', 1) AS INT) AS k FROM events)
), classified AS (
    SELECT video_resolution,
           CASE WHEN video_resolution IN ('', '0x0') THEN 1
                WHEN video_resolution = '640x480'   THEN 8
                WHEN video_resolution = '1280x720'  THEN 15
                WHEN video_resolution = '1920x1080' THEN 17
                WHEN video_resolution = '3840x2160' THEN 21
                ELSE 27 END AS resolution_type
    FROM derived
)
SELECT video_resolution, CAST(resolution_type AS INT) AS resolution_type,
       CAST(resolution_type >= 17 AS BOOLEAN) AS is_fhd_or_better,
       CAST(COUNT(*) AS BIGINT) AS n
FROM classified
GROUP BY video_resolution, resolution_type
"""


@register(
    "resolution_classify", oracle=_RESOLUTION_ORACLE, survey_ops="F7,F8,F12,P6"
)
def resolution_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resolution classification (F7): 'WxH' → ordinal via the literal
    resolution map with UNKNOWN('', '0x0') and CUSTOM fallbacks
    (reference getResolutionType, StreamTest.h:181-194), plus the
    >= FHD1080 predicate (F8, ordinal >= 17, StreamTest.cpp:1001-1002).

    The map lookup is a constant-folded ``create_map`` expression —
    no join, no shuffle beyond the final count. A 'WxH' test column is
    derived deterministically from the events JSON envelope."""
    from stream_processing_test_spark.schemas import RESOLUTION_FHD_THRESHOLD

    ev = load(spark, sf_dir, "events")
    k = F.regexp_extract("props", r'"k": (\d+)', 1).cast("int")
    wxh = _wxh(k)
    classified = ev.select(
        wxh.alias("video_resolution"),
        classify_resolution(wxh).alias("resolution_type"),
    )
    return classified.groupBy("video_resolution", "resolution_type").agg(
        F.count("*").alias("n")
    ).select(
        "video_resolution",
        "resolution_type",
        (F.col("resolution_type") >= RESOLUTION_FHD_THRESHOLD).alias(
            "is_fhd_or_better"
        ),
        "n",
    )


_ATTR_ORACLE = f"""
WITH attrs AS (
    SELECT user_id, event_id,
           {_WXH_SQL} AS video_resolution,
           CASE WHEN k % 7 < 2 THEN '' ELSE 'proto' || CAST(k % 7 AS VARCHAR) END AS protocol,
           CASE WHEN k % 5 = 0 THEN '' ELSE CAST(400 + k * 3 AS VARCHAR) END AS bitrate
    FROM (SELECT user_id, event_id,
                 CAST(regexp_extract(props, '"k": (\\d+)', 1) AS INT) AS k
          FROM events)
)
SELECT CAST(user_id AS BIGINT) AS user_id,
       COALESCE(arg_min(protocol, event_id) FILTER (WHERE protocol <> ''), '') AS protocol,
       COALESCE(arg_min(bitrate, event_id) FILTER (WHERE bitrate <> ''), '') AS bitrate,
       COALESCE(arg_min(video_resolution, event_id)
                  FILTER (WHERE video_resolution <> '' AND video_resolution <> '0x0'),
                arg_max(video_resolution, event_id)) AS video_resolution,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM attrs GROUP BY user_id
"""


@register(
    "attribute_rollup", oracle=_ATTR_ORACLE, survey_ops="A4,A8,F9,P6", tier=0
)
def attribute_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 end-to-end: the reference's first-non-empty attribute rollup
    (StreamTest.cpp:847-910) over several attributes at once, INCLUDING
    the resolution special case (:898-910): a stored ``'0x0'`` is
    force-overwritten by the NEXT row's value *even when that value is
    empty* — so the fold's state stays in {'', '0x0'} (each row
    overwrites) until the first real resolution freezes it. Closed
    form: the first value that is neither '' nor '0x0'; if none ever
    arrives, the LAST row's value. Sequence ('0x0', '') therefore ends
    as '' — matching the reference's sequential overwrite, not a
    first-non-empty preference for '0x0'. Row order is proxied by
    event_id (the reference iterates MySQL result order).

    Attributes derive deterministically from the JSON envelope (same
    ``k`` extraction as resolution_classify). "First" is the non-empty
    value with the smallest event_id — ``min_by`` + FILTER, a pure
    map-side-combinable aggregation: no window sort, one shuffle on
    user_id, identical at 100 TB."""
    ev = load(spark, sf_dir, "events")
    k = F.regexp_extract("props", r'"k": (\d+)', 1).cast("int")
    res = (
        F.when(k < 10, "0x0")
        .when(k < 25, "")
        .when(k < 45, "1920x1080")
        .when(k < 60, "1280x720")
        .when(k < 70, "1111x999")
        .when(k < 80, "3840x2160")
        .otherwise("640x480")
    )
    proto = F.when(k % 7 < 2, "").otherwise(
        F.concat(F.lit("proto"), (k % 7).cast("string"))
    )
    bitrate = F.when(k % 5 == 0, "").otherwise((400 + k * 3).cast("string"))
    attrs = ev.select(
        "user_id",
        "event_id",
        res.alias("video_resolution"),
        proto.alias("protocol"),
        bitrate.alias("bitrate"),
    )
    first_nonempty = (
        lambda c: f"min_by({c}, event_id) FILTER (WHERE {c} <> '')"
    )
    return attrs.groupBy("user_id").agg(
        F.coalesce(F.expr(first_nonempty("protocol")), F.lit("")).alias(
            "protocol"
        ),
        F.coalesce(F.expr(first_nonempty("bitrate")), F.lit("")).alias(
            "bitrate"
        ),
        first_real_resolution(
            F.col("video_resolution"), F.col("event_id")
        ).alias("video_resolution"),
        F.count("*").alias("n_events"),
    )
