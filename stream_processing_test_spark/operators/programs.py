"""Dimension-side queries: active-source scan, failing-program
detection, and the suffix-match program join.

Reference queries re-expressed (SURVEY.md §2.3):
- ``GetStreamInfoSqlDbData`` (S1+P1, StreamTest.cpp:667-741): filtered
  dimension scan with projection.
- ``GetValidStreamNames`` (J1+J2+A2+A5, StreamTest.cpp:626-638):
  dim ⋈ dim join plus an ``IN (subquery ... HAVING MAX(score) <= 60)``
  semi-join — the "every source of this program is failing" report.
- program-name suffix match (J3, StreamTest.cpp:1004-1023): the
  hand-rolled nested loop matching ``name + (" FHD"|" HD")`` against
  the program dimension, first match wins, unmatched keeps old id —
  re-expressed as a derived-key broadcast left join + coalesce.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stream_processing_test_spark.functions.scalars import availability_score
from stream_processing_test_spark.registry import register
from stream_processing_test_spark.tables import load

_ACTIVE_ORACLE = """
SELECT CAST(c_custkey AS BIGINT) AS id,
       c_name AS name,
       c_mktsegment AS segment,
       CAST(c_nationkey AS INT) AS program_id
FROM customer
WHERE c_acctbal > 0 AND c_mktsegment <> 'MACHINERY' AND c_custkey >= 37
"""


@register("active_sources", oracle=_ACTIVE_ORACLE, survey_ops="S1,P1,P5")
def active_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered dimension scan (S1+P1): the reference's
    ``SELECT id,url,target_matching,target_matching_id FROM
    live_stream_sources WHERE is_del=0 AND stream_type != ... AND
    target_matching_id >= 237``. Both the conjunctive predicate and the
    4-column projection reach the parquet scan (PushedFilters +
    ReadSchema pruning)."""
    c = load(spark, sf_dir, "customer")
    return c.filter(
        (F.col("c_acctbal") > 0)
        & (F.col("c_mktsegment") != "MACHINERY")
        & (F.col("c_custkey") >= 37)
    ).select(
        F.col("c_custkey").alias("id"),
        F.col("c_name").alias("name"),
        F.col("c_mktsegment").alias("segment"),
        F.col("c_nationkey").alias("program_id"),
    )


FAILING_SCORE_MAX = 82  # "every source of this program scores <= 82"

_FAILING_ORACLE = f"""
WITH scores AS (
    SELECT user_id,
           CAST(user_id % 25 AS INT) AS program_id,
           CAST(floor(CAST(COUNT(*) - SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS DOUBLE)
                      / COUNT(*) * 100) AS INT) AS flow_score
    FROM events
    GROUP BY user_id
)
SELECT DISTINCT n.n_name AS program_name
FROM scores s
JOIN nation n ON s.program_id = n.n_nationkey
WHERE s.program_id IN (
    SELECT program_id FROM scores
    GROUP BY program_id
    HAVING MAX(flow_score) <= {FAILING_SCORE_MAX}
)
"""


@register("failing_programs", oracle=_FAILING_ORACLE, survey_ops="S2,J1,J2,A2,A5,A6,P7")
def failing_programs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """"All sources of this program are failing" (GetValidStreamNames,
    StreamTest.cpp:626-638): per-source availability scores (A6) →
    group-max + HAVING (A2) → semi-join (J2 — the reference's
    ``IN (subquery)``, planned as left-semi) → broadcast program-dim
    join (J1) → DISTINCT (A5). Program key = user_id % 25, joined to
    nation as the program-name dimension.

    Scale: the fact table collapses to per-source scores in one
    shuffle; the HAVING side further collapses to program keys; the
    semi-join build side is tiny and broadcast. MAX <= threshold keeps
    the reference's inclusive edge (StreamTest.cpp:637)."""
    ev = load(spark, sf_dir, "events")
    nation = load(spark, sf_dir, "nation")

    errors = F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
    detections = F.count("*")
    scores = ev.groupBy("user_id").agg(
        availability_score(detections, errors).alias("flow_score"),
    ).select((F.col("user_id") % 25).cast("int").alias("program_id"), "flow_score")

    bad_programs = (
        scores.groupBy("program_id")
        .agg(F.max("flow_score").alias("mx"))
        .filter(F.col("mx") <= FAILING_SCORE_MAX)
        .select("program_id")
    )
    return (
        scores.join(F.broadcast(bad_programs), "program_id", "left_semi")
        .join(F.broadcast(nation), scores.program_id == nation.n_nationkey)
        .select(F.col("n_name").alias("program_name"))
        .distinct()
    )


_MATCH_ORACLE = """
WITH dim AS (
    SELECT CAST(n_nationkey * 2 AS BIGINT) AS dim_id, n_name || ' FHD' AS stream_name
    FROM nation WHERE n_nationkey < 12
    UNION ALL
    SELECT CAST(n_nationkey * 2 + 1 AS BIGINT) AS dim_id, n_name || ' HD' AS stream_name
    FROM nation WHERE n_nationkey < 18
), src AS (
    SELECT c.c_custkey AS id, c.c_nationkey AS old_program_id,
           n.n_name || CASE WHEN c.c_acctbal >= 5000 THEN ' FHD' ELSE ' HD' END AS want_name
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
)
SELECT CAST(s.id AS BIGINT) AS id,
       s.want_name AS want_name,
       CAST(COALESCE(d.dim_id, s.old_program_id) AS BIGINT) AS matched_id,
       CAST(d.dim_id IS NOT NULL AS BOOLEAN) AS matched
FROM src s LEFT JOIN dim d ON s.want_name = d.stream_name
"""


@register("program_match", oracle=_MATCH_ORACLE, survey_ops="S2,J3,F4,F8,F9,F12")
def program_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suffix-match program join (J3): build the lookup key as
    ``name + (" FHD" if hi-res else " HD")`` (F4 concat + the F8
    >=1080p predicate, here c_acctbal >= 5000), broadcast left join
    against the program dimension, and keep the old id when unmatched
    (coalesce — mirrors StreamTest.cpp:1016-1023 where a failed lookup
    leaves the previous target_matching_id in place).

    The reference does this as an O(sources × programs) nested loop on
    the driver; the broadcast hash join is the scale-correct form. The
    dim is deduplicated on the join key first ("first match wins" —
    join keys here are unique by construction)."""
    customer = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")

    fhd = (
        nation.filter(F.col("n_nationkey") < 12)
        .select(
            (F.col("n_nationkey").cast("long") * 2).alias("dim_id"),
            F.concat(F.col("n_name"), F.lit(" FHD")).alias("stream_name"),
        )
    )
    hd = (
        nation.filter(F.col("n_nationkey") < 18)
        .select(
            (F.col("n_nationkey").cast("long") * 2 + 1).alias("dim_id"),
            F.concat(F.col("n_name"), F.lit(" HD")).alias("stream_name"),
        )
    )
    dim = fhd.unionAll(hd)

    src = (
        customer.join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .select(
            F.col("c_custkey").alias("id"),
            F.col("c_nationkey").alias("old_program_id"),
            F.concat(
                F.col("n_name"),
                F.when(F.col("c_acctbal") >= 5000, F.lit(" FHD")).otherwise(
                    F.lit(" HD")
                ),
            ).alias("want_name"),
        )
    )
    return (
        src.join(F.broadcast(dim), src.want_name == dim.stream_name, "left")
        .select(
            "id",
            "want_name",
            F.coalesce(F.col("dim_id"), F.col("old_program_id").cast("long")).alias(
                "matched_id"
            ),
            F.col("dim_id").isNotNull().alias("matched"),
        )
    )
