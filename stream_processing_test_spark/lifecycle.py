"""The reference's day-close lifecycle (EP2) as a public library call.

The reference's reporting thread (StreamTest.cpp:830-1055) runs, once
per UTC day: per-source rollup of the day's probe events → availability
score + resolution classification → program suffix-match join → upsert
into the source dimension → paginated markdown reports. The end-to-end
composition lived only inside tests/test_lifecycle.py; this module is
the same pipeline as a function a reference operator would actually
call, over reference-shaped DataFrames:

- ``dim``: live_stream_sources shape — id, url, target_matching,
  target_matching_id, video_resolution, resolution_type, flow_score
  (StreamTest.h:215-231);
- ``events``: ffmpeg_flow_detection shape — url_id, item,
  video_resolution, target_matching, ... (StreamTest.h:196-213);
- ``programs``: live_broadcast_details shape — id, stream_name
  (StreamTest.h:234-238).

Every step delegates to the same public operators the registered
queries use (scalars, merge_upsert, send_report_batches), so the
semantics pinned by the oracle gate and the lifecycle test are the
semantics a caller gets.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from stream_processing_test_spark.functions.scalars import (
    availability_score_sql,
    blank_to_null_sql,
    classify_resolution_sql,
    first_real_resolution_sql,
)
from stream_processing_test_spark.schemas import RESOLUTION_FHD_THRESHOLD
from stream_processing_test_spark.sinks.reports import (
    PROGRAM_REPORT_BATCH,
    WebhookSink,
    send_report_batches,
)
from stream_processing_test_spark.sinks.upsert import merge_upsert


def day_rollup_scores(events: DataFrame) -> DataFrame:
    """EP2 steps 1-2: per-source rollup (A3/A4 shape: detection/error
    counts + first real resolution) then availability score (A6) and
    resolution classification (F7). Mirrors StreamTest.cpp:840-999."""
    # A4's resolution fold (StreamTest.cpp:847-910): a real resolution
    # always beats '0x0'; with none, the day's LAST value stands, so
    # ('0x0', '') ends '' and the write-back keeps the stored value.
    # (created_time, value) orders the fold deterministically (the
    # reference's order is DB heap order; SURVEY §7 note).
    order = "struct(created_time, video_resolution)"
    rollup = events.groupBy("url_id").agg(
        *map(
            F.expr,
            (
                "count(*) AS n_detection",
                "sum(CASE WHEN item != 0 THEN 1 ELSE 0 END) AS n_error",
                first_real_resolution_sql("video_resolution", order)
                + " AS video_resolution",
                "min_by(target_matching, struct(created_time, target_matching))"
                " FILTER (WHERE target_matching IS NOT NULL) AS target_matching",
            ),
        )
    )
    return rollup.selectExpr(
        "url_id",
        "target_matching",
        "coalesce(video_resolution, '') AS video_resolution",
        classify_resolution_sql("video_resolution") + " AS resolution_type",
        availability_score_sql("n_detection", "n_error") + " AS flow_score",
    )


def match_programs(scored: DataFrame, programs: DataFrame) -> DataFrame:
    """EP2 step 3 (J3): suffix-match the program name — " FHD" for
    sources at or above FHD1080, " HD" below — first match wins,
    no-match keeps null (the caller's coalesce keeps the old id), per
    StreamTest.cpp:1001-1023. ``programs`` is the small
    live_broadcast_details dim → broadcast."""
    want_name = (
        "concat(target_matching, CASE WHEN resolution_type >= "
        f"{RESOLUTION_FHD_THRESHOLD} THEN ' FHD' ELSE ' HD' END) AS want_name"
    )
    # "First match wins": the reference stops at the first program whose
    # name matches (StreamTest.cpp:1007-1014). Its iteration order is
    # the unordered SELECT result; we pin min(id) per stream_name
    # (lexicographic — ids are strings in the reference schema) so a
    # duplicate program name yields ONE deterministic match instead of
    # multiplying rows through the join (which would also break
    # merge_upsert's unique-key precondition downstream).
    one_per_name = programs.groupBy("stream_name").agg(F.expr("min(id) AS id"))
    return (
        scored.selectExpr("*", want_name)
        .join(F.broadcast(one_per_name), F.expr("want_name = stream_name"), "left")
        .selectExpr(
            "url_id AS id",
            "video_resolution",
            "resolution_type",
            "flow_score",
            "id AS matched_program_id",
        )
    )


@dataclass
class DayCloseResult:
    updated_dim: DataFrame  # dimension after the upsert (S6/T8)
    scored: DataFrame  # per-source scores as written
    report_batches: int  # markdown pages posted to the sink


def day_close(
    dim: DataFrame,
    events: DataFrame,
    programs: DataFrame,
    report_sink: WebhookSink | None = None,
    batch_size: int = PROGRAM_REPORT_BATCH,
) -> DayCloseResult:
    """The full EP2 day-close: rollup → score/classify → program match
    → skip-empty/always-set upsert into ``dim`` → paginated markdown
    report through ``report_sink`` (S9/S10; skipped when None).

    Returns lazily-evaluated DataFrames — the caller materializes
    (write/collect) when ready; only the report collects (≤30-row
    pages, the documented driver-side exception)."""
    scored = day_rollup_scores(events)
    matched = match_programs(scored, programs)
    updated = merge_upsert(
        dim,
        matched.selectExpr(
            "id",
            # Skip-EMPTY write-back (StreamTest.cpp:151-171): the
            # reference's conditional SET skips only empty strings, so
            # '' -> NULL keeps the stored value while a day that ended
            # on a non-empty '0x0' IS written through — exactly the
            # reference's behavior. ``scored`` keeps '' for display
            # parity.
            blank_to_null_sql("video_resolution") + " AS video_resolution",
            "resolution_type",
            "flow_score",
            # J3's write-back: a matched program id replaces the stored
            # target_matching_id; no-match (NULL) keeps the old value
            # via merge_upsert's coalesce — StreamTest.cpp:1016-1028.
            "matched_program_id AS target_matching_id",
        ),
        "id",
        always_set=("flow_score", "resolution_type"),
    )
    n_batches = 0
    if report_sink is not None:
        # The report collects ``updated`` and the caller will
        # materialize it again (write/collect) — checkpoint once so the
        # events scan + merge run a single time, not per consumer.
        updated = updated.localCheckpoint(eager=True)
        # The pages are collected anyway: sort on one partition instead
        # of a range-partitioned global sort (its sampling job and
        # shuffle). Ids are unique after the merge, so the order is the
        # same.
        report = (
            updated.select("id", "flow_score")
            .coalesce(1)
            .sortWithinPartitions("id")
        )
        n_batches = send_report_batches(
            report, report_sink, batch_size=batch_size
        )
    return DayCloseResult(
        updated_dim=updated, scored=matched, report_batches=n_batches
    )
