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
    availability_score,
    blank_to_null,
    classify_resolution,
    first_real_resolution,
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
    order = F.struct("created_time", "video_resolution")
    rollup = events.groupBy("url_id").agg(
        F.count("*").alias("n_detection"),
        F.sum(F.when(F.col("item") != 0, 1).otherwise(0)).alias("n_error"),
        first_real_resolution(F.col("video_resolution"), order).alias(
            "video_resolution"
        ),
        F.expr(
            "min_by(target_matching, struct(created_time, target_matching)) "
            "FILTER (WHERE target_matching IS NOT NULL)"
        ).alias("target_matching"),
    )
    return rollup.select(
        "url_id",
        "target_matching",
        F.coalesce(F.col("video_resolution"), F.lit("")).alias(
            "video_resolution"
        ),
        classify_resolution(F.col("video_resolution")).alias("resolution_type"),
        availability_score(F.col("n_detection"), F.col("n_error")).alias(
            "flow_score"
        ),
    )


def match_programs(scored: DataFrame, programs: DataFrame) -> DataFrame:
    """EP2 step 3 (J3): suffix-match the program name — " FHD" for
    sources at or above FHD1080, " HD" below — first match wins,
    no-match keeps null (the caller's coalesce keeps the old id), per
    StreamTest.cpp:1001-1023. ``programs`` is the small
    live_broadcast_details dim → broadcast."""
    want_name = F.concat(
        F.col("target_matching"),
        F.when(
            F.col("resolution_type") >= RESOLUTION_FHD_THRESHOLD, F.lit(" FHD")
        ).otherwise(F.lit(" HD")),
    )
    # "First match wins": the reference stops at the first program whose
    # name matches (StreamTest.cpp:1007-1014). Its iteration order is
    # the unordered SELECT result; we pin min(id) per stream_name
    # (lexicographic — ids are strings in the reference schema) so a
    # duplicate program name yields ONE deterministic match instead of
    # multiplying rows through the join (which would also break
    # merge_upsert's unique-key precondition downstream).
    one_per_name = programs.groupBy("stream_name").agg(
        F.min("id").alias("id")
    )
    return (
        scored.withColumn("want_name", want_name)
        .join(
            F.broadcast(one_per_name),
            F.col("want_name") == one_per_name["stream_name"],
            "left",
        )
        .select(
            F.col("url_id").alias("id"),
            "video_resolution",
            "resolution_type",
            "flow_score",
            one_per_name["id"].alias("matched_program_id"),
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
        matched.select(
            "id",
            # Skip-EMPTY write-back (StreamTest.cpp:151-171): the
            # reference's conditional SET skips only empty strings, so
            # '' -> NULL keeps the stored value while a day that ended
            # on a non-empty '0x0' IS written through — exactly the
            # reference's behavior. ``scored`` keeps '' for display
            # parity.
            blank_to_null(F.col("video_resolution")).alias(
                "video_resolution"
            ),
            "resolution_type",
            "flow_score",
            # J3's write-back: a matched program id replaces the stored
            # target_matching_id; no-match (NULL) keeps the old value
            # via merge_upsert's coalesce — StreamTest.cpp:1016-1028.
            F.col("matched_program_id").alias("target_matching_id"),
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
        report = updated.select("id", "flow_score").orderBy("id")
        n_batches = send_report_batches(
            report, report_sink, batch_size=batch_size
        )
    return DayCloseResult(
        updated_dim=updated, scored=matched, report_batches=n_batches
    )
