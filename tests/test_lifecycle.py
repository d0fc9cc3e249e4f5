"""End-to-end reference-lifecycle test (SURVEY.md §3): the full
EP1 → EP2 → EP3 pipeline on reference-shaped data.

EP1  probe the source dimension (one outcome event per source),
EP2  aggregate the day's events into per-source rollups, score,
     classify resolution, match program names, upsert the dimension,
     and emit paginated markdown reports,
EP3  events carry the probe's JSON-envelope fields.

Everything runs through the engine's public modules — this is the
"could the reference's operator switch to this repo" check.
"""

from __future__ import annotations

import sys
from datetime import datetime
from pathlib import Path

import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F

from stream_processing_test_spark.schemas import (
    RESOLUTION_FHD_THRESHOLD,
    RESOLUTION_UNKNOWN,
)
from stream_processing_test_spark.sinks.reports import RecordingSink
from stream_processing_test_spark.sources.probe import probe_sources

STAMP = datetime(2024, 1, 15, 8, 0, 0)
N_SOURCES = 120


def _dimension(spark):
    """Reference-shaped live_stream_sources dimension."""
    ids = list(range(N_SOURCES))
    return spark.createDataFrame(
        pd.DataFrame(
            {
                "id": [str(i) for i in ids],
                "url": [f"http://cdn{i % 3}/stream/{i}" for i in ids],
                "target_matching": [f"Channel {i % 10}" for i in ids],
                "target_matching_id": [str(i % 10) for i in ids],
                "video_resolution": [""] * N_SOURCES,
                "resolution_type": [RESOLUTION_UNKNOWN] * N_SOURCES,
                "flow_score": [0] * N_SOURCES,
            }
        ),
        "id STRING, url STRING, target_matching STRING, target_matching_id STRING, "
        "video_resolution STRING, resolution_type INT, flow_score INT",
    )


def _programs(spark):
    """live_broadcast_details: program names with FHD/HD variants."""
    rows = []
    for i in range(10):
        rows.append((str(100 + i), f"Channel {i} FHD"))
        rows.append((str(200 + i), f"Channel {i} HD"))
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["id", "stream_name"]),
        "id STRING, stream_name STRING",
    )


def test_full_lifecycle(spark):
    """EP1 probe fan-out, then the public ``lifecycle.day_close``
    composition (EP2 steps 1-5) — the "could the reference's operator
    switch to this repo" check, driven through the library surface."""
    from stream_processing_test_spark.lifecycle import day_close

    dim = _dimension(spark)

    # ---- EP1/EP3: probe fan-out -> one event per source -------------
    events = probe_sources(dim, created_time=STAMP)
    assert events.count() == N_SOURCES

    # ---- EP2 steps 1-5 via the library call -------------------------
    sink = RecordingSink()
    result = day_close(dim, events, _programs(spark), report_sink=sink,
                       batch_size=30)

    out = result.scored.collect()
    assert len(out) == N_SOURCES
    # every probed source got a score in [0, 100]
    assert all(0 <= r["flow_score"] <= 100 for r in out)
    # FHD-or-better sources matched an " FHD" program id (100-109)
    for r in out:
        if r["matched_program_id"] is not None:
            prefix = 100 if r["resolution_type"] >= RESOLUTION_FHD_THRESHOLD else 200
            assert prefix <= int(r["matched_program_id"]) < prefix + 10

    # ---- upsert write-back (S6/T8) -----------------------------------
    urows = {r["id"]: r for r in result.updated_dim.collect()}
    assert len(urows) == N_SOURCES
    mrows = {r["id"]: r for r in out}
    for i, r in urows.items():
        assert r["flow_score"] == mrows[i]["flow_score"]
        assert r["url"].startswith("http://cdn")  # untouched column survives
        # J3 write-back: matched sources carry the program id; unmatched
        # keep the dimension's previous target_matching_id
        if mrows[i]["matched_program_id"] is not None:
            assert r["target_matching_id"] == mrows[i]["matched_program_id"]
        else:
            assert r["target_matching_id"] == str(int(i) % 10)

    # ---- paginated markdown report (S9/S10/W2) -----------------------
    assert result.report_batches == 4  # 120 rows / 30
    assert len(sink.messages) == 4
    assert all(m.startswith("| id | flow_score |") for m in sink.messages)


def test_day_close_blank_day_keeps_stored_resolution(spark):
    """Resolution write-back parity with the reference:

    - skip-EMPTY (StreamTest.cpp:151-171): a day whose events carry
      only '' must NOT blank the dimension's stored value;
    - a real observation always beats a provisional '0x0' from the
      same day (StreamTest.cpp:898-910);
    - a day that saw ONLY '0x0' writes it through — the reference's
      conditional SET skips empty strings only, and '0x0' is
      non-empty (StreamTest.cpp:151-171)."""
    import pandas as pd

    from stream_processing_test_spark.lifecycle import day_close
    from stream_processing_test_spark.schemas import RESOLUTION_UNKNOWN

    dim = spark.createDataFrame(
        pd.DataFrame(
            {
                "id": ["1", "2"],
                "url": ["http://cdn0/1", "http://cdn0/2"],
                "target_matching": ["Channel 1", "Channel 2"],
                "target_matching_id": ["1", "2"],
                "video_resolution": ["1920x1080", ""],
                "resolution_type": [17, RESOLUTION_UNKNOWN],
                "flow_score": [90, 0],
            }
        ),
        "id STRING, url STRING, target_matching STRING, "
        "target_matching_id STRING, video_resolution STRING, "
        "resolution_type INT, flow_score INT",
    )
    events = spark.createDataFrame(
        pd.DataFrame(
            {
                "url_id": ["1", "1", "2", "2"],
                "item": [1001, 0, 0, 0],
                "video_resolution": ["", "", "0x0", "1280x720"],
                "target_matching": [
                    "Channel 1",
                    "Channel 1",
                    "Channel 2",
                    "Channel 2",
                ],
                "created_time": [
                    "2024-01-15 08:00:00",
                    "2024-01-15 08:00:00",
                    "2024-01-15 08:00:00",
                    "2024-01-15 09:00:00",
                ],
            }
        )
    )
    result = day_close(dim, events, _programs(spark))
    rows = {r["id"]: r for r in result.updated_dim.collect()}
    # source 1: only blank observations today -> stored 1920x1080 kept
    assert rows["1"]["video_resolution"] == "1920x1080"
    # source 2: the real observation beats the earlier '0x0'
    assert rows["2"]["video_resolution"] == "1280x720"
    # scores always written (always_set), even for the blank-day source
    assert rows["1"]["flow_score"] == 50
    assert rows["2"]["flow_score"] == 100

    # a day that saw ONLY '0x0' writes it through (reference parity:
    # the conditional SET skips empty strings only)
    only_zero = spark.createDataFrame(
        pd.DataFrame(
            {
                "url_id": ["1"],
                "item": [0],
                "video_resolution": ["0x0"],
                "target_matching": ["Channel 1"],
                "created_time": ["2024-01-16 08:00:00"],
            }
        )
    )
    result2 = day_close(dim, only_zero, _programs(spark))
    rows2 = {r["id"]: r for r in result2.updated_dim.collect()}
    assert rows2["1"]["video_resolution"] == "0x0"


def test_day_close_zero_then_blank_keeps_stored_resolution(spark):
    """A4's fold overwrites a provisional '0x0' with the next row's
    value, empty included (StreamTest.cpp:898-910), so a day that saw
    '0x0' then '' ends on ''. The skip-empty write-back then keeps the
    dimension's stored resolution instead of writing '0x0'."""
    from stream_processing_test_spark.lifecycle import day_close

    dim = _dimension(spark).filter(F.col("id") == "1").withColumn(
        "video_resolution", F.lit("1920x1080")
    )
    events = spark.createDataFrame(
        pd.DataFrame(
            {
                "url_id": ["1", "1"],
                "item": [0, 0],
                "video_resolution": ["0x0", ""],
                "target_matching": ["Channel 1", "Channel 1"],
                "created_time": ["2024-01-15 08:00:00", "2024-01-15 09:00:00"],
            }
        )
    )
    result = day_close(dim, events, _programs(spark))
    assert result.scored.first()["video_resolution"] == ""
    row = result.updated_dim.first()
    assert row["video_resolution"] == "1920x1080"
    assert row["flow_score"] == 100


def test_match_programs_duplicate_name_first_match_wins(spark):
    """J3 'first match wins' (StreamTest.cpp:1007-1014): a duplicate
    program name must yield ONE deterministic match (min id), never
    multiply scored rows through the join."""
    import pandas as pd

    from stream_processing_test_spark.lifecycle import match_programs

    scored = spark.createDataFrame(
        pd.DataFrame(
            {
                "url_id": ["7"],
                "target_matching": ["Channel 3"],
                "video_resolution": ["1920x1080"],
                "resolution_type": [17],
                "flow_score": [88],
            }
        )
    )
    programs = spark.createDataFrame(
        pd.DataFrame(
            {"id": ["150", "100"], "stream_name": ["Channel 3 FHD"] * 2}
        )
    )
    out = match_programs(scored, programs).collect()
    assert len(out) == 1
    assert out[0]["matched_program_id"] == "100"  # min id, deterministic
