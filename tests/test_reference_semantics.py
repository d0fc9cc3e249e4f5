"""Edge-case unit tests for reference-parity semantics (SURVEY.md §5.3)
on tiny in-memory reference-domain fixtures — the cases a bulk oracle
comparison may not hit.
"""

from __future__ import annotations

import sys
from pathlib import Path

import pandas as pd
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F

from stream_processing_test_spark.functions.scalars import (
    blank_to_null,
    classify_resolution,
    crosses_next_utc_midnight,
    crosses_next_utc_midnight_col,
    first_real_resolution,
    parse_bitrate_kbps,
)
from stream_processing_test_spark.schemas import (
    RESOLUTION_CUSTOM,
    RESOLUTION_FHD_THRESHOLD,
    RESOLUTION_MAP,
    RESOLUTION_UNKNOWN,
)


def _df(spark, rows, schema):
    return spark.createDataFrame(pd.DataFrame(rows), schema=schema)


# ---------------------------------------------------------------------------
# F7 — resolution classification (getResolutionType, StreamTest.h:181-194)
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "raw,expected",
    [
        ("", RESOLUTION_UNKNOWN),
        ("0x0", RESOLUTION_UNKNOWN),
        ("1920x1080", 17),
        ("1280x720", 15),
        ("3840x2160", 21),
        ("1111x999", RESOLUTION_CUSTOM),  # non-standard -> CUSTOM
        ("15360x8640", 26),
    ],
)
def test_classify_resolution(spark, raw, expected):
    df = _df(spark, {"r": [raw]}, "r STRING")
    out = df.select(classify_resolution(F.col("r")).alias("t")).head()
    assert out["t"] == expected


def test_fhd_threshold_matches_reference_enum(spark):
    # ordinal >= 17 iff the resolution is 1080p or better
    # (StreamTest.cpp:1001-1002)
    assert RESOLUTION_MAP["1920x1080"] == RESOLUTION_FHD_THRESHOLD
    assert RESOLUTION_MAP["1366x768"] < RESOLUTION_FHD_THRESHOLD
    assert RESOLUTION_MAP["2048x1080"] > RESOLUTION_FHD_THRESHOLD


# ---------------------------------------------------------------------------
# §1.3 — empty-string / NULL sentinel round-trip
# ---------------------------------------------------------------------------


def test_blank_to_null_roundtrip(spark):
    df = _df(spark, {"s": ["", "x", None]}, "s STRING")
    out = df.select(blank_to_null(F.col("s")).alias("n")).collect()
    assert [r["n"] for r in out] == [None, "x", None]


# ---------------------------------------------------------------------------
# String-typed numerics — bitrate "1234 kb/s" (StreamTest.cpp:1465-1473)
# ---------------------------------------------------------------------------


def test_parse_bitrate(spark):
    df = _df(
        spark, {"b": ["1234 kb/s", "N/A", "", "900kb/s", "12 kb/s extra"]}, "b STRING"
    )
    out = [r["k"] for r in df.select(parse_bitrate_kbps(F.col("b")).alias("k")).collect()]
    assert out == [1234, None, None, 900, None]


# ---------------------------------------------------------------------------
# A6 — score formula edges (StreamTest.cpp:985-996)
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "detections,errors,expected",
    [(10, 0, 100), (10, 10, 0), (3, 1, 66), (0, 0, 0), (7, 2, 71)],
)
def test_score_formula(spark, detections, errors, expected):
    df = _df(spark, {"d": [detections], "e": [errors]}, "d INT, e INT")
    score = (
        F.when(
            F.col("d") > 0,
            F.greatest(
                F.floor((F.col("d") - F.col("e")).cast("double") / F.col("d") * 100),
                F.lit(0),
            ),
        )
        .otherwise(0)
        .cast("int")
    )
    assert df.select(score.alias("s")).head()["s"] == expected


# ---------------------------------------------------------------------------
# P7/A1 — bucket edges exactly at 60 / 80 / 100, and >100 in no bucket
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "score,bucket",
    [
        (59, "lt60"),
        (60, "b60_80"),
        (80, "b60_80"),
        (81, "b80_100"),
        (100, "b80_100"),
        (101, None),  # counts in total, no bucket (StreamTest.cpp:441-464)
        (110, None),
    ],
)
def test_bucket_edges(spark, score, bucket):
    df = _df(spark, {"s": [score]}, "s INT")
    out = df.select(
        F.when(F.col("s") < 60, "lt60")
        .when(F.col("s").between(60, 80), "b60_80")
        .when((F.col("s") > 80) & (F.col("s") <= 100), "b80_100")
        .alias("b")
    ).head()
    assert out["b"] == bucket


# ---------------------------------------------------------------------------
# A4 — first-non-empty with "0x0"-replacement rule (StreamTest.cpp:847-910)
# ---------------------------------------------------------------------------


def test_first_non_empty_resolution_replacement(spark):
    # Reference fold (StreamTest.cpp:898-910): from state '' OR '0x0'
    # the next row's value always overwrites (empty included); a real
    # value freezes. So: source 1 ('0x0' then real) -> real wins;
    # source 2 (only '0x0') -> '0x0' survives; source 3 ('' then
    # value) -> value; source 4 ('0x0' then '') -> '' — the sequential
    # overwrite, NOT first-non-empty.
    rows = pd.DataFrame(
        {
            "url_id": ["1", "1", "2", "3", "3", "4", "4"],
            "event_id": [1, 2, 3, 4, 5, 6, 7],
            "video_resolution": [
                "0x0", "1920x1080", "0x0", "", "640x480", "0x0", "",
            ],
        }
    )
    df = spark.createDataFrame(rows, "url_id STRING, event_id LONG, video_resolution STRING")
    out = (
        df.groupBy("url_id")
        .agg(
            first_real_resolution(
                F.col("video_resolution"), F.col("event_id")
            ).alias("res")
        )
        .collect()
    )
    got = {r["url_id"]: r["res"] for r in out}
    assert got == {"1": "1920x1080", "2": "0x0", "3": "640x480", "4": ""}


# ---------------------------------------------------------------------------
# W1 — lexicographic id sort parity ("10" < "9")
# ---------------------------------------------------------------------------


def test_string_id_sort(spark):
    df = _df(spark, {"id": ["9", "10", "100", "2"]}, "id STRING")
    out = [r["id"] for r in df.orderBy("id").collect()]
    assert out == ["10", "100", "2", "9"]


@pytest.mark.parametrize(
    ("ts", "wait_min", "expected"),
    [
        # reference isLastLoop (StreamTest.cpp:47-70): now + wait >= next
        # UTC midnight, inclusive
        ("2024-03-05 23:59:00", 120, True),   # crosses midnight
        ("2024-03-05 22:00:00", 120, True),   # lands exactly ON midnight (>=)
        ("2024-03-05 21:59:59", 120, False),  # one second short
        ("2024-03-05 00:01:00", 120, False),  # early in the day
        ("2024-03-05 00:00:00", 1440, True),  # full-day wait from midnight
        ("2024-03-05 12:00:00", 719, False),  # 11:59pm — not yet
        ("2024-03-05 12:00:00", 720, True),   # exactly midnight
    ],
)
def test_crosses_next_utc_midnight(spark, ts, wait_min, expected):
    """F3 boundary semantics, Python and Column forms in lockstep."""
    from datetime import datetime, timezone

    now = datetime.strptime(ts, "%Y-%m-%d %H:%M:%S").replace(
        tzinfo=timezone.utc
    )
    assert crosses_next_utc_midnight(now, wait_min) is expected

    row = (
        spark.createDataFrame(pd.DataFrame({"ts": [ts]}))
        .select(
            crosses_next_utc_midnight_col(
                F.col("ts").cast("timestamp"), wait_min
            ).alias("x")
        )
        .first()
    )
    assert row["x"] is expected


def test_attribute_rollup_0x0_rule_branches(spark, tmp_path):
    """All resolution outcomes of the A4 rollup, end-to-end through
    the registered query, pinned to the reference's SEQUENTIAL
    overwrite (StreamTest.cpp:898-910): a real value replaces an
    earlier '0x0' placeholder and freezes; with no real value the fold
    keeps overwriting from {'', '0x0'}, so the LAST row's value wins —
    ('0x0', '') ends as '', ('', '0x0') ends as '0x0'. (The sf
    fixtures rarely produce a user whose every event is
    placeholder/empty, so this pins the rule on a crafted corpus.)"""
    import pandas as pd

    from stream_processing_test_spark.operators.rollup import attribute_rollup

    # k<10 -> '0x0'; 10<=k<25 -> ''; 25<=k<45 -> '1920x1080'
    rows = [
        # user 1: 0x0 then a real value -> replaced
        (1, 1, 5), (2, 1, 30),
        # user 2: 0x0 then empty -> the overwrite rule: '' wins
        (3, 2, 5), (4, 2, 15),
        # user 3: only empty -> ''
        (5, 3, 15),
        # user 4: empty then 0x0 -> '0x0' (last value)
        (6, 4, 15), (7, 4, 5),
        # user 5: only 0x0 -> '0x0' survives
        (8, 5, 5),
    ]
    pdf = pd.DataFrame(
        {
            "event_id": [r[0] for r in rows],
            "ts": [1_700_000_000_000_000_000 + i for i in range(len(rows))],
            "user_id": [r[1] for r in rows],
            "event_type": ["view"] * len(rows),
            "value": [1.0] * len(rows),
            "props": ['{"k": %d}' % r[2] for r in rows],
        }
    )
    pdf.to_parquet(tmp_path / "events.parquet", index=False)
    got = {
        r["user_id"]: r["video_resolution"]
        for r in attribute_rollup(spark, str(tmp_path)).collect()
    }
    assert got == {1: "1920x1080", 2: "", 3: "", 4: "0x0", 5: "0x0"}
