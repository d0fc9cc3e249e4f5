"""Envelope source adapter: the same probe events land IDENTICALLY
from JSON-lines, CSV, and parquet — schema-enforced, '' -> NULL
normalized, timestamps parsed — in batch and streaming."""

from __future__ import annotations

import json
import sys
from datetime import datetime
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import pytest

from stream_processing_test_spark.sources.envelope import (
    read_probe_events,
    stream_probe_events,
)
from stream_processing_test_spark.sources.probe import probe_sources

STAMP = datetime(2024, 1, 15, 8, 0, 0)


@pytest.fixture(scope="module")
def envelope_dirs(spark, tmp_path_factory):
    """Reference-shaped probe events written in all three formats."""
    import pandas as pd

    dim = spark.createDataFrame(
        pd.DataFrame(
            {
                "id": [str(i) for i in range(30)],
                "url": [f"http://cdn{i % 3}/stream/{i}" for i in range(30)],
                "target_matching": [f"Channel {i % 5}" for i in range(30)],
                "target_matching_id": [str(i % 5) for i in range(30)],
            }
        )
    )
    events = probe_sources(dim, created_time=STAMP)
    base = tmp_path_factory.mktemp("envelope")
    pdf = events.toPandas()
    pdf["created_time"] = pdf["created_time"].dt.strftime("%Y-%m-%d %H:%M:%S")

    (base / "json").mkdir()
    with open(base / "json" / "events.jsonl", "w") as fh:
        for rec in pdf.to_dict(orient="records"):
            fh.write(json.dumps(rec) + "\n")
    (base / "csv").mkdir()
    pdf.to_csv(base / "csv" / "events.csv", index=False)
    events.write.parquet(str(base / "parquet"))
    events.write.orc(str(base / "orc"))
    return base, events


def _canon(df):
    # rows may contain None (normalized sentinels) — sort by repr,
    # compare the tuples themselves
    return sorted(
        map(tuple, df.select(*sorted(df.columns)).collect()),
        key=lambda t: tuple(map(repr, t)),
    )


def test_batch_formats_land_identically(spark, envelope_dirs):
    base, events = envelope_dirs
    want = _canon(
        read_probe_events(spark, str(base / "parquet"), fmt="parquet")
    )
    got_json = _canon(read_probe_events(spark, str(base / "json"), fmt="json"))
    got_csv = _canon(read_probe_events(spark, str(base / "csv"), fmt="csv"))
    got_orc = _canon(read_probe_events(spark, str(base / "orc"), fmt="orc"))
    assert got_json == want
    assert got_csv == want
    assert got_orc == want
    assert len(want) == events.count()


def test_normalization_blank_to_null(spark, envelope_dirs):
    base, _ = envelope_dirs
    df = read_probe_events(spark, str(base / "json"), fmt="json")
    # the synthetic prober emits '' for absent attributes on failures;
    # after edge normalization no attribute column may contain ''
    from pyspark.sql import functions as F

    for c in ("video_resolution", "audio_format", "streaming_protocol"):
        assert df.filter(F.col(c) == "").count() == 0
    # timestamps parsed, not strings
    assert df.schema["created_time"].dataType.simpleString() == "timestamp"
    assert df.filter(F.col("created_time").isNull()).count() == 0


def test_streaming_twin_matches_batch(spark, envelope_dirs):
    base, _ = envelope_dirs
    batch = _canon(read_probe_events(spark, str(base / "json"), fmt="json"))
    q = (
        stream_probe_events(spark, str(base / "json"), fmt="json")
        .writeStream.format("memory")
        .queryName("envelope_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = _canon(spark.table("envelope_stream"))
    assert got == batch


def test_unknown_format_is_loud(spark, envelope_dirs):
    base, _ = envelope_dirs
    with pytest.raises(ValueError, match="unknown format"):
        read_probe_events(spark, str(base / "json"), fmt="avro")


def test_columnar_string_timestamp_still_ingests(spark, envelope_dirs, tmp_path):
    """A lake that landed created_time as the transport STRING in
    parquet must still ingest (parsed by dtype) and equal the typed
    parquet read."""
    base, _ = envelope_dirs
    typed = read_probe_events(spark, str(base / "parquet"), fmt="parquet")
    from pyspark.sql import functions as F

    stringly = str(tmp_path / "stringly")
    typed.withColumn(
        "created_time",
        F.date_format("created_time", "yyyy-MM-dd HH:mm:ss"),
    ).write.parquet(stringly)
    got = _canon(read_probe_events(spark, stringly, fmt="parquet"))
    assert got == _canon(typed)


def test_malformed_json_fails_loudly(spark, tmp_path):
    """FAILFAST contract: a truncated JSON line must raise, never
    become a silent all-NULL row."""
    bad = tmp_path / "bad"
    bad.mkdir()
    (bad / "events.jsonl").write_text(
        '{"url_id": "1", "item": 0, "created_time": "2024-01-15 08:00:00"}\n'
        '{"url_id": "2", "item": 1001, "created_ti\n'
    )
    with pytest.raises(Exception, match="(?i)malformed|FAILFAST"):
        read_probe_events(spark, str(bad), fmt="json").collect()


def _reference_record(**overrides):
    rec = {
        "url_id": "1",
        "flow_address": "http://cdn0/stream/1",
        "item": 0,
        "return_value": "0",
        "lag_details": "",
        "streaming_protocol": "hls",
        "bitrate": "",
        "stream_length": "",
        "video_format": "",
        "video_resolution": "",
        "audio_format": "",
        "audio_sampling_rate": "",
        "created_time": "2024-01-15 08:00:00",
        "target_matching_id": "1",
        "target_matching": "Channel 1",
    }
    rec.update(overrides)
    return rec


def test_reference_string_typed_item_ingests(spark, tmp_path):
    """The reference envelope emits item via std::to_string
    (StreamTest.cpp ~285) — the JSON string "1001", not the number.
    Both spellings must ingest to the same typed int; garbage must
    fail loudly, never silently NULL."""
    d = tmp_path / "json"
    d.mkdir()
    (d / "e.jsonl").write_text(
        json.dumps(_reference_record(url_id="1", item=0))
        + "\n"
        + json.dumps(_reference_record(url_id="2", item="1001"))
        + "\n"
    )
    got = {
        r["url_id"]: r["item"]
        for r in read_probe_events(spark, str(d), fmt="json").collect()
    }
    assert got == {"1": 0, "2": 1001}

    (d / "e.jsonl").write_text(
        json.dumps(_reference_record(item="not-a-code")) + "\n"
    )
    with pytest.raises(Exception, match="unparseable item"):
        read_probe_events(spark, str(d), fmt="json").collect()


def test_blank_created_time_is_the_null_sentinel(spark, tmp_path):
    """'' is the reference's missing-value sentinel UNIFORMLY — a
    blank created_time (or item) must normalize to NULL like every
    other field, not fail the read; only non-blank garbage is loud."""
    d = tmp_path / "json"
    d.mkdir()
    (d / "e.jsonl").write_text(
        json.dumps(_reference_record(url_id="1", created_time="", item=""))
        + "\n"
    )
    got = read_probe_events(spark, str(d), fmt="json").collect()[0]
    assert got["created_time"] is None
    assert got["item"] is None


def test_unparseable_created_time_is_loud(spark, tmp_path):
    """With ANSI off, to_timestamp yields NULL for a non-matching
    string — the adapter must instead fail loudly (an ISO-8601 stamp
    silently becoming NULL would corrupt min_by(created_time)
    ordering downstream)."""
    d = tmp_path / "json"
    d.mkdir()
    (d / "e.jsonl").write_text(
        json.dumps(_reference_record(created_time="2024-01-15T08:00:00Z"))
        + "\n"
    )
    with pytest.raises(Exception, match="unparseable created_time"):
        read_probe_events(spark, str(d), fmt="json").collect()


def test_csv_reordered_columns_bind_by_name(spark, tmp_path):
    """CSV schemas bind by POSITION, so an externally-produced file
    with reordered columns must be detected via its header and read
    by name — not silently scrambled into the wrong fields."""
    import pandas as pd

    d = tmp_path / "csv"
    d.mkdir()
    rec = {k: str(v) for k, v in _reference_record().items()}
    pdf = pd.DataFrame([rec])[list(reversed(list(rec)))]
    pdf.to_csv(d / "e.csv", index=False)
    got = read_probe_events(spark, str(d), fmt="csv").collect()[0]
    assert got["url_id"] == "1"
    assert got["item"] == 0
    assert got["target_matching"] == "Channel 1"
    assert str(got["created_time"]) == "2024-01-15 08:00:00"


def test_csv_wrong_header_is_loud(spark, tmp_path):
    import pandas as pd

    d = tmp_path / "csv"
    d.mkdir()
    rec = {k: str(v) for k, v in _reference_record().items()}
    pdf = pd.DataFrame([rec]).rename(columns={"bitrate": "bitrot"})
    pdf.to_csv(d / "e.csv", index=False)
    with pytest.raises(ValueError, match="missing \\['bitrate'\\]"):
        read_probe_events(spark, str(d), fmt="csv")


def test_roundtrip_adversarial_strings_all_formats(spark, tmp_path):
    """S5 fidelity under hostile attribute content: embedded commas,
    quotes, newlines (CR and CRLF), tabs, backslashes, JSON
    metacharacters, unicode, and leading/trailing whitespace must all
    survive a write -> read roundtrip IDENTICALLY in every format
    (ffmpeg error text routinely carries several of these). NULL and
    '' collapse to NULL by the documented §1.3 edge; everything else
    must be byte-exact."""
    import pandas as pd

    from stream_processing_test_spark.schemas import PROBE_EVENT_SCHEMA
    from stream_processing_test_spark.sources.envelope import (
        write_probe_events,
    )

    nasty = [
        "plain",
        "comma,inside",
        'quote"inside',
        "single'quote",
        "newline\ninside",
        "crlf\r\ninside",
        "tab\tinside",
        " leading",
        "trailing ",
        "  both  ",
        "uni-ñ-中文-🚀",
        "back\\slash",
        'json}{chars:["',
        'mixed "quote, comma"\nand newline',
        "N/A",
        None,
    ]
    n = len(nasty)
    rows = []
    for i, s in enumerate(nasty):
        rows.append(
            {
                "url_id": str(i),
                "flow_address": s,
                "item": i if i % 3 else None,
                "return_value": nasty[(i + 1) % n],
                "lag_details": nasty[(i + 2) % n],
                "streaming_protocol": nasty[(i + 3) % n],
                "bitrate": nasty[(i + 4) % n],
                "stream_length": nasty[(i + 5) % n],
                "video_format": nasty[(i + 6) % n],
                "video_resolution": nasty[(i + 7) % n],
                "audio_format": nasty[(i + 8) % n],
                "audio_sampling_rate": nasty[(i + 9) % n],
                "created_time": datetime(2024, 1, 15, i % 24, i % 60, i % 60)
                if i % 4
                else None,
                "target_matching_id": nasty[(i + 10) % n],
                "target_matching": nasty[(i + 11) % n],
            }
        )
    src = spark.createDataFrame(pd.DataFrame(rows), schema=PROBE_EVENT_SCHEMA)
    want = _canon(src)
    for fmt in ("json", "csv", "parquet", "orc"):
        dest = str(tmp_path / f"adv_{fmt}")
        write_probe_events(src, dest, fmt=fmt)
        got = _canon(read_probe_events(spark, dest, fmt=fmt))
        assert got == want, fmt


def test_csv_mismatched_second_file_is_loud(spark, tmp_path):
    """The header probe only sees the FIRST file; a LATER file whose
    columns are ordered differently must fail the scan loudly
    (enforceSchema=false validates every file's header) — never bind
    positionally and silently scramble fields."""
    import pandas as pd

    d = tmp_path / "csv"
    d.mkdir()
    rec = {k: str(v) for k, v in _reference_record().items()}
    pd.DataFrame([rec]).to_csv(d / "a.csv", index=False)
    pd.DataFrame([rec])[list(reversed(list(rec)))].to_csv(
        d / "z.csv", index=False
    )
    with pytest.raises(Exception, match="(?i)header|schema"):
        read_probe_events(spark, str(d), fmt="csv").collect()


def test_multiline_csv_is_one_task_per_file(spark, tmp_path):
    """SCALE BOUND, pinned (VERDICT r6 item 4): multiLine CSV is not
    splittable — one task per file regardless of size, so a single fat
    CSV reads serially. ``multiline=False`` (for producers that
    guarantee newline-free fields) restores byte-range splitting."""
    import pandas as pd

    d = tmp_path / "csv"
    d.mkdir()
    rec = {k: str(v) for k, v in _reference_record().items()}
    rec["lag_details"] = "x" * 300  # fatten rows so files byte-split
    pdf = pd.DataFrame([rec] * 3000)
    pdf.to_csv(d / "a.csv", index=False)
    pdf.to_csv(d / "b.csv", index=False)

    prev_max = spark.conf.get("spark.sql.files.maxPartitionBytes")
    prev_open = spark.conf.get("spark.sql.files.openCostInBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "65536")
    spark.conf.set("spark.sql.files.openCostInBytes", "0")
    try:
        fat = read_probe_events(spark, str(d), fmt="csv")
        assert fat.rdd.getNumPartitions() == 2  # one task per FILE
        split = read_probe_events(spark, str(d), fmt="csv", multiline=False)
        assert split.rdd.getNumPartitions() > 2  # byte-range splits
        assert split.count() == fat.count() == 6000
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", prev_max)
        spark.conf.set("spark.sql.files.openCostInBytes", prev_open)


def test_streaming_envelope_rollup_matches_batch(spark):
    """Driver-gate twin check (VERDICT r6 item 3): the streamed
    envelope fixture must roll up IDENTICALLY to the batch ingest —
    same fixture, same aggregation, so any difference is the streaming
    read path."""
    from stream_processing_test_spark.registry import all_queries

    sf = "/root/testdata/sf0.001"
    specs = all_queries()
    batch = sorted(
        map(tuple, specs["envelope_rollup"].fn(spark, sf).collect())
    )
    streamed = sorted(
        map(tuple, specs["streaming_envelope_rollup"].fn(spark, sf).collect())
    )
    assert streamed == batch
    assert len(batch) > 0


def test_write_read_roundtrip_all_formats(spark, envelope_dirs, tmp_path):
    """write_probe_events -> read_probe_events is the identity for
    every format (the S5 append edge re-materializes '' and the UTC
    string form; the read edge normalizes them back)."""
    from stream_processing_test_spark.sources.envelope import (
        write_probe_events,
    )

    base, _ = envelope_dirs
    want_df = read_probe_events(spark, str(base / "parquet"), fmt="parquet")
    want = _canon(want_df)
    for fmt in ("json", "csv", "parquet", "orc"):
        dest = str(tmp_path / f"rt_{fmt}")
        write_probe_events(want_df, dest, fmt=fmt)
        assert _canon(read_probe_events(spark, dest, fmt=fmt)) == want, fmt


def test_envelope_queries_leave_no_files(spark, tmp_path, monkeypatch):
    """Every envelope query lands its events in a temporary directory
    that is gone when the query returns. With the tempdir pointed at
    ``tmp_path``, all five queries (four batch formats and the stream)
    match their shared DuckDB oracle row for row, so batch equals
    stream, and nothing named ``envelope_*`` is left behind."""
    import os
    import tempfile

    from stream_processing_test_spark.oracle import check_query, duckdb_connection
    from stream_processing_test_spark.registry import all_queries
    from tests.conftest import SF_SMALL

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    specs = all_queries()
    con = duckdb_connection(SF_SMALL)
    n_oracle = len(con.sql(specs["envelope_rollup"].oracle).fetchall())
    assert n_oracle > 1
    for name in (
        "envelope_rollup",
        "envelope_rollup_csv",
        "envelope_rollup_parquet",
        "envelope_rollup_orc",
        "streaming_envelope_rollup",
    ):
        assert specs[name].oracle == specs["envelope_rollup"].oracle
        status, detail, n_rows, _ = check_query(spark, con, specs[name], SF_SMALL)
        assert (status, n_rows) == ("OK", n_oracle), (name, detail)
    assert [d for d in os.listdir(tmp_path) if d.startswith("envelope_")] == []
