"""py4j round-trip budgets of the day-loop plan builders.

On 300-row frames a day close and each round's write-back cost more to
plan on the driver than to run: every Column-API operator is a py4j
round trip, and a per-column chain costs dozens of them per column.
The day-loop frames are therefore built from SQL text (one
``selectExpr`` or one ``agg`` of ``F.expr`` per projection). These
tests count the calling thread's round trips by wrapping the gateway
client's ``send_command`` and pin each budget at the measured count
plus headroom, so a return to per-column chains fails loudly (the
chains measured ~2,300 for the close and ~660 for the write-back).
"""

from __future__ import annotations

import json
import threading
from contextlib import contextmanager

import pandas as pd

from stream_processing_test_spark.lifecycle import day_close
from stream_processing_test_spark.schemas import (
    BROADCAST_DETAIL_SCHEMA,
    STREAM_SOURCE_SCHEMA,
)
from stream_processing_test_spark.sinks.reports import RecordingSink
from stream_processing_test_spark.sinks.upsert import upsert_newest_day
from stream_processing_test_spark.sources.envelope import read_probe_events

# measured: 200 (read 32 + close 168) and 98 on 4 vCPUs, pyspark 4.1.2
CLOSE_BUDGET = 300
UPSERT_BUDGET = 150


@contextmanager
def _round_trips(spark):
    """Yield a one-element list holding the number of py4j commands
    this thread has sent so far inside the block."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    me = threading.get_ident()
    n = [0]

    def counted(*args, **kwargs):
        if threading.get_ident() == me:
            n[0] += 1
        return send(*args, **kwargs)

    client.send_command = counted
    try:
        yield n
    finally:
        client.send_command = send


def _envelope(path, n_sources: int = 40, n_rounds: int = 2) -> None:
    lines = []
    for r in range(n_rounds):
        for s in range(n_sources):
            item = 0 if (r + s) % 4 else 1003
            lines.append(
                json.dumps(
                    {
                        "url_id": str(s),
                        "flow_address": f"http://stream/{s}",
                        "item": str(item),
                        "return_value": "0",
                        "lag_details": "",
                        "streaming_protocol": "hls",
                        "bitrate": "",
                        "stream_length": "",
                        "video_format": "",
                        "video_resolution": "" if item else "1920x1080",
                        "audio_format": "",
                        "audio_sampling_rate": "",
                        "created_time": f"2024-03-01 0{r}:00:{s % 60:02d}",
                        "target_matching_id": str(s % 5),
                        "target_matching": f"Program {s % 5}",
                    }
                )
            )
    path.mkdir()
    (path / "part-0.json").write_text("\n".join(lines) + "\n")


def test_day_close_round_trip_budget(spark, tmp_path):
    """read_probe_events + day_close with a report sink, warm."""
    _envelope(tmp_path / "envelope")
    n = 40
    spark.createDataFrame(
        pd.DataFrame(
            {
                "id": [str(k) for k in range(n)],
                "url": [f"http://stream/{k}" for k in range(n)],
                "target_matching": [f"Program {k % 5}" for k in range(n)],
                "target_matching_id": [str(k % 5) for k in range(n)],
                "video_format": [None] * n,
                "video_resolution": [None] * n,
                "audio_format": [None] * n,
                "audio_sampling_rate": [None] * n,
                "resolution_type": [None] * n,
                "flow_score": [None] * n,
                "is_del": [0] * n,
                "stream_type": ["live"] * n,
            }
        ),
        STREAM_SOURCE_SCHEMA,
    ).write.parquet(str(tmp_path / "dim"))
    spark.createDataFrame(
        pd.DataFrame(
            {
                "id": [f"{k}{v}" for k in range(5) for v in "hf"],
                "stream_name": [
                    f"Program {k}{v}" for k in range(5) for v in (" HD", " FHD")
                ],
            }
        ),
        BROADCAST_DETAIL_SCHEMA,
    ).write.parquet(str(tmp_path / "programs"))
    dim = spark.read.parquet(str(tmp_path / "dim"))
    programs = spark.read.parquet(str(tmp_path / "programs"))

    def close():
        sink = RecordingSink()
        events = read_probe_events(spark, str(tmp_path / "envelope"), "json")
        result = day_close(dim, events, programs, report_sink=sink)
        return result, sink

    close()  # warm: first use loads classes on both sides of the gateway
    with _round_trips(spark) as trips:
        result, sink = close()
    assert result.report_batches == len(sink.messages) == 2
    assert trips[0] <= CLOSE_BUDGET, trips[0]


def test_upsert_newest_day_round_trip_budget(spark, tmp_path):
    """One streaming write-back: newest-day reduce, guard, merge,
    parquet rewrite and swap, warm."""
    schema = "id LONG, day STRING, flow_score INT, n_detection LONG, n_error LONG"
    path = str(tmp_path / "dim")
    rows = pd.DataFrame(
        {
            "id": [1, 2, 3],
            "day": ["2024-01-15"] * 3,
            "flow_score": [90, 80, 70],
            "n_detection": [10, 10, 10],
            "n_error": [1, 2, 3],
        }
    )
    spark.createDataFrame(rows, schema).write.parquet(path)
    scores = spark.createDataFrame(rows.assign(day="2024-01-16"), schema)
    upsert_newest_day(scores, path)  # warm
    with _round_trips(spark) as trips:
        upsert_newest_day(scores, path)
    assert trips[0] <= UPSERT_BUDGET, trips[0]
