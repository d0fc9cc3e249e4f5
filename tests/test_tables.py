"""Loader robustness: events.ts must normalize to the instants DuckDB
reads from the same file, whether the file carries TIMESTAMP_NTZ (the
fixtures) or TIMESTAMP(NANOS) (a pandas/pyarrow nanosecond writer).
Regression test for the Spark 4.1.2 loader break (VERDICT r3 item 1).
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import duckdb
import pandas as pd
from pyspark.sql import types as T

from stream_processing_test_spark.tables import load, normalize_event_ts
from tests.conftest import SF_SMALL


def test_loader_ts_is_timestamp(spark):
    ev = load(spark, SF_SMALL, "events")
    assert isinstance(ev.schema["ts"].dataType, T.TimestampType)


def _load_epoch_us(spark, sf_dir):
    from pyspark.sql import functions as F

    return {
        (r["event_id"], r["u"])
        for r in load(spark, sf_dir, "events")
        .select("event_id", F.unix_micros("ts").alias("u"))
        .collect()
    }


def _duckdb_epoch_us():
    con = duckdb.connect()
    return set(
        con.execute(
            f"SELECT event_id, epoch_us(ts) "
            f"FROM read_parquet('{SF_SMALL}/events.parquet')"
        ).fetchall()
    )


def test_loader_instants_match_duckdb_epoch_us(spark):
    """Every event's ``load()`` instant, in epoch microseconds, equals
    DuckDB's ``epoch_us(ts)`` over the same parquet file."""
    native = _load_epoch_us(spark, SF_SMALL)
    assert native and native == _duckdb_epoch_us()


def test_nanos_events_file_loads_same_instants(spark, tmp_path):
    """A TIMESTAMP(NANOS) copy of the events file — which Spark 4.1
    reads only as long nanos, under nanosAsLong — loads to the same
    instants."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pq.read_table(f"{SF_SMALL}/events.parquet")
    i = t.schema.get_field_index("ts")
    t = t.set_column(i, "ts", t["ts"].cast(pa.timestamp("ns")))
    pq.write_table(t, tmp_path / "events.parquet")
    ts_col = pq.ParquetFile(tmp_path / "events.parquet").schema.column(i)
    assert "timeUnit=nanoseconds" in str(ts_col.logical_type)
    assert _load_epoch_us(spark, str(tmp_path)) == _duckdb_epoch_us()


def test_normalize_rejects_unknown_dtype(spark):
    import pytest

    bad = spark.createDataFrame(pd.DataFrame({"ts": ["x"]}), "ts STRING")
    with pytest.raises(TypeError):
        normalize_event_ts(bad)


def test_loader_instants_independent_of_session_timezone(spark):
    """The NTZ conversion must denote the same instants under ANY
    session timezone (convert_timezone pins the UTC interpretation) —
    a plain cast would silently shift every event by the session
    offset on Spark 4."""
    from pyspark.sql import functions as F

    utc = {
        r["event_id"]: r["u"]
        for r in load(spark, SF_SMALL, "events")
        .select("event_id", F.unix_micros("ts").alias("u"))
        .collect()
    }
    scoped = spark.newSession()
    scoped.conf.set("spark.sql.session.timeZone", "America/New_York")
    ny = {
        r["event_id"]: r["u"]
        for r in load(scoped, SF_SMALL, "events")
        .select("event_id", F.unix_micros("ts").alias("u"))
        .collect()
    }
    assert utc == ny


def test_invalidate_load_cache_refreshes_listing(spark, tmp_path):
    """load() caches reader plans per (session, sf_dir, table); a caller
    that regenerates a fixture dir must be able to drop that entry and
    re-list (ADVICE r16: the write-then-re-read contract was documented
    but unenforced). After invalidate, load() returns a fresh plan that
    sees the rewritten file."""
    import pandas as pd

    from stream_processing_test_spark.tables import invalidate_load_cache

    d = tmp_path / "sfX"
    d.mkdir()
    pd.DataFrame({"r_regionkey": [1], "r_name": ["a"]}).to_parquet(
        d / "region.parquet"
    )
    first = load(spark, str(d), "region")
    assert first.count() == 1
    # same object back while cached
    assert load(spark, str(d), "region") is first
    pd.DataFrame(
        {"r_regionkey": [1, 2], "r_name": ["a", "b"]}
    ).to_parquet(d / "region.parquet")
    assert invalidate_load_cache(spark, str(d)) == 1
    assert load(spark, str(d), "region") is not first
    assert load(spark, str(d), "region").count() == 2
