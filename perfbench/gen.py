"""Seeded input generators for the benchmark.

Everything here is numpy + pyarrow only (no Spark), so the same seed
writes byte-identical files and the program under test receives only the
generated files.

- ``write_tables`` writes the ten synthetic tables the registered queries
  read (``tables.TABLE_NAMES``) with the schemas of the sf0.001 fixture
  (TESTDATA.md) and its row counts. The benchmark makes its own tables
  because a run may read nothing outside its checkout and must make its
  inputs from the seed.
- ``DayPlan`` is the ``day_loop`` workload's probe day: S sources probed
  once per round for R rounds inside one UTC day, with ~20% errors skewed
  toward codes 1001 and 1015 and some sources reporting ``0x0`` before
  their real resolution (FIXTURES.md §1.1). It knows each source's
  expected score in closed form.
"""

from __future__ import annotations

import io
import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts of the sf0.001 fixture (documents and embeddings do not
# scale with sf).
TABLE_ROWS = {
    "customer": 150,
    "supplier": 10,
    "part": 200,
    "orders": 1500,
    "lineitem": 6000,
    "events": 1000,
    "documents": 500,
    "embeddings": 500,
}
EVENT_USERS = 150
DUP_DOCS = 25
EMBED_DIM = 64

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["blue", "old", "large", "hot", "cold", "small", "new", "red"]
_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]


def _days(rng, n: int, start: str, end: str) -> np.ndarray:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return rng.integers(lo, hi + 1, n).astype("datetime64[D]").astype("datetime64[us]")


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def write_tables(out_dir: str, seed: int) -> None:
    """Write ``<out_dir>/<table>.parquet`` for every synthetic table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 0x7AB1E5])
    n = TABLE_ROWS
    i64, i32 = pa.int64(), pa.int32()

    def write(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), f"{out_dir}/{name}.parquet")

    write("region", {
        "r_regionkey": pa.array(range(5), i32),
        "r_name": _REGIONS,
    })
    write("nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{k}" for k in range(25)],
        "n_regionkey": pa.array([k % 5 for k in range(25)], i32),
    })
    c = n["customer"]
    write("customer", {
        "c_custkey": pa.array(np.arange(c), i64),
        "c_name": [f"Customer#{k:09d}" for k in range(c)],
        "c_nationkey": pa.array(rng.integers(0, 25, c), i32),
        "c_acctbal": _money(rng, c, -999.99, 9999.99),
        "c_mktsegment": rng.choice(_SEGMENTS, c),
    })
    s = n["supplier"]
    write("supplier", {
        "s_suppkey": pa.array(np.arange(s), i64),
        "s_name": [f"Supplier#{k:09d}" for k in range(s)],
        "s_nationkey": pa.array(rng.integers(0, 25, s), i32),
        "s_acctbal": _money(rng, s, -999.99, 9999.99),
    })
    p = n["part"]
    write("part", {
        "p_partkey": pa.array(np.arange(p), i64),
        "p_name": [
            f"{a} {b}" for a, b in zip(rng.choice(_ADJ, p), rng.choice(_NOUN, p))
        ],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, p)],
        "p_type": rng.choice(_PTYPES, p),
        "p_size": pa.array(rng.integers(1, 51, p), i32),
        "p_retailprice": np.round(900.0 + (np.arange(p) % 1000) * 0.1, 1),
    })
    o = n["orders"]
    write("orders", {
        "o_orderkey": pa.array(np.arange(o), i64),
        "o_custkey": pa.array(rng.integers(0, c, o), i64),
        "o_orderstatus": rng.choice(["F", "O", "P"], o),
        "o_totalprice": _money(rng, o, 1000.0, 500000.0),
        "o_orderdate": _days(rng, o, "1995-01-01", "2001-08-01"),
        "o_orderpriority": rng.choice(_PRIORITIES, o),
    })
    li = n["lineitem"]
    write("lineitem", {
        "l_orderkey": pa.array(rng.integers(0, o, li), i64),
        "l_partkey": pa.array(rng.integers(0, p, li), i64),
        "l_suppkey": pa.array(rng.integers(0, s, li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, li), i32),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": _money(rng, li, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], li),
        "l_linestatus": rng.choice(["F", "O"], li),
        "l_shipdate": _days(rng, li, "1995-01-02", "2001-11-04"),
    })
    e = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ts = np.sort(start + rng.integers(0, 30 * 86400 * 1_000_000, e))
    write("events", {
        "event_id": pa.array(np.arange(e), i64),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, EVENT_USERS, e), i64),
        "event_type": rng.choice(_EVENT_TYPES, e),
        "value": np.maximum(np.round(rng.exponential(50.0, e), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
    })
    d = n["documents"]
    texts = [" ".join(rng.choice(_WORDS, int(k))) for k in rng.integers(10, 100, d)]
    # 5% near-duplicates: a copy of another document plus one word, which
    # is what the dedup and decontamination queries look for. The count is
    # fixed and no copy is copied again, so every seed gives duplicate
    # clusters of the same shape and the cluster queries the same work.
    picked = rng.choice(d, 2 * DUP_DOCS, replace=False)
    for j, src in zip(picked[:DUP_DOCS], picked[DUP_DOCS:]):
        texts[j] = texts[src] + " dup"
    write("documents", {
        "doc_id": pa.array(np.arange(d), i64),
        "text": texts,
        "lang": rng.choice(_LANGS, d, p=_LANG_P),
        "source": [f"src{k}" for k in rng.integers(0, 20, d)],
        "n_chars": pa.array([len(t) for t in texts], i64),
    })
    v = n["embeddings"]
    x = rng.standard_normal((v, EMBED_DIM)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    write("embeddings", {
        "vec_id": pa.array(np.arange(v), i64),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, v), i32),
    })


# ---------------------------------------------------------------------------
# day_loop: one UTC probe day
# ---------------------------------------------------------------------------
# Error codes 1001..1016 (schemas.ERROR_CODES), skewed toward 1001
# (open input failed) and 1015 (lag detected), as FIXTURES.md §1.1 asks.
_ERR_CODES = np.arange(1001, 1017)
_ERR_P = np.full(16, 0.2 / 14)
_ERR_P[0] = _ERR_P[14] = 0.4
_RESOLUTIONS = ["1920x1080", "1280x720", "3840x2160", "720x576"]
_DAY = np.datetime64("2024-03-01T00:00:00", "s")
PROGRAMS = 40


@dataclass
class DayPlan:
    """Every probe outcome of one day, fixed by the seed.

    ``items[r, s]`` is the error code of source ``s`` in round ``r``
    (0 = success); ``resolution[r, s]`` its reported resolution."""

    n_sources: int
    n_rounds: int
    items: np.ndarray
    resolution: np.ndarray
    program: np.ndarray  # program index per source

    @classmethod
    def make(cls, seed: int, n_sources: int, n_rounds: int) -> "DayPlan":
        rng = np.random.default_rng([seed, 0xDA7])
        # per-source error rate with mean 20%, so scores spread over 0..100
        rate = rng.beta(2.0, 8.0, n_sources)
        fail = rng.random((n_rounds, n_sources)) < rate
        codes = rng.choice(_ERR_CODES, (n_rounds, n_sources), p=_ERR_P)
        items = np.where(fail, codes, 0).astype(np.int64)
        resolution = np.tile(rng.choice(_RESOLUTIONS, n_sources), (n_rounds, 1))
        resolution = resolution.astype(object)
        # a fifth of the sources report 0x0 for their first rounds
        zero_until = np.where(
            rng.random(n_sources) < 0.2, rng.integers(1, 4, n_sources), 0
        )
        for s in np.flatnonzero(zero_until):
            resolution[: zero_until[s], s] = "0x0"
        resolution[fail] = ""  # a failed probe reports no resolution
        program = rng.integers(0, PROGRAMS, n_sources)
        return cls(n_sources, n_rounds, items, resolution, program)

    def expected_scores(self) -> np.ndarray:
        """floor((n - err) / n * 100), clamped to >= 0, per source."""
        n = self.n_rounds
        err = (self.items != 0).sum(axis=0)
        return np.maximum(np.floor((n - err) / n * 100), 0).astype(np.int64)

    def round_times(self, r: int) -> np.ndarray:
        """Event times of round ``r``: simulated steps inside one UTC day,
        one millisecond apart per source within the round."""
        step = 86_000 // (self.n_rounds + 1)
        base = (_DAY + np.timedelta64(r * step, "s")).astype("datetime64[ms]")
        return base + np.arange(self.n_sources).astype("timedelta64[ms]")

    def events_parquet(self, r: int) -> bytes:
        """Round ``r`` in the events shape the streaming scorer reads,
        as parquet file bytes."""
        s = self.n_sources
        items = self.items[r]
        table = pa.table({
            "event_id": pa.array(r * s + np.arange(s), pa.int64()),
            "ts": pa.array(
                self.round_times(r).astype("datetime64[us]"), pa.timestamp("us")
            ),
            "user_id": pa.array(np.arange(s), pa.int64()),
            "event_type": np.where(items != 0, "error", "view"),
            "value": (items % 100).astype(np.float64),
            "props": [f'{{"item": {int(k)}}}' for k in items],
        })
        buf = io.BytesIO()
        pq.write_table(table, buf)
        return buf.getvalue()

    def envelope_lines(self, r: int) -> bytes:
        """Round ``r`` as JSON lines of the reference's envelope: every
        field a string, ``created_time`` as ``yyyy-MM-dd HH:mm:ss``."""
        out = []
        times = self.round_times(r).astype("datetime64[s]")
        for s in range(self.n_sources):
            item = int(self.items[r, s])
            ok = item == 0
            out.append(json.dumps({
                "url_id": str(s),
                "flow_address": f"http://vendor{s % 3}.example:80/live/{s}",
                "item": str(item),
                "return_value": "0" if ok else str(-(item % 100)),
                "lag_details": "" if ok else f"probe error {item}",
                "streaming_protocol": ("hls", "mpegts", "flv")[s % 3],
                "bitrate": f"{800 + s % 7 * 300} kb/s" if ok else "",
                "stream_length": "N/A",
                "video_format": "h264" if ok else "",
                "video_resolution": self.resolution[r, s],
                "audio_format": "aac" if ok else "",
                "audio_sampling_rate": "48000" if ok else "",
                "created_time": str(times[s]).replace("T", " "),
                "target_matching_id": str(int(self.program[s])),
                "target_matching": f"Program {int(self.program[s])}",
            }))
        return ("\n".join(out) + "\n").encode()

    def scores_dim(self) -> pa.Table:
        """The dimension the streaming scorer upserts into: one row per
        source, no day scored yet. The ``day`` column lets
        ``finalize_to_dimension`` keep the newest day per source."""
        s = self.n_sources
        return pa.table({
            "id": pa.array(np.arange(s), pa.int64()),
            "day": pa.nulls(s, pa.string()),
            "flow_score": pa.nulls(s, pa.int32()),
            "n_detection": pa.nulls(s, pa.int64()),
            "n_error": pa.nulls(s, pa.int64()),
        })

    def source_dim(self) -> pa.Table:
        """The source dimension (``schemas.STREAM_SOURCE_SCHEMA``) before
        the day close: no score yet, resolution unknown."""
        s = self.n_sources
        null_s = pa.nulls(s, pa.string())
        return pa.table({
            "id": [str(k) for k in range(s)],
            "url": [f"http://vendor{k % 3}.example:80/live/{k}" for k in range(s)],
            "target_matching": [f"Program {int(k)}" for k in self.program],
            "target_matching_id": [str(int(k)) for k in self.program],
            "video_format": null_s,
            "video_resolution": null_s,
            "audio_format": null_s,
            "audio_sampling_rate": null_s,
            "resolution_type": pa.nulls(s, pa.int32()),
            "flow_score": pa.nulls(s, pa.int32()),
            "is_del": pa.array(np.zeros(s), pa.int32()),
            "stream_type": ["live"] * s,
        })

    @staticmethod
    def programs_table() -> pa.Table:
        """Programs (``schemas.BROADCAST_DETAIL_SCHEMA``): an HD and an
        FHD variant of every program name."""
        return pa.table({
            "id": [f"{k}{v}" for k in range(PROGRAMS) for v in ("h", "f")],
            "stream_name": [
                f"Program {k}{v}" for k in range(PROGRAMS) for v in (" HD", " FHD")
            ],
        })
