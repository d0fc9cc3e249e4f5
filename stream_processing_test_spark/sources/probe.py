"""Probe source connector (S4): the reference's ffmpeg stream prober
(``OperationStream``, StreamTest.cpp:1377-1675) as a pluggable Spark
ingestion stage.

The reference forks 25 child processes per 10-s round, each opening a
stream URL with ffmpeg, decoding ≤10 s, and emitting exactly ONE
outcome event — success (item=0) or the first error from the 17-code
taxonomy — with extracted metadata (protocol, bitrate "N kb/s",
duration, codecs, "WxH" resolution, sample rate; StreamTest.cpp:
1419-1474) and a server-stamped UTC ``created_time`` (:296).

Spark shape: probing is a *source*, not a query operator. A dimension
DataFrame of sources fans out across executors via ``mapInPandas``;
each Arrow batch probes its URLs (bounded per-task concurrency = the
reference's 25-per-round fan-out, but scheduled by Spark) and yields
one event row per source conforming to ``PROBE_EVENT_SCHEMA``.

The default prober is a deterministic synthetic (seeded per url_id —
stable across runs and executors) because ffmpeg is absent from the
test container. ``ffprobe_prober`` is a real subprocess-backed
implementation with the reference's 5 s open / 10 s interrupt
timeouts, used when ``ffprobe_available()``; every Spark-side
contract — schema, fan-out, batch shape, one-event-per-source — is
identical between the two.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from datetime import datetime, timezone

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from stream_processing_test_spark.schemas import (
    ERROR_CODES,
    PROBE_EVENT_SCHEMA,
    RESOLUTION_MAP,
)

# One probe outcome per source; field set mirrors PROBE_EVENT_SCHEMA
# minus created_time (stamped at emit, like StreamTest.cpp:296).
ProbeFn = Callable[[str, str], dict]

_PROTOCOLS = ["hls", "http", "rtmp", "rtsp", "udp"]
_VIDEO = ["h264", "hevc", "mpeg2video", "av1"]
_AUDIO = ["aac", "mp2", "ac3"]
_RESOLUTIONS = list(RESOLUTION_MAP.keys()) + ["0x0", ""]
_RATES = ["44100", "48000", "32000", ""]


def synthetic_prober(url_id: str, url: str) -> dict:
    """Deterministic fake probe: ~80% success with plausible metadata,
    ~20% an error code from the taxonomy (empty metadata — matching
    the reference, which only fills metadata it extracted before the
    failure). Seeded by url_id via the PORTABLE md5-derived 60-bit
    hash (llm.hashing.phash_py — not Python ``hash()``, which is
    salted per process): stable across runs and executors, AND
    replayable in SQL — which is what lets ``probe_source_events``
    carry a real DuckDB oracle instead of a rows-only check."""
    from stream_processing_test_spark.llm.hashing import phash_py

    h = phash_py(f"probe:{url_id}")
    if h % 10 < 8:
        return {
            "item": 0,
            "return_value": "",
            "streaming_protocol": _PROTOCOLS[h % len(_PROTOCOLS)],
            "bitrate": f"{500 + h % 7500} kb/s",
            "stream_length": str(10 + h % 90),
            "video_format": _VIDEO[h % len(_VIDEO)],
            "video_resolution": _RESOLUTIONS[h % len(_RESOLUTIONS)],
            "audio_format": _AUDIO[h % len(_AUDIO)],
            "audio_sampling_rate": _RATES[h % len(_RATES)],
        }
    code = ERROR_CODES[h % len(ERROR_CODES)]
    return {
        "item": code,
        "return_value": str(-(h % 1000)),
        "streaming_protocol": "",
        "bitrate": "",
        "stream_length": "",
        "video_format": "",
        "video_resolution": "",
        "audio_format": "",
        "audio_sampling_rate": "",
    }


def ffprobe_available(path: str | None = None) -> bool:
    """Capability check: is an ffprobe binary on PATH (or on an
    explicit ``path`` override — see :func:`ffprobe_prober`'s
    ``env``)?"""
    import shutil

    return shutil.which("ffprobe", path=path) is not None


_EMPTY_META = {
    "streaming_protocol": "",
    "bitrate": "",
    "stream_length": "",
    "video_format": "",
    "video_resolution": "",
    "audio_format": "",
    "audio_sampling_rate": "",
}


def _communicate_with_escalation(
    proc, total_timeout_s: float, kill_grace_s: float = 5.0
) -> bytes | None:
    """Wait for a probe subprocess with the reference's kill
    escalation (StreamTest.cpp:1121-1167): on timeout send SIGTERM,
    grant a grace period (5 s, :1131), then SIGKILL stragglers and
    reap. Returns stdout, or None if the process had to be killed."""
    import subprocess

    try:
        out, _ = proc.communicate(timeout=total_timeout_s)
        return out
    except subprocess.TimeoutExpired:
        proc.terminate()
        try:
            proc.wait(timeout=kill_grace_s)
        except subprocess.TimeoutExpired:
            proc.kill()
        proc.wait()
        return None


def ffprobe_prober(
    url_id: str,
    url: str,
    open_timeout_s: int = 5,
    total_timeout_s: int = 10,
    kill_grace_s: int = 5,
    env: dict | None = None,
) -> dict:
    """Real ffprobe-backed prober, mirroring the reference's
    ``OperationStream`` (StreamTest.cpp:1377-1675):

    - open timeout 5 s (``stimeout`` 5 000 000 µs, StreamTest.cpp:1386)
      passed as ffprobe ``-timeout``; hard 10 s interrupt budget
      (:1390-1391) enforced as the subprocess timeout, with the
      reference's TERM → 5 s grace → KILL escalation (:1121-1167) for
      a wedged child (``_communicate_with_escalation``);
    - metadata extraction (:1419-1474): container name as the protocol
      field, ``bit_rate/1000 + " kb/s"`` with the same
      format→video-stream→"N/A" fallback chain, integer-second
      duration or "N/A", first video/audio stream codec + "WxH"
      resolution + sample rate;
    - failures mapped onto the error taxonomy: timeout → 1012,
      open failure → 1001, unparseable stream info → 1002, no video
      stream → 1003, no audio stream → 1004 (partial metadata kept,
      exactly like the reference which only fills what it extracted
      before the failure).

    Degrades gracefully: raises RuntimeError at call time when no
    ffprobe binary is on PATH (use ``ffprobe_available()`` to gate, or
    inject ``synthetic_prober``). Kept per-URL so ``probe_sources``
    can fan it out via mapInPandas unchanged.

    ``env``: optional full environment for the child process (passed
    verbatim to ``subprocess.Popen``; its PATH also drives the binary
    check). Lets a deployment point a fanned-out prober at a pinned
    ffmpeg install — and lets tests shim the binary — WITHOUT mutating
    ``os.environ`` inside long-lived executor Python workers (ADVICE
    r13: a worker-side PATH mutation outlives the test that made
    it)."""
    import json
    import os
    import shutil
    import subprocess

    # Resolve the binary against the SAME search path the child will
    # actually use (ADVICE r14): with env given, Popen resolves a bare
    # "ffprobe" against env's PATH — falling back to os.defpath when
    # env has no PATH key — NOT os.environ's. Checking os.environ here
    # while the child searches elsewhere would pass the gate and then
    # die with FileNotFoundError instead of the contracted
    # RuntimeError. Passing the resolved absolute path to Popen makes
    # the gate and the exec see the identical binary.
    child_path = (
        env.get("PATH", os.defpath) if env is not None
        else os.environ.get("PATH", os.defpath)
    )
    binary = shutil.which("ffprobe", path=child_path)
    if binary is None:
        raise RuntimeError(
            "ffprobe binary not found on PATH; inject synthetic_prober "
            "or install ffmpeg"
        )
    cmd = [
        binary,
        "-v", "error",
        "-print_format", "json",
        "-show_format",
        "-show_streams",
        "-timeout", str(open_timeout_s * 1_000_000),
        url,
    ]
    proc = subprocess.Popen(
        cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, env=env
    )
    stdout = _communicate_with_escalation(proc, total_timeout_s, kill_grace_s)
    if stdout is None:
        return {"item": 1012, "return_value": "", **_EMPTY_META}
    if proc.returncode != 0:
        return {
            "item": 1001,
            "return_value": str(proc.returncode),
            **_EMPTY_META,
        }
    try:
        info = json.loads(stdout or b"{}")
        fmt = info.get("format", {})
        streams = info.get("streams", [])
    except json.JSONDecodeError:
        return {"item": 1002, "return_value": "", **_EMPTY_META}

    video = next((s for s in streams if s.get("codec_type") == "video"), None)
    audio = next((s for s in streams if s.get("codec_type") == "audio"), None)

    # bitrate fallback chain (StreamTest.cpp:1463-1474)
    if fmt.get("bit_rate"):
        bitrate = f"{int(fmt['bit_rate']) // 1000} kb/s"
    elif video is not None and video.get("bit_rate"):
        bitrate = f"{int(video['bit_rate']) // 1000} kb/s"
    else:
        bitrate = "N/A"

    meta = {
        "streaming_protocol": fmt.get("format_name", ""),
        "bitrate": bitrate,
        "stream_length": (
            str(int(float(fmt["duration"]))) if fmt.get("duration") else "N/A"
        ),
        "video_format": video.get("codec_name", "") if video else "",
        "video_resolution": (
            f"{video['width']}x{video['height']}"
            if video and "width" in video and "height" in video
            else ""
        ),
        "audio_format": audio.get("codec_name", "") if audio else "",
        "audio_sampling_rate": audio.get("sample_rate", "") if audio else "",
    }
    if video is None:
        return {"item": 1003, "return_value": "", **meta}
    if audio is None:
        return {"item": 1004, "return_value": "", **meta}
    return {"item": 0, "return_value": "", **meta}


_CANCELLED = {"item": 1012, "return_value": "cancelled", **_EMPTY_META}
_WEDGED = {"item": 1012, "return_value": "wedged", **_EMPTY_META}


def _probe_with_watchdog(prober: ProbeFn, url_id: str, url: str, timeout_s: float) -> dict:
    """Run one probe under a hard wall-clock watchdog: the prober runs
    in a daemon thread joined with ``timeout_s``; a wedged probe (one
    that ignores its own timeouts) yields a STREAM_TIMEOUT event and
    the batch moves on — the thread-level analog of the reference's
    interrupt callback (StreamTest.cpp:119-131). Python threads cannot
    be killed, so a truly wedged prober leaks a daemon thread; the real
    kill lives one layer down, in the prober's own subprocess
    escalation (``_communicate_with_escalation``) — same split as the
    reference (interrupt_cb in-process, SIGKILL from the parent)."""
    import threading

    box: dict = {}

    def run() -> None:
        box["result"] = prober(url_id, url)

    t = threading.Thread(target=run, daemon=True)
    t.start()
    t.join(timeout_s)
    return box.get("result", dict(_WEDGED)) if not t.is_alive() else dict(_WEDGED)


def probe_sources(
    sources: DataFrame,
    prober: ProbeFn = synthetic_prober,
    created_time: datetime | None = None,
    stop: Callable[[], bool] | None = None,
    probe_timeout_s: float | None = None,
) -> DataFrame:
    """Fan a sources dimension (id, url, target_matching,
    target_matching_id) out to probes; one outcome event per source.

    mapInPandas: the probe loop runs per Arrow batch on executors —
    the distributed replacement for the reference's fork()-per-source
    round scheduler (StreamTest.cpp:1083-1176). ``created_time``
    defaults to now(UTC), server-stamped like the reference; pass a
    fixed value for deterministic tests.

    Cancellation (T7, StreamTest.cpp:807-815, 1121-1167):

    - ``stop``: zero-arg callable checked BETWEEN probes on the
      executor (the cooperative analog of the reference's shared-mmap
      stop flag; make it executor-evaluable, e.g. a closure testing a
      shared filesystem path). Once it returns True, remaining sources
      in the batch emit STREAM_TIMEOUT (1012) events with
      ``return_value='cancelled'`` WITHOUT invoking the prober. The
      reference silently drops killed stragglers' events; we emit a
      row per source so downstream per-source rollups stay total —
      deviation documented here.
    - ``probe_timeout_s``: per-probe hard wall-clock watchdog for
      probers that ignore their own timeouts (``_probe_with_watchdog``).
    """
    from stream_processing_test_spark.session import ensure_package_shipped

    ensure_package_shipped(sources.sparkSession)
    stamp = created_time or datetime.now(timezone.utc).replace(tzinfo=None)
    cols = PROBE_EVENT_SCHEMA.fieldNames()

    def one(url_id: str, url: str) -> dict:
        if stop is not None and stop():
            return dict(_CANCELLED)
        if probe_timeout_s is not None:
            return _probe_with_watchdog(prober, url_id, url, probe_timeout_s)
        return prober(url_id, url)

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            results = [
                one(str(u), str(url))
                for u, url in zip(pdf["id"], pdf["url"])
            ]
            out = pd.DataFrame(results)
            out.insert(0, "url_id", pdf["id"].astype(str).to_numpy())
            out.insert(1, "flow_address", pdf["url"].astype(str).to_numpy())
            out["lag_details"] = ""
            out["created_time"] = stamp
            out["target_matching_id"] = (
                pdf["target_matching_id"].astype(str).to_numpy()
            )
            out["target_matching"] = pdf["target_matching"].astype(str).to_numpy()
            yield out[cols]

    return sources.mapInPandas(op, schema=PROBE_EVENT_SCHEMA)


from stream_processing_test_spark.registry import register  # noqa: E402
from stream_processing_test_spark.tables import load  # noqa: E402


def _probe_oracle() -> str:
    """DuckDB replay of the synthetic prober + the per-code rollup:
    possible because the prober's branching is a pure function of the
    portable md5-derived hash, and its option lists are emitted into
    the SQL from the SAME Python constants (single source of truth)."""
    from stream_processing_test_spark.llm.hashing import phash_sql

    codes = ", ".join(str(c) for c in ERROR_CODES)
    resolutions = ", ".join(f"'{r}'" for r in _RESOLUTIONS)
    h = phash_sql("'probe:' || CAST(c_custkey AS VARCHAR)")
    return f"""
WITH hh AS (SELECT {h} AS h FROM customer),
ev AS (
    SELECT CASE WHEN h % 10 < 8 THEN 0
                ELSE ([{codes}])[CAST(h % {len(ERROR_CODES)} AS INT) + 1]
           END AS item,
           CASE WHEN h % 10 < 8
                THEN ([{resolutions}])[CAST(h % {len(_RESOLUTIONS)} AS INT) + 1]
                ELSE '' END AS video_resolution
    FROM hh)
SELECT CAST(item AS INT) AS item,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CASE WHEN video_resolution <> '' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_with_resolution
FROM ev GROUP BY item ORDER BY item
"""


@register(
    "probe_source_events", oracle=_probe_oracle(), survey_ops="S4,S5,T1,F13", tier=0
)
def probe_source_events(spark, sf_dir: str) -> DataFrame:
    """S4 end-to-end: customer rows stand in for the source dimension
    (FIXTURES.md mapping), the synthetic prober emits one
    PROBE_EVENT_SCHEMA row each, and the result aggregates per error
    code — proving the connector's schema, fan-out and determinism.

    Oracle-checked: the synthetic prober's outcome is a pure function
    of the portable hash, so the DuckDB oracle replays probe fan-out,
    outcome mixing and the rollup end-to-end. (A real ffprobe prober
    is inherently non-SQL; this query pins the connector machinery
    around it.)"""
    c = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("string").alias("id"),
        F.concat(F.lit("http://stream/"), F.col("c_custkey")).alias("url"),
        F.col("c_name").alias("target_matching"),
        F.col("c_nationkey").cast("string").alias("target_matching_id"),
    )
    events = probe_sources(c, created_time=datetime(2024, 1, 15, 12, 0, 0))
    return (
        events.groupBy("item")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.when(F.col("video_resolution") != "", 1).otherwise(0)).alias(
                "n_with_resolution"
            ),
        )
        .orderBy("item")
    )
