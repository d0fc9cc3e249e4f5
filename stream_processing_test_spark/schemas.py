"""Single source of truth for every schema and taxonomy in the engine.

Reference parity (see SURVEY.md §1):
- ``PROBE_EVENT_SCHEMA``   — fact table ``ffmpeg_flow_detection``
  (reference: StreamRecord, StreamTest.h:196-213; INSERT payload
  StreamTest.cpp:283-299).
- ``STREAM_SOURCE_SCHEMA`` — dimension ``live_stream_sources``
  (reference: StreamInfo, StreamTest.h:215-231 + score/vendor columns
  StreamTest.cpp:441-464).
- ``BROADCAST_DETAIL_SCHEMA`` — dimension ``live_broadcast_details``
  (reference: BroadcastDetailsInfo, StreamTest.h:234-238).
- ``ERROR_TAXONOMY``       — 17-code error enum + messages
  (reference: StreamError / StreamErrorMap, StreamTest.h:38-77).
- ``RESOLUTION_MAP``       — "WxH" → ordinal classification
  (reference: VideoResolutionType / resolutionMap / getResolutionType,
  StreamTest.h:121-194).

The reference stores almost everything as strings (even bitrate
"1234 kb/s") with MySQL NULL coerced to "" on read; we keep proper
Spark types and normalize ``'' -> NULL`` at ingest (see
``functions.scalars.blank_to_null``).
"""

from __future__ import annotations

from pyspark.sql import types as T

# --------------------------------------------------------------------------
# Reference-domain tables
# --------------------------------------------------------------------------

PROBE_EVENT_SCHEMA = T.StructType(
    [
        T.StructField("url_id", T.StringType(), True),
        T.StructField("flow_address", T.StringType(), True),
        T.StructField("item", T.IntegerType(), True),  # error code, 0 = success
        T.StructField("return_value", T.StringType(), True),
        T.StructField("lag_details", T.StringType(), True),
        T.StructField("streaming_protocol", T.StringType(), True),
        T.StructField("bitrate", T.StringType(), True),  # "1234 kb/s" — string-typed
        T.StructField("stream_length", T.StringType(), True),
        T.StructField("video_format", T.StringType(), True),
        T.StructField("video_resolution", T.StringType(), True),  # "WxH" / "0x0" / ""
        T.StructField("audio_format", T.StringType(), True),
        T.StructField("audio_sampling_rate", T.StringType(), True),
        T.StructField("created_time", T.TimestampType(), True),  # UTC
        T.StructField("target_matching_id", T.StringType(), True),
        T.StructField("target_matching", T.StringType(), True),
    ]
)

STREAM_SOURCE_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField("url", T.StringType(), True),
        T.StructField("target_matching", T.StringType(), True),
        T.StructField("target_matching_id", T.StringType(), True),
        T.StructField("video_format", T.StringType(), True),
        T.StructField("video_resolution", T.StringType(), True),
        T.StructField("audio_format", T.StringType(), True),
        T.StructField("audio_sampling_rate", T.StringType(), True),
        T.StructField("resolution_type", T.IntegerType(), True),
        T.StructField("flow_score", T.IntegerType(), True),
        T.StructField("is_del", T.IntegerType(), True),
        T.StructField("stream_type", T.StringType(), True),
    ]
)

BROADCAST_DETAIL_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField("stream_name", T.StringType(), True),
    ]
)

# --------------------------------------------------------------------------
# Error taxonomy (StreamError enum, StreamTest.h:38-56; messages :59-77)
# --------------------------------------------------------------------------
# (code, name, message). Messages are English renderings of the
# reference's labels; the codes and their meanings are exact.

ERROR_TAXONOMY: list[tuple[int, str, str]] = [
    (0, "SUCCESS", "success"),
    (1001, "OPEN_INPUT_FAILED", "failed to open input stream"),
    (1002, "FIND_STREAM_INFO_FAILED", "failed to read stream info"),
    (1003, "NO_VIDEO_STREAM", "no video stream found"),
    (1004, "NO_AUDIO_STREAM", "no audio stream found"),
    (1005, "VIDEO_DECODER_NOT_FOUND", "video decoder not found"),
    (1006, "AUDIO_DECODER_NOT_FOUND", "audio decoder not found"),
    (1007, "VIDEO_DECODER_OPEN_FAILED", "failed to open video decoder"),
    (1008, "AUDIO_DECODER_OPEN_FAILED", "failed to open audio decoder"),
    (1009, "READ_FRAME_FAILED", "failed to read frame"),
    (1010, "VIDEO_DECODE_FAILED", "video decode failed"),
    (1011, "AUDIO_DECODE_FAILED", "audio decode failed"),
    (1012, "STREAM_TIMEOUT", "stream read timeout"),
    (1013, "BITRATE_ABNORMAL", "bitrate abnormal"),
    (1014, "RESOLUTION_ABNORMAL", "resolution abnormal"),
    (1015, "LAG_DETECTED", "stream lag detected"),
    (1016, "DTS_PTS_FAILED", "dts/pts monotonicity check failed"),
]

ERROR_CODES: list[int] = [c for c, _, _ in ERROR_TAXONOMY if c != 0]

# --------------------------------------------------------------------------
# Resolution taxonomy (VideoResolutionType, StreamTest.h:121-149; map :152-179)
# --------------------------------------------------------------------------
# Ordinals count from UNKNOWN = 1 exactly as the reference enum does; the
# ">= FHD 1080p" predicate used for the " FHD"/" HD" program-name suffix
# is ordinal >= 17 (StreamTest.cpp:1001-1002).

RESOLUTION_UNKNOWN = 1
RESOLUTION_CUSTOM = 27
RESOLUTION_FHD_THRESHOLD = 17  # >= this ordinal means >= 1080p

RESOLUTION_MAP: dict[str, int] = {
    # SD ladder
    "160x120": 2,
    "320x240": 3,
    "352x240": 4,
    "352x288": 5,
    "480x360": 6,
    "640x360": 7,
    "640x480": 8,
    "720x480": 9,
    "720x576": 10,
    "800x600": 11,
    "960x540": 12,
    "1024x576": 13,
    "1024x768": 14,
    # HD
    "1280x720": 15,
    "1366x768": 16,
    # FHD and up (ordinal >= 17 → " FHD" suffix)
    "1920x1080": 17,
    "2048x1080": 18,
    "2560x1440": 19,
    "3440x1440": 20,
    "3840x2160": 21,
    "4096x2160": 22,
    "5120x2880": 23,
    "7680x4320": 24,
    "8192x4320": 25,
    "15360x8640": 26,
}
