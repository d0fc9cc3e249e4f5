"""Multi-format ingestion for the reference's event envelope.

The reference emits each probe outcome as a JSON object
(StreamTest.cpp:283-299) that is INSERTed into MySQL; the JSON is a
transport envelope, not a storage format (SURVEY §1). This adapter
accepts that envelope from any of the formats a real deployment lands
events in — JSON-lines, CSV, parquet, or ORC — and applies the §1.3
edge normalization in ONE place:

- explicit ``PROBE_EVENT_SCHEMA`` for the text formats, parsed in
  ``FAILFAST`` mode — a truncated JSON line or a wrong-column-count CSV
  row fails the read loudly instead of PERMISSIVE's silent all-NULL row
  (which downstream '' -> NULL semantics could not distinguish from a
  legitimately-empty event). CSV reads ``multiLine`` so quoted fields
  carrying embedded newlines (ffmpeg error text) stay one record;
- columnar formats (parquet/ORC) are self-describing: read natively,
  then every attribute column is cast to its schema type — so a lake
  that landed ``created_time`` as a transport string still ingests
  (parsed by dtype), and one that landed it typed passes through;
- ``'' -> NULL`` on every attribute string column via the shared
  :func:`functions.scalars.blank_to_null_sql` (the single definition of the
  reference's empty-string missing-value sentinel).

Both batch (``read_probe_events``) and Structured Streaming
(``stream_probe_events``) share the schema, options and normalization
through the same helpers, so the two paths cannot drift.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from stream_processing_test_spark.functions.scalars import blank_to_null_sql
from stream_processing_test_spark.schemas import PROBE_EVENT_SCHEMA
from stream_processing_test_spark.session import finish_with

_FORMATS = ("json", "csv", "parquet", "orc")

# In transport formats every non-string-typed field travels as its
# reference string form — the reference envelope emits item and
# return_value via std::to_string and created_time as a UTC string
# (StreamTest.cpp:283-299) — so the transport schema is all-strings
# and the typed PROBE_EVENT_SCHEMA applies after parsing in
# _normalize. (An int-typed transport `item` would make a FAILFAST
# read of an actual reference-emitted envelope, where the value is the
# JSON string "0", fail with CANNOT_PARSE_JSON_FIELD.)
TRANSPORT_SCHEMA = T.StructType(
    [
        f
        if isinstance(f.dataType, T.StringType)
        else T.StructField(f.name, T.StringType(), True)
        for f in PROBE_EVENT_SCHEMA.fields
    ]
)


def _parse_or_fail(raw: str, parsed: str, what: str) -> str:
    """No-silent-nulls contract: a transport string that fails to parse
    into its typed form must fail the read loudly — with ANSI off,
    to_timestamp/cast would otherwise yield NULL, indistinguishable
    from a legitimately-missing value and corrupting downstream
    ordering/rollups."""
    return (
        f"CASE WHEN {raw} IS NOT NULL AND {parsed} IS NULL "
        f"THEN raise_error(concat('unparseable {what}: ', {raw})) "
        f"ELSE {parsed} END"
    )


def _normalize(df: DataFrame) -> DataFrame:
    """§1.3 edge normalization: '' -> NULL on attribute strings, every
    column cast to its PROBE_EVENT_SCHEMA type, and typed fields
    (created_time, item) parsed LOUDLY from their reference string
    forms when they arrived as strings. One ``selectExpr``: the plan is
    built in one py4j call, not a chain per field."""
    arrived = {f.name: f.dataType for f in df.schema.fields}
    cols = []
    for f in PROBE_EVENT_SCHEMA.fields:
        typ = f.dataType.simpleString()
        if isinstance(f.dataType, T.StringType):
            c = blank_to_null_sql(f"CAST({f.name} AS STRING)")
        elif isinstance(arrived[f.name], T.StringType):
            # typed field carried in its transport string form; '' is
            # the missing-value sentinel (uniformly — created_time
            # included), anything else must parse
            s = blank_to_null_sql(f.name)
            parsed = (
                f"to_timestamp({s}, 'yyyy-MM-dd HH:mm:ss')"
                if f.name == "created_time"
                else f"CAST({s} AS {typ})"
            )
            c = _parse_or_fail(s, parsed, f.name)
        else:
            c = f"CAST({f.name} AS {typ})"
        cols.append(f"{c} AS {f.name}")
    return df.selectExpr(*cols)


def _csv_transport_schema(
    spark: SparkSession, path: str, allow_empty: bool = False
) -> T.StructType:
    """CSV binds an explicit schema BY POSITION (header names are
    ignored under enforceSchema), so an externally-produced file with
    reordered columns would silently scramble the string-typed
    attribute fields. Read the header names first (cheap: Spark reads
    only the first file's header to derive columns) and return the
    transport schema permuted into the file's column order — unknown
    or missing columns fail loudly. _normalize re-selects canonical
    order afterwards.

    Only the FIRST file's header is probed (that is all Spark's column
    derivation reads) — a later file with yet another order is caught
    at scan time instead: the read sets ``enforceSchema=false``, so
    Spark validates EVERY file's header against the bound (permuted)
    schema and fails loudly on a mismatch rather than binding it
    positionally.

    ``allow_empty`` (streaming only): a stream may be defined before
    its first file lands, so a path with no data yet falls back to the
    canonical column order — with a warning, because files that later
    land with a reordered header would only fail at scan time (via
    enforceSchema), not rebind by name. The fallback triggers ONLY on
    the no-files AnalysisException — any other probe failure
    propagates, never silently degrading to positional binding."""
    import warnings

    from pyspark.errors import AnalysisException

    try:
        header = (
            spark.read.format("csv").option("header", "true").load(path).columns
        )
    except AnalysisException:
        if allow_empty:
            warnings.warn(
                f"CSV stream source {path} is empty at definition time; "
                "binding the canonical envelope column order. Files that "
                "land with a REORDERED header will fail the scan loudly "
                "(enforceSchema=false) instead of binding by name — "
                "define the stream after the first file lands to bind "
                "a non-canonical order.",
                stacklevel=3,
            )
            return TRANSPORT_SCHEMA
        raise
    by_name = {f.name: f for f in TRANSPORT_SCHEMA.fields}
    if list(by_name) == header:
        return TRANSPORT_SCHEMA
    if set(header) != set(by_name):
        missing = sorted(set(by_name) - set(header))
        extra = sorted(set(header) - set(by_name))
        raise ValueError(
            f"CSV header at {path} does not match the envelope schema: "
            f"missing {missing}, unexpected {extra}"
        )
    return T.StructType([by_name[name] for name in header])


def _read(
    reader,
    fmt: str,
    path: str,
    spark: SparkSession,
    streaming: bool = False,
    multiline: bool = True,
) -> DataFrame:
    if fmt not in _FORMATS:
        raise ValueError(f"unknown format {fmt!r}; expected one of {_FORMATS}")
    reader = reader.format(fmt)
    if fmt == "json":
        # text formats: explicit schema + loud parse failures
        reader = reader.schema(TRANSPORT_SCHEMA).option("mode", "FAILFAST")
    elif fmt == "csv":
        reader = (
            reader.schema(
                _csv_transport_schema(spark, path, allow_empty=streaming)
            )
            .option("mode", "FAILFAST")
            .option("header", "true")
            .option("multiLine", str(multiline).lower())
            # validate every file's header against the bound schema —
            # a mismatched later file fails loudly instead of binding
            # its columns positionally (the first-file probe above can
            # only see one header)
            .option("enforceSchema", "false")
        )
    # parquet/orc: self-describing — _normalize casts to the schema
    return _normalize(reader.load(path))


def read_probe_events(
    spark: SparkSession,
    path: str,
    fmt: str = "json",
    multiline: bool = True,
) -> DataFrame:
    """Batch read of envelope events from ``path`` in ``fmt``
    (json = JSON-lines, csv, parquet, orc), schema-enforced and
    edge-normalized.

    ``multiline`` (CSV only, default True): quoted fields carrying
    embedded newlines — ffmpeg error text — must stay one record, which
    requires ``multiLine`` parsing. SCALE BOUND: a multiLine CSV file is
    NOT splittable — Spark assigns one task per file regardless of size
    (pinned by test_envelope::test_multiline_csv_is_one_task_per_file),
    so a single fat CSV reads serially. CSV lakes are many small files
    in practice; producers that guarantee newline-free fields can pass
    ``multiline=False`` to restore byte-range splitting. JSON-lines,
    parquet and ORC paths are splittable regardless."""
    return _read(spark.read, fmt, path, spark, multiline=multiline)


def write_probe_events(df: DataFrame, path: str, fmt: str = "json") -> None:
    """S5 append-sink twin of :func:`read_probe_events`: land envelope
    events at ``path`` in ``fmt``. Text formats serialize
    ``created_time`` back to the reference's UTC string form and
    re-materialize NULL attributes as ``''`` (the MySQL-compatible
    edge, SURVEY §1.3) so a write→read roundtrip through ANY format is
    the identity after normalization."""
    if fmt not in _FORMATS:
        raise ValueError(f"unknown format {fmt!r}; expected one of {_FORMATS}")
    if fmt in ("json", "csv"):
        cols = []
        for f in PROBE_EVENT_SCHEMA.fields:
            c = F.col(f.name)
            if f.name == "created_time":
                c = F.date_format(c, "yyyy-MM-dd HH:mm:ss")
            elif isinstance(f.dataType, T.StringType):
                c = F.coalesce(c, F.lit(""))
            else:
                # typed fields travel in their reference string form
                # (std::to_string; '' = the missing-value sentinel)
                c = F.coalesce(c.cast("string"), F.lit(""))
            cols.append(c.alias(f.name))
        df = df.select(*cols)
    writer = df.write.mode("append").format(fmt)
    if fmt == "csv":
        # the CSV WRITER trims cell whitespace by default
        # (ignore*WhiteSpace=true on write, unlike the reader) — which
        # would silently mutate attribute strings like ffmpeg error
        # text; keep the roundtrip byte-exact instead
        writer = (
            writer.option("header", "true")
            .option("ignoreLeadingWhiteSpace", "false")
            .option("ignoreTrailingWhiteSpace", "false")
        )
    writer.save(path)


# ---------------------------------------------------------------------------
# Driver-gate coverage: envelope ingest end-to-end (S5/S11/§1.3)
# ---------------------------------------------------------------------------
# Option lists shared by the Spark derivation and the DuckDB oracle —
# single source of truth, like the probe connector's (probe.py).
_ENV_PROTOCOLS = ("hls", "mpegts", "flv", "")
_ENV_RESOLUTIONS = ("1920x1080", "1280x720", "0x0", "")
_ENV_BASE_EPOCH = 1_705_276_800  # 2024-01-15 00:00:00 UTC


def _envelope_oracle() -> str:
    """DuckDB replay of the deterministic envelope derivation + rollup.
    The Spark side routes the SAME derived events through an actual
    JSON-lines write -> FAILFAST read -> normalize cycle, so a value
    mismatch here means the adapter corrupted something in transit."""
    from stream_processing_test_spark.llm.hashing import phash_sql

    protos = ", ".join(f"'{p}'" for p in _ENV_PROTOCOLS)
    res = ", ".join(f"'{r}'" for r in _ENV_RESOLUTIONS)
    key = "CAST(c_custkey AS VARCHAR)"
    h0, h1, h2, h3 = (phash_sql(f"'env{i}:' || {key}") for i in range(4))
    return f"""
WITH hh AS (
    SELECT {h0} AS h0, {h1} AS h1, {h2} AS h2, {h3} AS h3 FROM customer
), ev AS (
    SELECT CASE WHEN h0 % 10 < 8 THEN 0
                ELSE 1001 + CAST(h0 % 16 AS INT) END AS item,
           NULLIF(([{protos}])[CAST(h1 % {len(_ENV_PROTOCOLS)} AS INT) + 1], '')
               AS streaming_protocol,
           NULLIF(([{res}])[CAST(h2 % {len(_ENV_RESOLUTIONS)} AS INT) + 1], '')
               AS video_resolution,
           TIMESTAMP '2024-01-15 00:00:00' + (h3 % 86400) * INTERVAL 1 SECOND
               AS created_time
    FROM hh)
SELECT CAST(item AS INT) AS item,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(streaming_protocol) AS BIGINT) AS n_with_protocol,
       CAST(SUM(CASE WHEN video_resolution IS NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_missing_resolution,
       strftime(MIN(created_time), '%Y-%m-%d %H:%M:%S') AS min_created,
       strftime(MAX(created_time), '%Y-%m-%d %H:%M:%S') AS max_created
FROM ev GROUP BY item
"""


def _envelope_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deterministic reference-shaped envelope events for
    ``sf_dir``: derived from the customer table with portable-hash
    outcomes (like ``probe_source_events``), in the typed
    ``PROBE_EVENT_SCHEMA`` shape :func:`write_probe_events` serializes
    (created_time/item in their reference string forms, NULLs
    re-materialized as ``''``)."""
    from stream_processing_test_spark.llm.hashing import phash
    from stream_processing_test_spark.tables import load

    def pick(h, options):
        arr = F.array(*[F.lit(o) for o in options])
        return F.element_at(arr, (h % len(options) + 1).cast("int"))

    key = F.col("c_custkey").cast("string")
    hs = [phash(F.concat(F.lit(f"env{i}:"), key)) for i in range(4)]
    return load(spark, sf_dir, "customer").select(
        key.alias("url_id"),
        F.concat(F.lit("http://stream/"), key).alias("flow_address"),
        F.when(hs[0] % 10 < 8, 0)
        .otherwise(1001 + (hs[0] % 16))
        .cast("int")
        .alias("item"),
        F.lit("0").alias("return_value"),
        F.lit("").alias("lag_details"),
        pick(hs[1], _ENV_PROTOCOLS).alias("streaming_protocol"),
        F.lit("").alias("bitrate"),
        F.lit("").alias("stream_length"),
        F.lit("").alias("video_format"),
        pick(hs[2], _ENV_RESOLUTIONS).alias("video_resolution"),
        F.lit("").alias("audio_format"),
        F.lit("").alias("audio_sampling_rate"),
        F.timestamp_seconds(F.lit(_ENV_BASE_EPOCH) + hs[3] % 86400).alias(
            "created_time"
        ),
        key.alias("target_matching_id"),
        F.lit("").alias("target_matching"),
    )


def _envelope_roundtrip_rollup(
    spark: SparkSession, sf_dir: str, fmt: str
) -> DataFrame:
    """Land the envelope events as ``fmt`` in a temporary directory
    through :func:`write_probe_events`, ingest them back through
    :func:`read_probe_events`, and roll them up — materialized before
    the directory goes, so the query leaves no files behind."""
    with tempfile.TemporaryDirectory(prefix="envelope_") as tmp:
        out = os.path.join(tmp, "events")
        write_probe_events(_envelope_events(spark, sf_dir), out, fmt=fmt)
        return finish_with(
            _envelope_rollup_agg(read_probe_events(spark, out, fmt=fmt))
        )


def _envelope_rollup_agg(landed: DataFrame) -> DataFrame:
    """The per-error-code rollup applied to a normalized envelope frame
    — ONE definition shared by the batch and streaming twins, so the
    two queries cannot drift on the aggregation they claim parity on."""
    return landed.groupBy("item").agg(
        F.count("*").alias("n_events"),
        F.count("streaming_protocol").alias("n_with_protocol"),
        F.sum(
            F.when(F.col("video_resolution").isNull(), 1).otherwise(0)
        ).alias("n_missing_resolution"),
        F.date_format(F.min("created_time"), "yyyy-MM-dd HH:mm:ss").alias(
            "min_created"
        ),
        F.date_format(F.max("created_time"), "yyyy-MM-dd HH:mm:ss").alias(
            "max_created"
        ),
    )


def _register_envelope_rollup() -> None:
    from stream_processing_test_spark.registry import register

    @register(
        "envelope_rollup",
        oracle=_envelope_oracle(),
        survey_ops="S5,S11,T1,A3,F9",
        tier=0,
    )
    def envelope_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
        """S5 multi-format ingest, driver-checked end-to-end: derive
        deterministic reference-shaped envelope events from the
        customer table, land them as an actual JSON-lines envelope via
        :func:`write_probe_events`, ingest them back through
        :func:`read_probe_events` (FAILFAST, loud typed-field parse,
        '' -> NULL), and roll up per error code. The DuckDB oracle
        replays the derivation + rollup WITHOUT the write/read cycle —
        a hash mismatch means the adapter corrupted a value in
        transit."""
        return _envelope_roundtrip_rollup(spark, sf_dir, "json")

    @register(
        "envelope_rollup_csv",
        oracle=_envelope_oracle(),
        survey_ops="S5,S7,S11,A3,F9",
        tier=0,
    )
    def envelope_rollup_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
        """The CSV half of the S5 adapter, driver-checked end-to-end:
        the same deterministic envelope events landed as an actual CSV
        envelope via :func:`write_probe_events` (header,
        whitespace-verbatim cells, '' for NULL attributes) and ingested
        back through :func:`read_probe_events` (header-permutation
        binding probe, enforceSchema=false per-file header validation,
        FAILFAST, multiLine, '' -> NULL) — the most-hardened ingest
        format in the adapter, previously proven by pytest alone
        (VERDICT r7 item 5). Same rollup, same oracle as
        ``envelope_rollup``: a hash mismatch means the CSV write/read
        cycle corrupted a value in transit."""
        return _envelope_roundtrip_rollup(spark, sf_dir, "csv")

    @register(
        "envelope_rollup_parquet",
        oracle=_envelope_oracle(),
        survey_ops="S5,S11,A3,F9",
        tier=0,
    )
    def envelope_rollup_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
        """The PARQUET half of the S5 adapter, driver-checked
        end-to-end (VERDICT r8 missing #2 — previously pytest-only):
        the same deterministic envelope events landed as a parquet
        envelope via :func:`write_probe_events` (self-describing, so
        no string serialization edge) and ingested back through
        :func:`read_probe_events` (``_normalize`` casts to the typed
        schema, '' -> NULL). Same rollup, same oracle as
        ``envelope_rollup``: a hash mismatch means the parquet
        write/read cycle corrupted a value in transit."""
        return _envelope_roundtrip_rollup(spark, sf_dir, "parquet")

    @register(
        "envelope_rollup_orc",
        oracle=_envelope_oracle(),
        survey_ops="S5,S11,A3,F9",
        tier=0,
    )
    def envelope_rollup_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
        """The ORC half of the S5 adapter, driver-checked end-to-end
        (VERDICT r8 missing #2): the same deterministic envelope
        events landed as an ORC envelope via
        :func:`write_probe_events` and ingested back through
        :func:`read_probe_events`. Same rollup, same oracle as
        ``envelope_rollup``."""
        return _envelope_roundtrip_rollup(spark, sf_dir, "orc")

    @register(
        "streaming_envelope_rollup",
        oracle=_envelope_oracle(),
        survey_ops="S5,S11,T1,T3,A3,F9",
        tier=0,
    )
    def streaming_envelope_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
        """The STREAMING half of the envelope adapter, driver-checked:
        the same events landed as JSON-lines in a temporary directory
        (removed once the stream has stopped) and ingested through
        :func:`stream_probe_events` (file-source micro-batches, same
        schema/options/normalization as the batch read by
        construction), aggregated with the SAME rollup
        (:func:`_envelope_rollup_agg`) in complete mode, against the
        SAME DuckDB oracle as ``envelope_rollup`` — batch/stream ingest
        parity proven by the driver, not just pytest."""
        from stream_processing_test_spark.streaming.pipeline import (
            replay_to_memory,
        )

        with tempfile.TemporaryDirectory(prefix="envelope_") as tmp:
            out = os.path.join(tmp, "events")
            write_probe_events(_envelope_events(spark, sf_dir), out)
            return replay_to_memory(
                spark,
                sf_dir,
                lambda scoped, _: _envelope_rollup_agg(
                    stream_probe_events(scoped, out, fmt="json")
                ),
            )


_register_envelope_rollup()


def stream_probe_events(
    spark: SparkSession,
    path: str,
    fmt: str = "json",
) -> DataFrame:
    """Streaming twin of :func:`read_probe_events` — same schema, same
    options, same normalization, file-source micro-batches. CSV reads
    multi-line, the batch read's default (see
    :func:`read_probe_events`)."""
    if fmt in ("parquet", "orc"):
        # a file STREAM cannot self-describe (schema must exist before
        # data) — pin the typed schema up front
        return _normalize(
            spark.readStream.format(fmt)
            .schema(PROBE_EVENT_SCHEMA)
            .load(path)
        )
    return _read(spark.readStream, fmt, path, spark, streaming=True)
