"""Scalar helpers shared across operators (SURVEY.md §2.7).

All of these are Column-in/Column-out expression builders — they stay
inside whole-stage codegen (no Python UDFs on the hot path).
"""

from __future__ import annotations

from datetime import datetime, timedelta, timezone

from pyspark.sql import Column
from pyspark.sql import functions as F

from stream_processing_test_spark.schemas import (
    RESOLUTION_CUSTOM,
    RESOLUTION_MAP,
    RESOLUTION_UNKNOWN,
)


def blank_to_null(col: Column) -> Column:
    """Normalize the reference's ``''`` missing-value sentinel to NULL
    at ingest (reference coerces MySQL NULL to "" on read,
    StreamTest.cpp:399-413; we invert that at the Spark edge). F9."""
    return F.nullif(col, F.lit(""))


def availability_score(n_detection: Column, n_error: Column) -> Column:
    """A6 (StreamTest.cpp:985-996): ``int((n - err) / n * 100)``,
    clamped at 0. C++ int-cast truncates toward zero; the operands are
    >= 0, so floor is the same. Counts come from ``count(*)`` per
    group, so ``n`` is never 0."""
    return F.greatest(
        F.floor((n_detection - n_error).cast("double") / n_detection * 100),
        F.lit(0),
    ).cast("int")


def first_real_resolution(value: Column, order: Column) -> Column:
    """A4's resolution fold (StreamTest.cpp:898-910) as one aggregate:
    the first ``value`` by ``order`` that is neither '' nor '0x0', else
    the last ``value``. The reference's fold overwrites a stored '' or
    '0x0' with the next row's value, empty included, until a real
    resolution freezes it, so ('0x0', '') ends as ''.

    ``min_by`` skips rows whose ordering is NULL, which filters it to
    real values without a window sort."""
    real = value.isNotNull() & ~value.isin("", "0x0")
    return F.coalesce(
        F.min_by(value, F.when(real, order)), F.max_by(value, order)
    )


def classify_resolution(col: Column) -> Column:
    """'WxH' string -> resolution ordinal (F7).

    Mirrors getResolutionType (reference StreamTest.h:181-194):
    empty / '0x0' -> UNKNOWN(1); a known 'WxH' -> its ordinal;
    any other non-empty value -> CUSTOM(27). Implemented as a literal
    map lookup (constant-folded, no join, no shuffle).
    """
    mapping = F.create_map(
        *[F.lit(x) for kv in RESOLUTION_MAP.items() for x in kv]
    )
    return (
        F.when(col.isNull() | (col == "") | (col == "0x0"), F.lit(RESOLUTION_UNKNOWN))
        .otherwise(F.coalesce(mapping[col], F.lit(RESOLUTION_CUSTOM)))
    )


def parse_bitrate_kbps(col: Column) -> Column:
    """String-typed bitrate ('1234 kb/s' / 'N/A' / '') -> int kbps or NULL.

    The reference keeps bitrate as a display string (StreamTest.cpp:1465-1473)
    and ad-hoc atoi()s it where math is needed; we parse with a regex at
    the edge and keep the raw string column intact.
    """
    extracted = F.regexp_extract(col, r"^(\d+)\s*kb/s$", 1)
    return F.when(extracted == "", None).otherwise(extracted.cast("int"))


def crosses_next_utc_midnight(now: datetime, wait_minutes: int) -> bool:
    """F3: does sleeping ``wait_minutes`` from ``now`` reach or cross
    the next UTC midnight?

    Mirrors the reference's day-close trigger ``isLastLoop``
    (StreamTest.cpp:47-70): compute tomorrow 00:00:00 UTC from the
    current UTC calendar day and test ``now + wait >= midnight``
    (inclusive — landing exactly ON midnight counts as the last loop of
    the day, per the reference's ``>=``). The reference polls this
    between 120-minute report cycles to decide when to run the
    final day-end upsert; the streaming pipeline gets the same effect
    from watermark-driven window finalization, and batch/driver loops
    use this predicate directly."""
    if now.tzinfo is None:
        now = now.replace(tzinfo=timezone.utc)
    else:
        now = now.astimezone(timezone.utc)
    next_midnight = (now + timedelta(days=1)).replace(
        hour=0, minute=0, second=0, microsecond=0
    )
    return now + timedelta(minutes=wait_minutes) >= next_midnight


def crosses_next_utc_midnight_col(ts: Column, wait_minutes: int) -> Column:
    """Column form of :func:`crosses_next_utc_midnight` for batch use —
    ``ts + wait >= date_trunc(day, ts) + 1 day``, whole-stage codegen
    (no Python). Session timezone is UTC (session.py), so
    ``date_trunc('DAY', ...)`` is the UTC midnight the reference
    computes with gmtime/timegm."""
    next_midnight = F.date_trunc("DAY", ts) + F.expr("INTERVAL 1 DAY")
    return ts + F.expr(f"INTERVAL {int(wait_minutes)} MINUTES") >= next_midnight

