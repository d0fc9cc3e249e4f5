"""Report sinks: CSV file, markdown tables, fixed-size webhook batches.

Reference surface re-expressed (SURVEY.md §2.1):
- S7  CSV file sink — ``WriteStreamInfoCSVWithContent``
  (StreamTest.cpp:1260-1324): header + rows to ``logs/<ts>.csv``.
- S9  markdown formatter — ``CSVLinesToMarkdown`` (StreamTest.cpp:91-111):
  CSV lines → GitHub-style table.
- S10 batched report emitter (StreamTest.cpp:495-607, 1183-1258):
  rows chunked into fixed-size batches (30/30/2) with the header
  repeated per batch, each batch posted to a webhook.
- F11 message truncation — 18 000-char cap, cut to 17 900 + suffix
  (HttpServer.cpp:126-129).
- S8  webhook sink — ``sendLarkMessage`` (HttpServer.cpp:101-177):
  modeled as a ``WebhookSink`` protocol so tests inject a recorder and
  production injects an HTTP POST; the engine never hard-codes an
  endpoint (the reference hard-codes credentialed URLs — deliberately
  not reproduced).

Scale posture: report formatting is driver-side BY DESIGN — reports
are human-facing (≤ thousands of rows, paginated to ≤30-row webhook
posts). The data plane never collects; only the final report
DataFrame, already aggregated and sorted, is collected for
formatting. ``write_csv`` writes its one file from an executor, so a
CSV export never passes through the driver.
"""

from __future__ import annotations

import time
from collections.abc import Callable, Sequence
from dataclasses import dataclass, field

from pyspark.sql import DataFrame

MAX_MESSAGE_CHARS = 18_000  # HttpServer.cpp:126
TRUNCATED_CHARS = 17_900  # HttpServer.cpp:128
TRUNCATION_SUFFIX = "…"

PROGRAM_REPORT_BATCH = 30  # StreamTest.cpp:516-518
CSV_REPORT_BATCH = 30  # StreamTest.cpp:1239-1243
VENDOR_REPORT_BATCH = 2  # StreamTest.cpp:572-574


def write_csv(df: DataFrame, path: str) -> None:
    """S7: CSV file sink with header, one file like the reference's
    report (coalesce(1) — fine for report-sized output)."""
    # the CSV writer trims cell whitespace by default (write-side
    # ignore*WhiteSpace=true) — report fields carrying error text must
    # land verbatim
    (
        df.coalesce(1)
        .write.mode("overwrite")
        .option("header", True)
        .option("ignoreLeadingWhiteSpace", "false")
        .option("ignoreTrailingWhiteSpace", "false")
        .csv(path)
    )


def rows_to_markdown(header: Sequence[str], rows: Sequence[Sequence]) -> str:
    """S9: GitHub-style markdown table (CSVLinesToMarkdown,
    StreamTest.cpp:91-111 — header row, separator, data rows)."""
    lines = [
        "| " + " | ".join(str(h) for h in header) + " |",
        "|" + "|".join(" --- " for _ in header) + "|",
    ]
    for r in rows:
        lines.append("| " + " | ".join("" if v is None else str(v) for v in r) + " |")
    return "\n".join(lines)


def truncate_message(msg: str) -> str:
    """F11: enforce the webhook hard cap — over 18 000 chars, keep the
    first 17 900 and append a truncation mark (HttpServer.cpp:126-129)."""
    if len(msg) > MAX_MESSAGE_CHARS:
        return msg[:TRUNCATED_CHARS] + TRUNCATION_SUFFIX
    return msg


WebhookSink = Callable[[str], None]


@dataclass
class RecordingSink:
    """Test double for S8: records every message instead of POSTing."""

    messages: list[str] = field(default_factory=list)

    def __call__(self, msg: str) -> None:
        self.messages.append(msg)


def http_webhook_sink(url: str, timeout_s: float = 10.0) -> WebhookSink:
    """S8: real webhook sink — POST {"msg_type": "text", ...} like
    sendLarkMessage (HttpServer.cpp:101-177; 10-s timeout at :155).
    Endpoint comes from config, never hard-coded."""
    import json
    import urllib.request

    def send(msg: str) -> None:
        body = json.dumps(
            {"msg_type": "text", "content": {"text": msg}}
        ).encode("utf-8")
        req = urllib.request.Request(
            url, data=body, headers={"Content-Type": "application/json"}
        )
        urllib.request.urlopen(req, timeout=timeout_s)  # noqa: S310 — config-provided URL

    return send


def send_report_batches(
    df: DataFrame,
    sink: WebhookSink,
    batch_size: int = PROGRAM_REPORT_BATCH,
    pacing_s: float = 0.0,
) -> int:
    """S10: collect an (already aggregated, already sorted) report
    DataFrame and post it in fixed-size markdown batches, header
    repeated per batch, each message truncated to the webhook cap.
    Returns the number of batches sent.

    The reference paces posts at 500 ms (StreamTest.cpp:552, 605);
    ``pacing_s`` defaults to 0 (no pause), and no caller here paces."""
    header = df.columns
    rows = [tuple(r) for r in df.collect()]
    n_batches = 0
    for i in range(0, len(rows), batch_size):
        chunk = rows[i : i + batch_size]
        sink(truncate_message(rows_to_markdown(header, chunk)))
        n_batches += 1
        if pacing_s and i + batch_size < len(rows):
            time.sleep(pacing_s)
    return n_batches
