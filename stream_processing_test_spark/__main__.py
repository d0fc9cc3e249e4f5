"""CLI entry point: ``python -m stream_processing_test_spark <cmd>``.

The reference ships as a single always-on binary; this engine is a
library, and the CLI is the operational wrapper a reference user would
drive day to day:

- ``list``                      — every registered query with its
                                  SURVEY §2 operator tags and oracle status
- ``run <query>``               — execute one registered query at an
                                  sf_dir; show rows or write parquet/CSV
- ``day-close``                 — the EP2 day-close over an sf_dir:
                                  daily scores upserted newest-day-wins
                                  into a dimension parquet + paginated
                                  markdown report
                                  pages written to disk (the reference's
                                  reporting thread, StreamTest.cpp:830-1055)
- ``bench``                     — the headline benchmark (one JSON line)

Exit code 0 on success; errors surface as exceptions (loud, not
swallowed — operational wrappers that hide failures page nobody).
"""

from __future__ import annotations

import argparse
import os
import sys
from pathlib import Path


def _spark():
    from stream_processing_test_spark.session import get_spark

    return get_spark("stream-processing-cli")


def cmd_list(_args: argparse.Namespace) -> int:
    from stream_processing_test_spark.registry import all_queries

    specs = all_queries()
    width = max(len(n) for n in specs)
    for name, spec in specs.items():
        oracle = "oracle" if spec.oracle else "rows-only"
        print(f"{name:<{width}}  [{oracle}]  {spec.survey_ops}")
    print(f"\n{len(specs)} queries", file=sys.stderr)
    return 0


def cmd_run(args: argparse.Namespace) -> int:
    from stream_processing_test_spark.registry import all_queries

    specs = all_queries()
    if args.query not in specs:
        raise SystemExit(
            f"unknown query {args.query!r} — `list` shows the registry"
        )
    spark = _spark()
    if args.check:
        from stream_processing_test_spark.oracle import (
            check_query,
            duckdb_connection,
        )

        spec = specs[args.query]
        status, detail, n_rows, *_ = check_query(
            spark, duckdb_connection(args.sf_dir), spec, args.sf_dir
        )
        print(f"{args.query}: {status} ({n_rows} rows) {detail}".rstrip())
        return 0 if status in ("OK", "ROWS-ONLY") else 1
    df = specs[args.query].fn(spark, args.sf_dir)
    if args.out:
        if args.format == "csv":
            # the shared S7 sink: one definition of the CSV write edge
            # (header, no silent whitespace trimming)
            from stream_processing_test_spark.sinks.reports import write_csv

            write_csv(df, args.out)
        else:
            df.write.mode("overwrite").parquet(args.out)
        print(f"wrote {args.out}", file=sys.stderr)
    else:
        df.show(args.show, truncate=False)
    return 0


def cmd_day_close(args: argparse.Namespace) -> int:
    """Fixture-shaped day-close: daily availability scores upserted
    into a dimension parquet under --out, plus the failing-programs
    and vendor-histogram report pages as markdown files (batch sizes
    30 and 2 — StreamTest.cpp:516-518, 572-574)."""
    from pyspark.sql import functions as F

    from stream_processing_test_spark.operators.rollup import daily_scores
    from stream_processing_test_spark.operators.programs import failing_programs
    from stream_processing_test_spark.operators.vendor import vendor_flow_stats
    from stream_processing_test_spark.sinks.reports import (
        RecordingSink,
        send_report_batches,
    )
    from stream_processing_test_spark.sinks.upsert import upsert_newest_day

    spark = _spark()
    out = Path(args.out)
    out.mkdir(parents=True, exist_ok=True)

    dim_path = str(out / "source_dim")
    if not (out / "source_dim").exists():
        # an empty typed dim: the upsert appends every scored source
        spark.createDataFrame(
            [], "id LONG, day STRING, flow_score INT, n_detection LONG, n_error LONG"
        ).write.parquet(dim_path)
    # newest-day-wins, like the streaming day close: a rerun over an
    # older day leaves a newer stored score alone
    upsert_newest_day(
        daily_scores(spark, args.sf_dir).withColumnRenamed("user_id", "id"),
        dim_path,
    )
    n_scored = spark.read.parquet(dim_path).filter(
        F.col("flow_score").isNotNull()
    ).count()
    print(f"upserted scores for {n_scored} sources -> {dim_path}")

    for name, df, batch in (
        ("failing_programs", failing_programs(spark, args.sf_dir), 30),
        ("vendor_flow_stats", vendor_flow_stats(spark, args.sf_dir), 2),
    ):
        sink = RecordingSink()
        n = send_report_batches(df, sink, batch_size=batch)
        # a rerun with fewer pages must not leave stale pages from the
        # previous close interleaved with fresh ones
        for old in out.glob(f"{name}_page*.md"):
            old.unlink()
        for i, msg in enumerate(sink.messages):
            (out / f"{name}_page{i:03d}.md").write_text(msg + "\n")
        print(f"{name}: {n} report page(s) -> {out}/{name}_page*.md")

    # S7: the full per-source rollup as a timestamped CSV (the
    # reference's logs/<ts>.csv, StreamTest.cpp:23-35, 1260-1324) +
    # the day-end summary line (StreamTest.cpp:1035-1046).
    from datetime import datetime, timezone

    from stream_processing_test_spark.operators.rollup import per_source_rollup
    from stream_processing_test_spark.sinks.reports import write_csv

    stamp = datetime.now(timezone.utc).strftime("%Y%m%d_%H%M%S")
    csv_dir = str(out / f"rollup_{stamp}.csv")
    write_csv(per_source_rollup(spark, args.sf_dir), csv_dir)
    # count from the CSV just written — not a second rollup computation
    n_sources = (
        spark.read.option("header", True).csv(csv_dir).count()
    )
    summary = (
        f"day-close complete: {n_sources} sources rolled up, "
        f"{n_scored} scored, reports in {out}"
    )
    (out / "summary.txt").write_text(summary + "\n")
    print(summary)
    return 0


def cmd_probe(args: argparse.Namespace) -> int:
    """EP1: fan the source dimension out to probes (synthetic prober —
    the ffmpeg prober is a pluggable ProbeFn) and append one outcome
    event per source to the events lake in the chosen envelope format
    (StreamTest.cpp:1083-1176 probe loop + :283-299 envelope)."""
    from stream_processing_test_spark.sources.envelope import (
        write_probe_events,
    )
    from stream_processing_test_spark.sources.probe import probe_sources

    spark = _spark()
    dim = spark.read.parquet(args.dim)
    events = probe_sources(dim)
    write_probe_events(events, args.out, fmt=args.fmt)
    # one event per source by contract, so the appended-event count IS
    # the dim count — one cheap dim-scan job, no re-read of the lake
    print(f"probed {dim.count()} sources -> {args.out} ({args.fmt})")
    return 0


def cmd_bench(_args: argparse.Namespace) -> int:
    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    import bench

    bench.main()
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="stream_processing_test_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)
    default_sf = os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"
    )

    sub.add_parser("list", help="list registered queries")

    p_run = sub.add_parser("run", help="run one registered query")
    p_run.add_argument("query")
    p_run.add_argument("--sf-dir", default=default_sf)
    p_run.add_argument("--show", type=int, default=20)
    p_run.add_argument("--out", help="write result instead of showing")
    p_run.add_argument("--format", choices=("parquet", "csv"), default="parquet")
    p_run.add_argument(
        "--check",
        action="store_true",
        help="verify the result against the query's DuckDB oracle",
    )

    p_dc = sub.add_parser("day-close", help="EP2 day-close pipeline")
    p_dc.add_argument("--sf-dir", default=default_sf)
    p_dc.add_argument("--out", required=True, help="output directory")

    p_pr = sub.add_parser(
        "probe", help="EP1: probe a source dimension, append outcome events"
    )
    p_pr.add_argument(
        "--dim",
        required=True,
        help="parquet dir with (id, url, target_matching, target_matching_id)",
    )
    p_pr.add_argument("--out", required=True, help="events output path")
    p_pr.add_argument(
        "--fmt", choices=("json", "csv", "parquet", "orc"), default="json"
    )

    sub.add_parser("bench", help="headline benchmark (one JSON line)")

    args = ap.parse_args(argv)
    return {
        "list": cmd_list,
        "run": cmd_run,
        "day-close": cmd_day_close,
        "probe": cmd_probe,
        "bench": cmd_bench,
    }[args.cmd](args)


if __name__ == "__main__":
    raise SystemExit(main())
