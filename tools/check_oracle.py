"""Local replica of the driver's correctness gate: run every registered
query on Spark and its DuckDB oracle side-by-side, compare row count +
column names + order-insensitive values. Each line prints the Spark
and the DuckDB oracle seconds.

Thin CLI over :mod:`stream_processing_test_spark.oracle` (the single
definition of "matches the oracle" — also behind the CLI's
``run --check``).

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from stream_processing_test_spark.oracle import check_query, duckdb_connection
from stream_processing_test_spark.registry import all_queries
from stream_processing_test_spark.session import get_spark


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    spark = get_spark("oracle-check")
    con = duckdb_connection(sf_dir)

    failures = []
    for name, spec in sorted(all_queries().items()):
        if only and name not in only:
            continue
        status, detail, n_rows, t_spark, t_oracle = check_query(
            spark, con, spec, sf_dir
        )
        if status == "ROWS-ONLY":
            print(f"  {name:28s} rows-only: {n_rows:7d} rows  [{t_spark:5.1f}s]")
            continue
        mark = "✓" if status == "OK" else "✗"
        print(
            f"  {mark} {name:28s} {status:8s} {n_rows:7d} rows "
            f"[spark {t_spark:5.1f}s, oracle {t_oracle:5.1f}s] {detail}"
        )
        if status != "OK":
            failures.append(name)

    print(f"\n{len(failures)} failures: {failures}" if failures else "\nall OK")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
