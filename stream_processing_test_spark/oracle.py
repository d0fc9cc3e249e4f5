"""Oracle comparison as a library: run a registered query on Spark and
its DuckDB oracle SQL side-by-side, compare row count + column names +
order-insensitive values — the same three checks the round driver's
correctness gate applies. ``tools/check_oracle.py`` (the full-registry
CLI gate) and ``python -m stream_processing_test_spark run --check``
(single-query operator surface) both delegate here, so there is exactly
one definition of "matches the oracle" in the repo.
"""

from __future__ import annotations

import pandas as pd

from stream_processing_test_spark.tables import TABLE_NAMES


def duckdb_connection(sf_dir: str):
    """A DuckDB connection with every synthetic table registered as a
    view over its parquet file — the driver gate's environment."""
    import duckdb

    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Canonical form for order-insensitive compare: columns sorted by
    name, object columns stringified, rows sorted by all columns."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(
        drop=True
    )


def compare_to_oracle(
    spark_result: pd.DataFrame, oracle_result: pd.DataFrame
) -> tuple[str, str]:
    """(status, detail): status is "OK", "ROWCOUNT", "SCHEMA", or
    "VALUES" — checked in that order, mirroring the driver gate."""
    sdf, ddf = spark_result, oracle_result
    if len(sdf) != len(ddf):
        return "ROWCOUNT", f"spark={len(sdf)} duckdb={len(ddf)}"
    if sorted(sdf.columns) != sorted(ddf.columns):
        return (
            "SCHEMA",
            f"spark={sorted(sdf.columns)} duckdb={sorted(ddf.columns)}",
        )
    a, b = normalize(sdf), normalize(ddf)
    if not a.equals(b):
        neq = (a != b) & ~(a.isna() & b.isna())
        bad_cols = [c for c in a.columns if neq[c].any()]
        rows = neq.any(axis=1)
        detail = (
            f"cols={bad_cols} first_diff:\n"
            f"spark:\n{a[rows].head(3)}\nduckdb:\n{b[rows].head(3)}"
        )
        return "VALUES", detail
    return "OK", ""


def check_query(
    spark, con, spec, sf_dir: str
) -> tuple[str, str, int, float, float | None]:
    """Run one QuerySpec on both engines and compare. Returns
    (status, detail, spark_row_count, spark_seconds, oracle_seconds);
    status "ROWS-ONLY" (and oracle_seconds None) when the spec has no
    oracle (the driver's weaker check). ``spark_seconds`` times ONLY
    the Spark execution and ``oracle_seconds`` only the DuckDB replay;
    the comparison is in neither, so per-query Spark times stay
    comparable with earlier rounds' gate output."""
    import time

    t0 = time.time()
    sdf = spec.fn(spark, sf_dir).toPandas()
    t_spark = time.time() - t0
    if spec.oracle is None:
        return "ROWS-ONLY", "", len(sdf), t_spark, None
    t0 = time.time()
    ddf = con.execute(spec.oracle).df()
    t_oracle = time.time() - t0
    status, detail = compare_to_oracle(sdf, ddf)
    return status, detail, len(sdf), t_spark, t_oracle
