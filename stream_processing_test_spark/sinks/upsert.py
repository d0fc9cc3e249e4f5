"""Keyed upsert sink (S6): the reference's ``WriteSqlDbData``
(StreamTest.cpp:134-204) — ``UPDATE live_stream_sources SET ...
WHERE id = ...`` with skip-empty-field semantics — re-expressed as a
join-coalesce-overwrite merge usable from batch code or
``foreachBatch`` in a streaming query.

Reference semantics preserved exactly:
- only non-empty incoming fields overwrite (conditional SET list,
  StreamTest.cpp:151-171) → per-column ``coalesce(new, old)`` after
  ``'' → NULL`` normalization;
- ``flow_score`` and ``resolution_type`` are ALWAYS written
  (StreamTest.cpp:165-168) → listed in ``always_set``;
- rows absent from the update batch pass through unchanged; update
  keys absent from the target are appended (MySQL UPDATE would drop
  them — we keep them and document the deviation: an engine-side
  dimension should accept late-registered sources).

Scale: the merge is one outer join on the key. With a Delta/Iceberg
target this becomes a real MERGE INTO; on plain parquet we
read-join-overwrite, which is atomic per directory-rename and
idempotent for the reference's 1×/day finalization (T8).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def merge_upsert(
    target: DataFrame,
    updates: DataFrame,
    key: str,
    always_set: tuple[str, ...] = (),
) -> DataFrame:
    """Pure merge: apply ``updates`` onto ``target`` by ``key``.

    ``updates`` must be unique per ``key`` (like a SQL MERGE source) —
    duplicate keys would multiply rows through the outer join; callers
    reduce first (see :func:`upsert_newest_day`).

    - column in ``always_set`` → incoming value wins even when NULL;
    - otherwise → ``coalesce(new, old)`` (skip-empty semantics; callers
      normalize ``'' → NULL`` first — see functions.scalars.blank_to_null);
    - target rows without an update pass through; update rows without a
      target row are appended.
    """
    upd_cols = [c for c in updates.columns if c != key]
    u = updates.select(
        F.col(key).alias(f"__u_{key}"),
        *[F.col(c).alias(f"__u_{c}") for c in upd_cols],
    )
    joined = target.join(u, target[key] == u[f"__u_{key}"], "full_outer")

    out_cols = []
    for c in target.columns:
        if c == key:
            out_cols.append(F.coalesce(F.col(key), F.col(f"__u_{key}")).alias(key))
        elif c in always_set and c in upd_cols:
            # matched row → incoming value wins even if NULL; appended
            # row (no target) → incoming; target-only row → keep old.
            out_cols.append(
                F.when(F.col(f"__u_{key}").isNotNull(), F.col(f"__u_{c}"))
                .otherwise(F.col(c))
                .alias(c)
            )
        elif c in upd_cols:
            out_cols.append(F.coalesce(F.col(f"__u_{c}"), F.col(c)).alias(c))
        else:
            out_cols.append(F.col(c))
    return joined.select(*out_cols)


def upsert_parquet(
    target: DataFrame,
    updates: DataFrame,
    target_path: str,
    key: str,
    always_set: tuple[str, ...] = (),
) -> None:
    """Read-modify-overwrite upsert for a parquet target directory.
    ``target`` is the caller's read of ``target_path``, so a caller that
    also inspects the stored rows reads the directory once.

    Plain-parquet stand-in for MERGE INTO: the merged result is
    written distributed to a staging directory (so we never overwrite
    the file we are still reading from), then swapped in via the
    Hadoop FileSystem of the target path — works on local fs and HDFS
    alike (on object stores rename degrades to copy; use a table
    format there). Idempotent — re-running the same batch yields the
    same target (T8 day-end finalization).

    The swap is two renames, NOT one atomic operation: a crash between
    them leaves no target directory but DOES leave the ``__old_*``
    sibling intact — recovery is renaming it back. Readers between the
    renames can observe a missing directory. With a Delta/Iceberg
    target this whole function is one MERGE INTO and the caveat
    disappears."""
    import uuid

    merged = merge_upsert(target, updates, key, always_set)
    staging = f"{target_path.rstrip('/')}__staging_{uuid.uuid4().hex[:8]}"
    merged.write.mode("overwrite").parquet(staging)
    swap_directory(target.sparkSession, staging, target_path)


def upsert_newest_day(scores: DataFrame, dim_path: str) -> None:
    """T8's day-end write-back (StreamTest.cpp:982-1029): upsert the
    newest day per source from an (id, day, flow_score, n_detection,
    n_error) frame into the dimension parquet at ``dim_path``. The
    streaming day close (``finalize_to_dimension``, once per
    micro-batch) and the CLI ``day-close`` both write through here.

    ``scores`` may carry several days per source (update mode re-emits
    every changed window), so it is first reduced to the newest day
    per source: the upsert key must be unique.

    Newest-day-wins holds ACROSS calls too: a late update to an old
    day can arrive after a newer day was written (on restart, or with
    out-of-order event files), so rows older than the dimension's
    stored day are dropped. That makes the upsert monotone and the
    final dimension order-independent; a two-phase restarted stream
    lands exactly where a one-shot run does (pinned by
    test_restart_recovers_aggregation_state). Ties overwrite: the
    latest emission of a window carries its most complete state."""
    latest = (
        scores.groupBy("id")
        .agg(
            F.max_by(
                F.struct("day", "flow_score", "n_detection", "n_error"), "day"
            ).alias("s")
        )
        .select("id", "s.*")
    )
    # one read serves the guard and the merge
    target = scores.sparkSession.read.parquet(dim_path)
    if "day" in target.columns:
        current = target.select("id", F.col("day").alias("cur_day"))
        latest = (
            latest.join(current, "id", "left")
            .filter(
                F.col("cur_day").isNull() | (F.col("day") >= F.col("cur_day"))
            )
            .drop("cur_day")
        )
    else:
        # Without a stored day there is nothing to compare (merge_upsert
        # drops the update's day column), so a late re-emission of an
        # old window CAN overwrite a newer score. Keep writing, but say
        # so: callers who want order-independence add a 'day' column.
        import warnings

        warnings.warn(
            f"newest-day upsert: target {dim_path} has no 'day' column; "
            "newest-day-wins cannot be enforced and out-of-order window "
            "re-emissions may overwrite newer scores",
            stacklevel=2,
        )
    # looked up at call time, so a wrapper installed on this module's
    # ``upsert_parquet`` sees every write
    upsert_parquet(
        target, latest, dim_path, "id", always_set=("flow_score", "day")
    )


def swap_directory(spark: SparkSession, staging: str, target_path: str) -> None:
    """Swap a fully-written staging directory into place of
    ``target_path`` via two Hadoop FileSystem renames (shared by the
    parquet upsert and the lake compactor).

    Crash contract: a failure between the renames leaves no target
    directory but DOES leave the ``__old_*`` sibling intact — recovery
    is renaming it back. Readers between the renames can observe a
    missing directory; a table format (Delta/Iceberg) removes the
    caveat entirely."""
    import uuid

    old = f"{target_path.rstrip('/')}__old_{uuid.uuid4().hex[:8]}"
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path
    fs = hpath(target_path).getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.rename(hpath(target_path), hpath(old)):
        fs.delete(hpath(staging), True)
        raise IOError(f"rename {target_path} -> {old} failed")
    if not fs.rename(hpath(staging), hpath(target_path)):
        # put the previous target back before failing, and don't orphan
        # the staging directory on the error path
        fs.rename(hpath(old), hpath(target_path))
        fs.delete(hpath(staging), True)
        raise IOError(f"rename {staging} -> {target_path} failed")
    if not fs.delete(hpath(old), True):
        # non-fatal (target is already swapped in), but silent
        # accumulation of __old_* siblings is how disks fill up
        import warnings

        warnings.warn(f"failed to delete superseded copy {old}")


def _execute_driver_sql(
    spark: SparkSession,
    url: str,
    statements: list[str],
    properties: dict[str, str] | None = None,
    transactional: bool = False,
) -> None:
    """Execute DDL/DML statements on a JDBC database through the
    driver JVM's ``DriverManager`` (py4j). With ``transactional=True``
    all statements commit or roll back as one unit. This is control-
    plane SQL only — one MERGE / swap statement per upsert call, never
    per-row data movement (that goes through the distributed JDBC
    writer)."""
    jvm = spark._jvm
    props = jvm.java.util.Properties()
    for k, v in (properties or {}).items():
        props.setProperty(k, v)
    conn = jvm.java.sql.DriverManager.getConnection(url, props)
    try:
        if transactional:
            conn.setAutoCommit(False)
        st = conn.createStatement()
        try:
            for s in statements:
                st.execute(s)
        except Exception:
            if transactional:
                conn.rollback()
            raise
        finally:
            st.close()
        if transactional:
            conn.commit()
    finally:
        conn.close()


def _q(name: str) -> str:
    """Quote an identifier the way Spark's JDBC writer does for ANSI
    databases (exact-case double quotes), so driver-side SQL matches
    Spark-created tables."""
    return '"' + name.replace('"', '""') + '"'


def _q_mysql(name: str) -> str:
    """MySQL identifier quoting: BACKTICKS (r12 review finding) —
    stock MySQL (no ANSI_QUOTES) parses double-quoted identifiers as
    string literals, so the ANSI form is a syntax error inside
    ``VALUES(...)``; Spark's own MySQL JDBC dialect creates tables
    with backtick-quoted columns, so this also matches the staging
    table the writer just made."""
    return "`" + name.replace("`", "``") + "`"


def merge_into_sql(
    table: str,
    staging: str,
    columns: list[str],
    key: str,
    always_set: tuple[str, ...] = (),
    dialect: str = "standard",
) -> str:
    """Native set-based upsert statement applying ``staging`` onto
    ``table`` with :func:`merge_upsert` semantics — skip-empty via
    COALESCE, ``always_set`` columns unconditionally overwritten.

    ``dialect="standard"`` emits ANSI ``MERGE INTO`` (Derby, Postgres
    15+, Oracle, SQL Server); ``dialect="mysql"`` emits the MySQL-ism
    ``INSERT ... ON DUPLICATE KEY UPDATE`` (the reference's actual
    engine). Table names are unquoted (matching how Spark's JDBC
    writer creates them); column names are exact-case quoted (ditto).
    """
    upd = [c for c in columns if c != key]
    if dialect == "mysql":
        # Derived-table alias form, not ``VALUES(col)``: MySQL 8.0.20
        # deprecated VALUES() inside ON DUPLICATE KEY UPDATE and has
        # announced its removal; the manual's INSERT..SELECT rewrite
        # is a named derived table whose columns the update clause
        # references (r12 review finding). References are qualified
        # (``new.col``) because staging and target share every column
        # name — unqualified would be ambiguous against the target.
        q = _q_mysql
        col_list = ", ".join(q(c) for c in columns)
        sets = ", ".join(
            f"{q(c)} = new.{q(c)}"
            if c in always_set
            else f"{q(c)} = COALESCE(new.{q(c)}, {table}.{q(c)})"
            for c in upd
        )
        return (
            f"INSERT INTO {table} ({col_list}) "
            f"SELECT {col_list} FROM "
            f"(SELECT {col_list} FROM {staging}) AS new "
            f"ON DUPLICATE KEY UPDATE {sets}"
        )
    col_list = ", ".join(_q(c) for c in columns)
    sets = ", ".join(
        f"{_q(c)} = s.{_q(c)}"
        if c in always_set
        else f"{_q(c)} = COALESCE(s.{_q(c)}, t.{_q(c)})"
        for c in upd
    )
    src_vals = ", ".join(f"s.{_q(c)}" for c in columns)
    return (
        f"MERGE INTO {table} t USING {staging} s ON t.{_q(key)} = s.{_q(key)} "
        f"WHEN MATCHED THEN UPDATE SET {sets} "
        f"WHEN NOT MATCHED THEN INSERT ({col_list}) VALUES ({src_vals})"
    )


def upsert_jdbc_pushdown(
    spark: SparkSession,
    updates: DataFrame,
    url: str,
    table: str,
    key: str,
    always_set: tuple[str, ...] = (),
    properties: dict[str, str] | None = None,
) -> None:
    """DB-native form of the S6 keyed upsert — the scale path, and the
    closest analog of the reference's ``WriteSqlDbData``
    (StreamTest.cpp:134-204: skip-empty UPDATE :151-171 with
    flow_score/resolution_type always set :165-168, against MySQL).

    Two stages:

    1. **Stage (distributed):** the update batch is appended into a
       fresh ``<table>__stg`` staging table through the normal JDBC
       writer — every Spark task writes its own partition, so data
       movement scales with the cluster, not the driver.
    2. **Merge (set-based, in the DB):** one ``MERGE INTO`` (MySQL:
       ``INSERT ... ON DUPLICATE KEY UPDATE``) applies staging onto
       the target inside the database. Untouched rows are never
       rewritten (asserted by a trigger-based test), the statement is
       transactional in the DB, and the live table is never truncated
       — which also closes the mid-write data-loss window of the
       truncate-overwrite fallback below.

    Dialect is inferred from the URL (``jdbc:mysql:`` → MySQL syntax,
    else ANSI MERGE). The per-row ``foreachPartition``+UPDATE form the
    reference uses was considered and rejected: a set-based merge on a
    staged table is strictly less round-trip-bound and keeps retry
    semantics in the DB's transaction, and PySpark executors have no
    JVM/JDBC access anyway (a DBAPI driver would be a new dependency).
    """
    from stream_processing_test_spark.sources.jdbc import write_jdbc

    staging = f"{table}__stg"
    dialect = "mysql" if url.startswith("jdbc:mysql:") else "standard"
    write_jdbc(updates, url, staging, mode="overwrite", properties=properties)
    try:
        _execute_driver_sql(
            spark,
            url,
            [
                merge_into_sql(
                    table, staging, updates.columns, key, always_set, dialect
                )
            ],
            properties,
        )
    finally:
        _execute_driver_sql(
            spark, url, [f"DROP TABLE {staging}"], properties
        )


def upsert_jdbc(
    spark: SparkSession,
    updates: DataFrame,
    url: str,
    table: str,
    key: str,
    always_set: tuple[str, ...] = (),
    properties: dict[str, str] | None = None,
) -> None:
    """Portable (dialect-free) form of the S6 keyed upsert: read the
    target over JDBC, apply :func:`merge_upsert` in Spark (identical
    skip-empty / always-set semantics), write the merged snapshot to a
    ``<table>__swap`` staging table, then swap it into the target with
    a transactional ``DELETE + INSERT INTO ... SELECT`` executed in the
    database. Idempotent like the parquet form.

    The staging table — not ``localCheckpoint`` — is what makes this
    crash-safe: the merged result is durable in the SAME database
    before the live table is touched, and the swap is one transaction
    (both statements commit or neither does), so there is no window
    where the only copy of the data is gone. Prefer
    :func:`upsert_jdbc_pushdown` when the dialect allows it — it never
    rewrites untouched rows; this form rewrites the whole table and is
    sized for dimensions, not facts."""
    from stream_processing_test_spark.sources.jdbc import (
        read_jdbc,
        write_jdbc,
    )

    target = read_jdbc(spark, url, table, properties=properties)
    merged = merge_upsert(target, updates, key, always_set)
    staging = f"{table}__swap"
    write_jdbc(merged, url, staging, mode="overwrite", properties=properties)
    col_list = ", ".join(_q(c) for c in merged.columns)
    try:
        _execute_driver_sql(
            spark,
            url,
            [
                f"DELETE FROM {table}",
                f"INSERT INTO {table} ({col_list}) "
                f"SELECT {col_list} FROM {staging}",
            ],
            properties,
            transactional=True,
        )
    finally:
        _execute_driver_sql(
            spark, url, [f"DROP TABLE {staging}"], properties
        )
