"""SparkSession factory with scale-appropriate defaults.

Local testing runs a single JVM (``local[N]``); production is a real
cluster — every config here is chosen to be correct for both:

- AQE on (runtime re-plan: partition coalescing, skew-join splitting,
  dynamic broadcast) — essential at 100 TB where static estimates lie.
- UTC session timezone so timestamp semantics match the reference
  (which stamps events with UTC strings) and the DuckDB oracle.
- Arrow enabled for the pandas-UDF slow path (vectorized transfer).
- Shuffle partitions sized by env (32 locally; a cluster deployment
  would raise it to ~2-3x total cores, or rely on AQE coalescing from
  a high initial value).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "stream_processing_test_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults."""
    if master is None:
        master = f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))

    # Scratch placement was EXAMINED and left at the JVM default (r17):
    # spark.local.dir (shuffle files), streaming temp checkpoints and
    # state-store deltas all land under java.io.tmpdir, and this
    # sandbox's /tmp is ext4-on-virtual-disk (~90x slower than tmpfs
    # for fsync'd small files in a microbench) — but an isolated
    # interleaved A/B of java.io.tmpdir=/dev/shm over the streaming +
    # dedup + window slots measured FLAT (total ratio 1.03, every
    # query within noise; BENCH_NOTES §r17-tmpdir): Spark's scratch
    # writes are page-cache-buffered, not fsync-bound, and the r16
    # sort-writer pin already removed the file-create storm. No knob
    # ships for a measured non-effect.

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Spark 4 turns ANSI mode on by default; this engine's query
        # surface was specified and oracle-validated under the 3.x
        # non-ANSI arithmetic (DuckDB comparisons are unaffected: the
        # synthetic data never overflows), and ANSI's per-op overflow
        # checks measurably slow the hot codegen loops here (vector
        # dot-product folds: ~40% on ann_lsh_topk, ~16% on simhash).
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Shuffle writer: keep the SORT-based writer at every reduce
        # partition count instead of the bypass-merge writer Spark
        # picks below 200 partitions. The bypass writer opens one file
        # PER REDUCE PARTITION per map task and then concatenates them
        # (M*R creates + an NIO merge); jcmd sampling of the r16 bench
        # showed DiskBlockObjectWriter.initialize/createTempShuffleBlock
        # as the TOP frames of the dedup family's wall. The sort writer
        # emits one data+index file per map task regardless of R —
        # measured 2.75 -> 1.51 s on dedup_ngram_jaccard (min-of-3,
        # same host, OPTIMIZATION_r16.md). At cluster scale shuffle
        # partition counts exceed 200, where Spark uses the sort
        # writer anyway — this setting only aligns the small-R regime
        # with that behavior; it never changes results, only file
        # layout of shuffle temp output. Env-overridable for A/B.
        .config(
            "spark.shuffle.sort.bypassMergeThreshold",
            os.environ.get("SPARK_GRAFT_BYPASS_THRESHOLD", "2"),
        )
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def finish_with(result, *cached):
    """Eagerly materialize ``result`` (localCheckpoint), then release the
    persisted intermediates that fed it.

    Queries that persist() fan-out intermediates (dedup shingles, LSH
    signatures) must not leak those cache entries into a long-lived
    session running many queries: a 71-query driver run would
    accumulate them until executor storage memory is exhausted. A plain
    unpersist() before returning is wrong — the action runs after
    return, so the cache would be dropped exactly when it is needed.
    Instead: localCheckpoint(eager=True) computes the (small) result
    once and truncates lineage, after which the intermediates are
    safely released; the checkpoint blocks themselves are reclaimed by
    the ContextCleaner when the returned DataFrame is GC'd.
    """
    out = result.localCheckpoint(eager=True)
    for df in cached:
        df.unpersist()
    return out


def release_local_checkpoint(df) -> None:
    """Best-effort: free the storage blocks behind a localCheckpoint'd
    DataFrame that is KNOWN to be superseded (nothing will read it
    again — unpersisting a local checkpoint makes its data
    unrecoverable, so never call this on a frame still in use).

    Without this, each round of an iterative algorithm leaves its
    checkpoint blocks pinned until a JVM GC lets the ContextCleaner
    notice them (periodic GC default: every 30 min) — across a long
    95-query driver session that is real storage-memory pressure.
    Reaches through LogicalRDD internals; falls back silently to
    ContextCleaner reclamation if the shape ever changes."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass


def release_pinned_rdds(spark) -> int:
    """Unpersist EVERY RDD still pinned in the context — the sweep
    behind the harness loops' per-repeat cleanup. ``catalog.
    clearCache()`` only drops DataFrame/relation caches; RDD-level
    pins (each ``localCheckpoint`` inside kmeans_lists/finish_with
    leaves MEMORY_AND_DISK blocks) otherwise sit until a periodic-GC
    ContextCleaner pass (~30 min), accumulating corpus-sized blocks
    across ladder repeats and skewing the walls being measured. Only
    call between runs, after results are collected: unpersisting a
    local checkpoint makes the frame behind it unrecoverable (its
    lineage is truncated). Returns the number of RDDs released."""
    try:
        pinned = list(spark.sparkContext._jsc.getPersistentRDDs().values())
        for rdd in pinned:
            rdd.unpersist(False)
        return len(pinned)
    except Exception:
        return 0


def parallelize_narrow_scan(df, min_partitions: int | None = None):
    """Repartition a SCAN-ROOTED frame that feeds a COMPUTE-HEAVY
    narrow stage when the scan is under-partitioned — otherwise return
    it untouched.

    A parquet scan's parallelism is bounded by its row groups, not by
    ``maxPartitionBytes``: a small fixture file yields ONE task, and a
    per-row md5/dot-product map stage then runs on one core while the
    rest idle. At 100 TB a scan carries thousands of row groups and
    this helper is a no-op. The repartition triggers only when the
    input has fewer partitions than the session's parallelism, and it
    shuffles exactly the rows the lone task would otherwise process
    serially — a favorable trade ONLY when the downstream map work
    dominates one pass over the rows (measured boundary in
    BENCH_NOTES: md5/dot-product folds yes, codegen'd arithmetic no).

    Contract: the input must be scan-rooted (scan + filters/projects,
    no joins/aggregates/exchanges upstream). Probing ``.rdd`` on an
    exchange-bearing frame under AQE would MATERIALIZE the upstream
    stages just to read the count, so the helper refuses (returns the
    frame untouched) rather than probe one. Known limitation: the
    probe counts byte-range file partitions, so one HUGE
    single-row-group file that byte-splits into >= parallelism empty
    ranges is not detected — this targets the small-file case, where
    the count is honest."""
    # refuse any exchange- or pipeline-breaking node, not just joins:
    # Sort (orderBy), Deduplicate (dropDuplicates/distinct), Expand
    # (rollup/cube), Generate (explode) and Sample all either bear a
    # shuffle under AQE or change the row set the probe would count.
    # The check walks the analyzed plan's NODE NAMES — substring-
    # matching toString() would also match filter literals and file
    # paths that happen to contain 'Sort'/'Sample'/... and silently
    # refuse a legitimate scan-rooted frame.
    refused = {
        "Join",
        "Aggregate",
        "Window",
        "Sort",
        "Deduplicate",
        "Expand",
        "Generate",
        "Sample",
    }

    def _has_refused(jnode) -> bool:
        name = jnode.nodeName()
        if name in refused or name.startswith("Repartition"):
            return True
        # ANY subquery expression is refused outright, not just ones
        # whose plan contains a refused node: IN/EXISTS predicates are
        # Project-over-scan at analysis time but RewritePredicateSubquery
        # turns them into semi/anti JOINS at optimization — probing
        # .rdd on such a frame materializes the join stages, the exact
        # cost the refusal exists to avoid. A scan-rooted frame never
        # carries subqueries, so this costs no coverage.
        if jnode.subqueries().size() > 0:
            return True
        children = jnode.children()
        return any(
            _has_refused(children.apply(i)) for i in range(children.size())
        )

    if _has_refused(df._jdf.queryExecution().analyzed()):
        return df
    target = (
        min_partitions
        if min_partitions is not None
        else df.sparkSession.sparkContext.defaultParallelism
    )
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


_SHIPPED: set[int] = set()


def ensure_package_shipped(spark: SparkSession) -> None:
    """Make this package importable on executor Python workers.

    Closures passed to ``mapInPandas``/``pandas_udf`` that reference
    module-level functions are pickled BY REFERENCE (cloudpickle), so
    workers must be able to ``import stream_processing_test_spark`` —
    which fails when the driver process imported it via a sys.path
    hack from another cwd. Shipping a zip via ``addPyFile`` works
    after session start and reaches every worker. Idempotent per
    SparkContext."""
    key = id(spark.sparkContext)
    if key in _SHIPPED:
        return
    import tempfile
    import zipfile
    from pathlib import Path

    pkg_root = Path(__file__).resolve().parent
    zpath = Path(tempfile.gettempdir()) / "stream_processing_test_spark_pkg.zip"
    with zipfile.ZipFile(zpath, "w") as z:
        for p in sorted(pkg_root.rglob("*.py")):
            z.write(p, p.relative_to(pkg_root.parent))
    spark.sparkContext.addPyFile(str(zpath))
    _SHIPPED.add(key)
