"""Scale-posture tests: the 100 TB layout decisions, verified on small
data via the physical plan (SURVEY.md §7 step 6).

- events partitioned by date(ts) -> daily-window queries prune
  partitions (PartitionFilters in the scan, not a full scan);
- filters/projections reach the parquet scan (PushedFilters/ReadSchema);
- small dimensions broadcast (no shuffle join for q5-shaped stars).
"""

from __future__ import annotations

import io
import sys
from contextlib import redirect_stdout
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F

from tests.conftest import SF_SMALL


def _plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_date_partitioned_events_prune(spark, tmp_path):
    """Writing events partitioned by day and filtering one day must
    produce a plan whose scan carries a partition filter — at 100 TB
    this is the difference between reading 1/30th and everything."""
    from stream_processing_test_spark.tables import load

    ev = load(spark, SF_SMALL, "events")
    lake = str(tmp_path / "events_lake")
    ev.withColumn("day", F.to_date("ts")).write.partitionBy("day").parquet(lake)

    one_day = spark.read.parquet(lake).filter(F.col("day") == "2024-01-05")
    plan = _plan(one_day)
    assert "PartitionFilters" in plan
    # the partition predicate must be in PartitionFilters, not a post-scan filter
    pf_line = next(l for l in plan.splitlines() if "PartitionFilters" in l)
    assert "2024-01-05" in pf_line or "day" in pf_line
    # and it actually reads only that day's rows
    want = ev.filter(F.to_date("ts") == "2024-01-05").count()
    assert one_day.count() == want


def test_filters_and_projection_reach_scan(spark):
    """q6 shape: every predicate pushed, read schema pruned to the
    referenced columns only."""
    from stream_processing_test_spark.operators.relational import q6_forecast_revenue

    plan = _plan(q6_forecast_revenue(spark, SF_SMALL))
    assert "PushedFilters" in plan
    pushed = next(l for l in plan.splitlines() if "PushedFilters" in l)
    for col in ["l_shipdate", "l_discount", "l_quantity"]:
        assert col in pushed
    schema_line = next(l for l in plan.splitlines() if "ReadSchema" in l)
    # only the 4 referenced columns are read (16-column table)
    assert schema_line.count(":") <= 5


def _executed_plan(df) -> str:
    """AQE-final physical plan: run the query, then read the executed
    plan (join strategies AFTER adaptive replanning — what actually ran,
    not the static estimate)."""
    df.collect()
    # AdaptiveSparkPlanExec.toString() appends the pre-AQE estimate
    # after an "== Initial Plan ==" marker — keep only what actually ran
    return (
        df._jdf.queryExecution()
        .executedPlan()
        .toString()
        .split("== Initial Plan ==")[0]
    )


def test_star_join_broadcasts_all_dims(spark):
    """q5 shape: the fixed-cardinality dims (nation/region) broadcast
    by hint in the static plan; the supplier-side dims frame carries no
    hint (supplier grows with SF — forcing it would OOM at 100 TB) but
    AQE must still broadcast it at this fixture size, so the executed
    plan has no shuffle join."""
    from stream_processing_test_spark.operators.relational import q5_region_revenue

    df = q5_region_revenue(spark, SF_SMALL)
    assert "BroadcastHashJoin" in _plan(df)
    assert "SortMergeJoin" not in _executed_plan(df)


def test_semi_and_anti_joins_planned(spark):
    from stream_processing_test_spark.operators.relational import (
        suppliers_with_bulk_items,
        users_without_big_purchase,
    )

    semi = _plan(suppliers_with_bulk_items(spark, SF_SMALL))
    anti = _plan(users_without_big_purchase(spark, SF_SMALL))
    assert "LeftSemi" in semi
    assert "LeftAnti" in anti


def test_bucketed_join_avoids_shuffle(spark, tmp_path):
    """Pre-bucketing both join sides on the key removes the Exchange
    from the join plan — the co-located join that makes repeated
    fact-to-fact joins affordable at 100 TB."""
    import uuid

    from stream_processing_test_spark.tables import load

    ev = load(spark, SF_SMALL, "events")
    db = f"bkt_{uuid.uuid4().hex[:8]}"
    spark.sql(f"CREATE DATABASE {db} LOCATION '{tmp_path}/warehouse'")
    try:
        for name, flt in [("errs", "error"), ("clicks", "click")]:
            (
                ev.filter(F.col("event_type") == flt)
                .write.bucketBy(8, "user_id")
                .sortBy("user_id")
                .option("path", f"{tmp_path}/{name}")
                .saveAsTable(f"{db}.{name}")
            )
        errs = spark.table(f"{db}.errs").select("user_id", "event_id")
        clicks = spark.table(f"{db}.clicks").select(
            F.col("user_id"), F.col("event_id").alias("click_id")
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = errs.join(clicks, "user_id")
            plan = _plan(joined)
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        # bucketed co-located join: no shuffle exchange on either side
        assert "Exchange hashpartitioning" not in plan
        assert joined.count() > 0
    finally:
        spark.sql(f"DROP DATABASE {db} CASCADE")


def test_salted_aggregate_matches_plain(spark):
    """Salted two-phase aggregation must be value-identical to the
    plain groupBy — the salt only changes the physical distribution."""
    from stream_processing_test_spark.functions.skew import salted_aggregate

    ev = spark.read.parquet(f"{SF_SMALL}/events.parquet")
    plain = {
        (r["user_id"],): (r["n"], round(r["total"], 6))
        for r in ev.groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum("value").alias("total"))
        .collect()
    }
    salted = {
        (r["user_id"],): (r["n"], round(r["total"], 6))
        for r in salted_aggregate(
            ev,
            ["user_id"],
            partial_aggs=[F.count("*").alias("c"), F.sum("value").alias("s")],
            final_aggs=[F.sum("c").alias("n"), F.sum("s").alias("total")],
        ).collect()
    }
    assert plain == salted


def test_salted_broadcast_left_matches_plain_join(spark):
    from stream_processing_test_spark.functions.skew import salted_broadcast_left

    ev = spark.read.parquet(f"{SF_SMALL}/events.parquet").select(
        "user_id", "event_id"
    )
    dim = (
        ev.select("user_id").distinct().withColumn("tag", F.col("user_id") % 7)
    )
    plain = sorted(
        map(tuple, ev.join(dim, "user_id").select("user_id", "event_id", "tag").collect())
    )
    salted = sorted(
        map(
            tuple,
            salted_broadcast_left(ev, dim, "user_id", n_salts=4)
            .select("user_id", "event_id", "tag")
            .collect(),
        )
    )
    assert plain == salted


def test_tpch_star_joins_broadcast_dims(spark):
    """q8 (8-way star) and q7: nation/region broadcast by hint in the
    static plan; supplier/customer/part sides are AQE-decided (hints on
    SF-scaled tables are the 100 TB OOM), and at this fixture size AQE
    must convert them to broadcasts — the executed plan's only shuffle
    join is fact-to-fact (lineitem⋈orders)."""
    from stream_processing_test_spark.operators.tpch import (
        q7_nation_trade_volume,
        q8_market_share,
    )

    for q in (q7_nation_trade_volume, q8_market_share):
        df = q(spark, SF_SMALL)
        assert "BroadcastHashJoin" in _plan(df)
        # lineitem⋈orders is the one legitimate shuffle join
        assert _executed_plan(df).count("SortMergeJoin") <= 1


def test_scalar_subqueries_are_broadcast_not_collected(spark):
    """q11/q15/q22 shape: the scalar threshold must appear as a
    broadcast join (BroadcastExchange/BroadcastNestedLoopJoin), never
    as a driver-side collect baked into a literal."""
    from stream_processing_test_spark.operators.tpch import (
        q11_important_parts,
        q15_top_supplier,
    )

    for q in (q11_important_parts, q15_top_supplier):
        plan = _plan(q(spark, SF_SMALL))
        assert "BroadcastExchange" in plan


def test_q21_single_fact_shuffle(spark):
    """The EXISTS + NOT EXISTS rewrite must not self-join lineitem:
    exactly one Window node (one orderkey shuffle) and no lineitem
    self-join in the plan."""
    from stream_processing_test_spark.operators.tpch import q21_blocking_suppliers

    plan = _plan(q21_blocking_suppliers(spark, SF_SMALL))
    assert plan.count("Window") >= 1
    # a self-join plan would need >=2 scans of lineitem
    assert plan.count("lineitem") <= 1


def test_chunking_is_shuffle_free(spark):
    """doc_chunking is a pure map stage: explode + projections, zero
    Exchange nodes — at 100 TB the chunker must inherit the scan's
    partitioning, not reshuffle the corpus."""
    from stream_processing_test_spark.llm.corpus import doc_chunking

    plan = _plan(doc_chunking(spark, SF_SMALL))
    assert "Exchange" not in plan
    assert "ReadSchema" in plan
    read = next(l for l in plan.splitlines() if "ReadSchema" in l)
    # column pruning: chunking needs doc_id + text, not lang/source/n_chars
    assert "lang" not in read and "source" not in read


def test_sampling_is_shuffle_free_and_pruned(spark):
    """The deterministic hash gate is a filter in the scan stage; the
    projection prunes to the three output columns."""
    from stream_processing_test_spark.llm.sampling import stratified_sample

    plan = _plan(stratified_sample(spark, SF_SMALL))
    assert "Exchange" not in plan
    read = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "text" not in read and "n_chars" not in read


def test_tfidf_partial_aggregates(spark):
    """Both tf and df must partial-aggregate before their shuffles
    (HashAggregate appears in partial and final modes), and the corpus
    count must arrive via broadcast, not a collected literal."""
    from stream_processing_test_spark.llm.corpus import tfidf_top_terms

    plan = _plan(tfidf_top_terms(spark, SF_SMALL))
    assert "BroadcastExchange" in plan
    assert plan.count("HashAggregate") >= 4  # partial+final for tf and df


def test_centroids_shuffle_partials_not_vectors(spark):
    """embedding_centroids must shuffle aggregated (label, dim)
    partials: the exchange comes after a partial HashAggregate, so
    shuffle volume is |labels|*dims rows regardless of corpus size."""
    from stream_processing_test_spark.llm.embeddings import embedding_centroids

    plan = _plan(embedding_centroids(spark, SF_SMALL))
    lines = plan.splitlines()
    first_exchange = next(
        i for i, l in enumerate(lines) if "Exchange" in l and "Broadcast" not in l
    )
    # formatted plans print operators leaf-last within a stage: the
    # partial aggregate must appear below (after) the exchange line,
    # i.e. upstream of it in dataflow order
    assert any("HashAggregate" in l for l in lines[first_exchange:])


def test_lsh_candidate_stages_carry_no_vector_payload(spark):
    """The LSH bucket table must be bare (vec_id, table_id, bucket):
    the posexplode multiplies rows ~16x and the bucket self-join is
    quadratic per group, so a 512-byte vector column here would
    inflate every candidate shuffle by orders of magnitude at corpus
    scale (measured 2-4x wall even at sf0.1). Vectors are joined back
    onto deduped id pairs for the exact-verify stage instead."""
    from pyspark.sql import functions as F

    from stream_processing_test_spark.llm.similarity import hyperplane_tables
    from stream_processing_test_spark.tables import load

    emb = load(spark, SF_SMALL, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    tables = hyperplane_tables(emb)
    assert set(tables.columns) == {"vec_id", "table_id", "bucket"}
    assert not any("array" in f.dataType.simpleString() for f in tables.schema)


def test_shingles_are_hashed_longs(spark):
    """Shingles travel as portable 60-bit hashes, not n-gram strings —
    every downstream distinct/df-count/inverted-index shuffle moves
    8-byte keys. The hash must be the portable family (oracle replay)
    and non-negative (60 bits in a signed long)."""
    from pyspark.sql import functions as F

    from stream_processing_test_spark.llm.dedup import shingles
    from stream_processing_test_spark.llm.hashing import phash_py
    from stream_processing_test_spark.tables import load

    docs = load(spark, SF_SMALL, "documents").limit(3)
    sh = shingles(docs)
    assert dict(sh.dtypes)["shingle"] == "bigint"
    rows = sh.collect()
    assert rows and all(r["shingle"] >= 0 for r in rows)
    # spot-check the hash is phash of the space-joined 5-gram
    doc = docs.collect()[0]
    toks = doc["text"].split(" ")
    want = phash_py(" ".join(toks[:5]))
    got = {r["shingle"] for r in rows if r["doc_id"] == doc["doc_id"]}
    assert want in got


def test_curation_pipeline_fuses_into_one_scan(spark):
    """The composed curation pipeline must evaluate quality features
    and the sampling gate INSIDE the single corpus scan, apply the
    dedup verdict as a broadcast join, and shuffle only the final
    (source, lang) aggregation — no SortMergeJoin, no per-stage corpus
    rescan. At 100 TB the earlier DataFrame-join composition cost two
    corpus-sized shuffle joins and three scans for the same answer."""
    from stream_processing_test_spark.llm.corpus import corpus_curation_pipeline

    plan = _plan(corpus_curation_pipeline(spark, SF_SMALL))
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    import re

    scan_ids = set(re.findall(r"Scan parquet\s+\((\d+)\)", plan))
    assert len(scan_ids) <= 1, scan_ids
    shuffle_ids = set(re.findall(r"(?<!Broadcast)Exchange\s+\((\d+)\)", plan))
    assert len(shuffle_ids) <= 1, shuffle_ids


def test_decontaminate_embedding_eval_side_broadcasts(spark):
    """decontaminate_embedding's 100 TB claim (VERDICT r13 item 5):
    the cross-split bucket join and the verify-stage eval-vector join
    must carry EXPLICIT size-gated broadcast hints — the claimed plan
    is the actual plan, not an AQE runtime conversion. Under the
    default budget the fixture's eval side fits, so the lazy plan must
    show the broadcasts (and no SortMergeJoin anywhere); with
    broadcasting disabled the gate must refuse BOTH hints."""
    from stream_processing_test_spark.llm.dedup import (
        _decontaminate_embedding_frames,
    )

    result, tables = _decontaminate_embedding_frames(spark, SF_SMALL)
    try:
        plan = _plan(result)
        assert plan.count("BroadcastHashJoin") >= 2
        assert "SortMergeJoin" not in plan
    finally:
        tables.unpersist()

    old_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        result, tables = _decontaminate_embedding_frames(spark, SF_SMALL)
        try:
            assert "BroadcastExchange" not in _plan(result), (
                "eval-side joins still broadcast with "
                "autoBroadcastJoinThreshold=-1"
            )
        finally:
            tables.unpersist()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bc)


def test_keep_canonical_verdict_is_broadcast(spark):
    """dedup_keep_canonical's corpus pass must be a broadcast left
    join of the clustered-node set WHEN the measured node count fits
    the session broadcast budget (the fixture's does) — never a
    corpus-vs-corpus shuffle join in that regime."""
    from stream_processing_test_spark.llm.cluster import dedup_keep_canonical

    plan = _plan(dedup_keep_canonical(spark, SF_SMALL))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_parallelize_narrow_scan_contract(spark):
    """The helper repartitions only under-partitioned SCAN-ROOTED
    frames; exchange-bearing plans are refused untouched (probing
    .rdd on them under AQE would materialize upstream stages), and an
    explicit min_partitions=0 means never repartition."""
    from stream_processing_test_spark.session import parallelize_narrow_scan
    from stream_processing_test_spark.tables import load

    docs = load(spark, SF_SMALL, "documents").select("doc_id", "text")
    assert docs.rdd.getNumPartitions() == 1  # single-row-group fixture
    out = parallelize_narrow_scan(docs)
    assert (
        out.rdd.getNumPartitions()
        == spark.sparkContext.defaultParallelism
    )
    # already-wide input: untouched
    assert parallelize_narrow_scan(out) is out
    # exchange-bearing frame: refused, even though it has 1 partition's
    # worth of rows
    agg = docs.groupBy("doc_id").count()
    assert parallelize_narrow_scan(agg) is agg
    # other exchange- or row-set-bearing roots are refused too (ADVICE
    # r6): Sort, Deduplicate, Generate, Sample all either shuffle under
    # AQE or change the rows the .rdd probe would count
    srt = docs.orderBy("doc_id")
    assert parallelize_narrow_scan(srt) is srt
    ddup = docs.dropDuplicates(["doc_id"])
    assert parallelize_narrow_scan(ddup) is ddup
    from pyspark.sql import functions as F

    gen = docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    assert parallelize_narrow_scan(gen) is gen
    smp = docs.sample(0.5, seed=1)
    assert parallelize_narrow_scan(smp) is smp
    # subquery EXPRESSIONS are refused outright (ADVICE r7): a
    # scalar-subquery Aggregate lives in the Filter's condition, not
    # in children(), and an IN-subquery is Project-over-scan at
    # analysis time but becomes a semi-JOIN under the optimizer —
    # probing .rdd on either materializes stages
    docs.createOrReplaceTempView("ns_docs")
    sub = spark.sql(
        "SELECT doc_id FROM ns_docs "
        "WHERE doc_id < (SELECT avg(doc_id) FROM ns_docs)"
    )
    assert parallelize_narrow_scan(sub) is sub
    insub = spark.sql(
        "SELECT doc_id FROM ns_docs WHERE doc_id IN "
        "(SELECT doc_id FROM ns_docs WHERE doc_id < 5)"
    )
    assert parallelize_narrow_scan(insub) is insub
    # explicit 0 disables
    assert parallelize_narrow_scan(docs, min_partitions=0) is docs


def test_auto_broadcast_threshold_parser():
    """The gate must understand every spelling Spark conf values use
    — plain bytes, b/k/m/g suffixes, -1 — and treat garbage as
    'disabled' (never force a hint on an unparseable budget)."""

    class _FakeConf:
        def __init__(self, v):
            self.v = v

        def get(self, key, default=None):
            return self.v

    class _FakeSpark:
        def __init__(self, v):
            self.conf = _FakeConf(v)

    from stream_processing_test_spark.llm.cluster import (
        _auto_broadcast_threshold_bytes,
    )

    for raw, want in [
        ("10485760", 10485760),
        ("10485760b", 10485760),
        ("10MB", 10 * 1024 * 1024),
        ("1g", 1 << 30),
        ("512k", 512 * 1024),
        ("-1", -1),
        ("0", 0),
        ("not-a-size", 0),
        ("", 0),
    ]:
        assert _auto_broadcast_threshold_bytes(_FakeSpark(raw)) == want, raw


def test_keep_verdict_broadcast_is_size_gated(spark):
    """The verdict join's broadcast hint must be GATED, not forced: at
    real web dup rates (30-50% of docs in dup pairs) the clustered-node
    set is corpus-order and a forced broadcast OOMs every executor.
    Piecewise layout assertion for ALL THREE callers — including
    ``leakage_safe_split``, whose plan the registry sweep never sees
    (PLAN_OPAQUE) — under both regimes:

    - broadcasting disabled (threshold -1): NO BroadcastExchange
      anywhere in the verdict plan — the gate must refuse the hint and
      leave an ordinary shuffle join;
    - a threshold smaller than the measured node set: same refusal —
      proving the gate compares MEASURED size, not a planner guess;
    - default budget: the hint applies (previous test).
    """
    from stream_processing_test_spark.llm.cluster import (
        dedup_keep_canonical,
        leakage_safe_split,
    )
    from stream_processing_test_spark.llm.corpus import corpus_curation_pipeline

    old_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    for thr in ("-1", "64b"):  # disabled; smaller than any node set
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
        try:
            for fn in (
                dedup_keep_canonical,
                corpus_curation_pipeline,
                leakage_safe_split,
            ):
                plan = _plan(fn(spark, SF_SMALL))
                assert "BroadcastExchange" not in plan, (
                    f"{fn.__name__}: verdict join still broadcasts with "
                    f"autoBroadcastJoinThreshold={thr}"
                )
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bc)


def test_connected_components_one_job_per_round(spark):
    """Label propagation must run exactly ONE Spark job per round — the
    changed-row count rides the same action that materializes the lazy
    local checkpoint. A separate bookkeeping job (the old count()-the-
    diff form) serializes rounds on the driver at scale. AQE and
    broadcast are disabled so query-internal helper jobs (broadcast
    builds, AQE stage materialization) don't blur the count."""
    from stream_processing_test_spark import profile
    from stream_processing_test_spark.llm.cluster import connected_components

    old_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    old_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        # chain 1-2-3 (diameter 2) + pair 10-11: two-hop rounds need
        # exactly 2 (1 productive pair + 1 confirming), and since r16
        # the init labels checkpoint is LAZY — materialized by round
        # 1's count — so there is NO separate setup job.
        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (10, 11)], "src LONG, dst LONG"
        )
        labels, rec = profile.run(
            spark, lambda: connected_components(edges), "cc_jobs"
        )
        n_jobs = rec["build_jobs"]
        assert n_jobs == 2, f"expected 2 two-hop round jobs (no setup job), got {n_jobs}"
        got = sorted((r["node"], r["component"]) for r in labels.collect())
        assert got == [(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)]
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old_aqe)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bc)


def test_cc_over_driver_cap_costs_one_extra_job(spark):
    """One edge over the driver cap (threshold // 64 bytes per edge),
    the auto path hands the graph to the distributed loop: same labels
    as pinned min-label, and the capped collect is the only extra job.
    AQE is off so both sides count the same plan's jobs."""
    from stream_processing_test_spark import profile
    from stream_processing_test_spark.llm.cluster import (
        _VERDICT_ROW_BYTES,
        connected_components,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12)], "src LONG, dst LONG"
    )
    old_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    old_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set(
        "spark.sql.autoBroadcastJoinThreshold", str(5 * _VERDICT_ROW_BYTES - 1)
    )
    try:
        out = {}
        for algo in ("auto", "minlabel"):
            labels, rec = profile.run(
                spark,
                lambda: connected_components(edges, algorithm=algo),
                f"cc_cap:{algo}",
            )
            out[algo] = (
                sorted(tuple(r) for r in labels.collect()), rec["build_jobs"]
            )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old_aqe)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bc)
    assert out["auto"][0] == out["minlabel"][0]
    # the lower bound proves the loop ran (the driver path is one job)
    assert out["minlabel"][1] <= out["auto"][1] <= out["minlabel"][1] + 1, out


def test_dup_clusters_jobs_track_the_pairs_trunk(spark):
    """``dup_clusters`` closes its duplicate graph on the driver: over
    its n-gram pairs trunk (``dedup_ngram_jaccard``) it may add the
    capped collect and the size fan-back's jobs, at most 4 — the
    distributed min-label loop it replaced added 14."""
    from stream_processing_test_spark import profile
    from stream_processing_test_spark.llm.cluster import dup_clusters
    from stream_processing_test_spark.llm.dedup import dedup_ngram_jaccard

    _, trunk = profile.run(
        spark, lambda: dedup_ngram_jaccard(spark, SF_SMALL), "guard:trunk"
    )
    _, full = profile.run(
        spark, lambda: dup_clusters(spark, SF_SMALL), "guard:dup_clusters"
    )
    assert full["jobs"] <= trunk["jobs"] + 4, (trunk["jobs"], full["jobs"])


# Queries allowed to FORCE a broadcast (F.broadcast hint) even with the
# auto-broadcast threshold disabled, each with the row bound that makes
# the forced build side safe at any fact-table scale. Everything else
# must leave join-strategy choice to AQE: a hint on a frame whose rows
# grow with the fact table (customer/supplier/part at TPC-H scale,
# per-user frames, per-doc size tables) is a guaranteed executor OOM at
# 100 TB no matter how small it is in this fixture.
_FORCED_BROADCAST_ALLOWED = {
    "ann_cosine_topk": "k-row query-vector set (crossJoin seed)",
    "ann_cosine_topk_int8": "k-row query-vector set (crossJoin seed)",
    "mmr_diverse_topk": "k-row query-vector set (crossJoin seed of the "
    "relevance pool — the greedy itself broadcasts nothing)",
    "ann_auto_topk": "dispatches to ann_cosine_topk in the brute region "
    "(auto_path: the sweep corpus is under BRUTE_MAX_ROWS), so the same "
    "k-row query-vector broadcast",
    "decontaminate_bloom": "Bloom bitset, hard-capped at 2^28 bits (32 MiB)",
    "ann_pq_topk": "PQ codebook rows + (queries x codes)-row integer LUTs",
    "ann_ivfpq_topk": "trained centroids (<=256 rows) + (queries x n_probe) probed-list pairs + (queries x codes)-row integer LUTs",
    "bm25_topk": "1-row (N, avgdl) scalars + |query-terms|-row idf table",
    "bm25_multi_topk": "same scalar/idf broadcasts + the literal (query_id, term) relation (|queries| x |terms| rows)",
    # doc_lm_score left this list r12: its fn() now materializes via
    # finish_with (persisted pair_tf scan cut), so the sweep sees only
    # the checkpoint scan; the 1-row vocab scalar broadcast it used to
    # prove here is pinned by its oracle row + the lm_score pytest.
    "lang_sampling_weights": "1-row total-weight scalar (the |langs|-row aggregate normalizes against it)",
    "error_labels": "17-row error-code taxonomy dim",
    "failing_programs": "program dim + its HAVING-filtered subset",
    "program_match": "program-name dim (live_broadcast_details)",
    "q10_returned_items": "25-row nation dim",
    "q11_important_parts": "1-row share-threshold scalar",
    "q15_top_supplier": "1-row max-revenue scalar",
    "q20_excess_suppliers": "1-row volume threshold + filtered nation",
    "q22_idle_customers": "1-row average-balance scalar",
    "q5_region_revenue": "region(5)/nation(25) dims",
    "q7_nation_trade_volume": "pair-filtered nation (<=25 rows)",
    "q8_market_share": "region/nation dims",
    "q9_product_profit": "25-row nation dim",
    "tfidf_top_terms": "1-row corpus-size scalar",
    "user_value_percentiles": "#shuffle-partitions-row offsets frame",
}

# Queries whose heavy plan runs inside fn() (localCheckpoint/streaming
# sink) — the returned frame's lineage is cut, so the sweep can't see
# their joins. Their broadcast discipline is asserted piecewise above
# (LSH candidate layout, shingle index, CC job counts) instead. The
# canonical list lives in the registry (shared with tools/audit_plans).
from stream_processing_test_spark.registry import PLAN_OPAQUE_QUERIES

_SWEEP_OPAQUE = set(PLAN_OPAQUE_QUERIES)


def test_no_query_force_broadcasts_fact_scaled_frames(spark):
    """Registry-wide sweep: with AQE off and the auto-broadcast
    threshold disabled, any BroadcastExchange left in a plan comes from
    an explicit F.broadcast hint. The set of queries with forced
    broadcasts must equal the documented allowlist — every entry a
    frame with a scale-independent row bound (dims, taxonomies, 1-row
    scalars, k-row seeds). A new hint on a fact-scaled frame, anywhere
    in the registry, fails this test."""
    from stream_processing_test_spark.registry import all_queries

    old_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    old_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        forced = set()
        for name, spec in sorted(all_queries().items()):
            if name in _SWEEP_OPAQUE:
                continue
            plan = _plan(spec.fn(spark, SF_SMALL))
            assert (
                "Scan parquet" in plan
                or "Scan json" in plan
                or "Scan csv" in plan
                or "Scan orc" in plan
            ), f"{name}: expected a lazy plan"
            if "BroadcastExchange" in plan:
                forced.add(name)
        assert forced == set(_FORCED_BROADCAST_ALLOWED), (
            f"unexpected forced broadcasts: {sorted(forced - set(_FORCED_BROADCAST_ALLOWED))}; "
            f"stale allowlist entries: {sorted(set(_FORCED_BROADCAST_ALLOWED) - forced)}"
        )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old_aqe)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bc)


def test_star_components_log_rounds_on_long_chain(spark):
    """large-star/small-star must collapse a 64-node chain (diameter
    63) in logarithmic rounds — ≤ ⌈log2 63⌉ + 4 = 10 — where
    diameter-bound propagation would need ~32 two-hop rounds. Labels
    must be exact: every chain node -> 0, plus an untouched pair."""
    from stream_processing_test_spark.llm.cluster import star_components

    chain = [(i, i + 1) for i in range(63)] + [(100, 101)]
    edges = spark.createDataFrame(chain, "src LONG, dst LONG")
    labels, rounds = star_components(edges)
    assert rounds <= 10, f"star took {rounds} rounds on a 64-chain"
    got = {r["node"]: r["component"] for r in labels.collect()}
    want = {i: 0 for i in range(64)} | {100: 100, 101: 100}
    assert got == want


def test_star_and_minlabel_agree(spark):
    """Both algorithms behind connected_components() must produce
    identical labels on a mixed graph (clique + chain + isolated
    pair + self-loop)."""
    from stream_processing_test_spark.llm.cluster import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (5, 6), (6, 7), (7, 8), (20, 21), (30, 30)],
        "src LONG, dst LONG",
    )
    out = {}
    for algo in ("minlabel", "star"):
        out[algo] = sorted(
            (r["node"], r["component"])
            for r in connected_components(edges, algorithm=algo).collect()
        )
    assert out["minlabel"] == out["star"]
    assert out["star"] == [
        (1, 1), (2, 1), (3, 1), (5, 5), (6, 5), (7, 5), (8, 5),
        (20, 20), (21, 20), (30, 30),
    ]


def test_kmeans_centroids_rounded_and_bounded(spark):
    """Quantizer determinism contract: centroid components are rounded
    to 6 decimals (cross-engine float stability — the property the
    unrolled-SQL oracle relies on) and at most k lists exist."""
    from pyspark.sql import functions as F

    from stream_processing_test_spark.llm.similarity import kmeans_lists
    from stream_processing_test_spark.tables import load

    emb = load(spark, SF_SMALL, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    assign, centroids = kmeans_lists(emb, k=8, iters=1)
    cents = centroids.collect()
    assert 0 < len(cents) <= 8
    for r in cents:
        assert all(abs(x - round(x, 6)) < 1e-15 for x in r["centroid"])
    # every vector assigned to exactly one existing list
    n = emb.count()
    a = assign.collect()
    assert len(a) == n and {r["list_id"] for r in a} <= {r["list_id"] for r in cents}


def test_session_keeps_runtime_filters_on(spark):
    """The 100 TB posture leans on Spark's runtime filters: bloom-filter
    semi-join reduction pushes join-key membership into fact scans, and
    dynamic partition pruning skips date partitions behind a dim filter.
    Both default on in Spark 4 — pin them so a future session-factory
    edit (or a conf override in a query) can't silently turn them off."""
    assert (
        spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled")
        == "true"
    )
    assert (
        spark.conf.get("spark.sql.optimizer.dynamicPartitionPruning.enabled")
        == "true"
    )
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"


def test_cc_rounds_release_superseded_checkpoints(spark):
    """Iterative CC must not pin one localCheckpoint per round for the
    session's lifetime (the ContextCleaner only reclaims them at its
    periodic JVM GC): after a multi-round star run, persistent RDD
    count is bounded by a small constant (result + nodes + final edge
    set), not by the round count."""
    from stream_processing_test_spark.llm.cluster import star_components

    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 64)], "src LONG, dst LONG"
    )
    labels, rounds = star_components(edges)
    got = {(r["node"], r["component"]) for r in labels.collect()}
    assert got == {(i, 1) for i in range(1, 65)}
    assert rounds >= 4  # enough rounds that per-round pinning would show
    after = jsc.getPersistentRDDs().size()
    assert after - before <= 3, (
        f"{after - before} checkpoints pinned after {rounds} rounds"
    )


def test_cc_auto_falls_back_to_star_on_long_chains(spark):
    """algorithm='auto' (the default) past the driver cap: dense
    near-dup graphs converge inside the min-label budget; a
    pathological high-diameter chain falls back to the O(log d) star
    path and still labels correctly — while explicitly-pinned minlabel
    stays loud and raises. Broadcasting is disabled so the 64-edge
    chain does not close on the driver."""
    import pytest

    from stream_processing_test_spark.llm.cluster import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 64)], "src LONG, dst LONG"
    )
    old_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        labels = connected_components(edges)  # default auto
        got = {(r["node"], r["component"]) for r in labels.collect()}
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bc)
    assert got == {(i, 1) for i in range(1, 65)}

    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, algorithm="minlabel", max_iter=5)


def test_lsh_bucket_occupancy_scales_with_auto_planes(spark):
    """The hyperplane-LSH candidate stage costs Σ_buckets |bucket|² per
    table. With the FIXED fixture default (4 planes = 16 buckets) that
    is ~n²/16 — quadratic in corpus size; `auto_planes` grows the
    bucket count with the corpus so expected occupancy (and the join)
    stays bounded. Pinned by counting real bucket occupancies on
    synthetic vectors (no join executed), plus the sizing math."""
    from pyspark.sql import functions as F

    from stream_processing_test_spark.llm.similarity import (
        EMBED_DIM,
        N_PLANES,
        auto_planes,
        hyperplane_tables,
    )

    # sizing math: fixture sizes keep the default; big corpora scale
    # ~log2(n/target); clamped at 24 (beyond that, use IVF)
    assert auto_planes(1_000) == N_PLANES
    assert auto_planes(2**20, target_occupancy=1024) == 10
    assert auto_planes(10**12) == 24

    n = 10_000
    emb = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.expr(
            f"transform(sequence(0, {EMBED_DIM - 1}), "
            f"i -> cast(xxhash64(id * {EMBED_DIM} + i) % 1000 as double) / 500.0)"
        ).alias("v"),
    )

    def sum_sq_occupancy(planes: int) -> int:
        t = hyperplane_tables(emb, n_planes=planes).filter(
            F.col("table_id") == 0
        )
        occ = t.groupBy("bucket").count()
        return occ.agg(F.sum(F.col("count") * F.col("count"))).collect()[0][0]

    fixed = sum_sq_occupancy(N_PLANES)
    scaled = sum_sq_occupancy(auto_planes(n, target_occupancy=64))
    # default is in the quadratic regime at this size (~n²/16);
    # auto-planes cuts the join work by the grown bucket count
    assert fixed > n * n / 64, fixed
    assert fixed > 8 * scaled, (fixed, scaled)


def test_knn_graph_rank_prunes_before_exchange(spark, monkeypatch):
    """embedding_knn_graph's per-node rank must plan as WindowGroupLimit
    pairs (partial before the rank exchange, final after): at 100 TB the
    unfiltered candidate set is orders of magnitude larger than the
    <= n*k graph, and only pruned rows may cross the shuffle. Probed on
    the pre-checkpoint frame (the registered op eagerly checkpoints,
    which hides the plan)."""
    import stream_processing_test_spark.llm.dedup as dd
    from stream_processing_test_spark.llm.dedup import embedding_lsh_pairs
    from stream_processing_test_spark.tables import load

    monkeypatch.setattr(
        dd, "finish_with", lambda r, *cached: ([c.unpersist() for c in cached], r)[1]
    )
    emb = load(spark, SF_SMALL, "embeddings").select(
        "vec_id", F.col("embedding").alias("v")
    )
    plan = _plan(embedding_lsh_pairs(emb, per_node_top_k=5))
    assert plan.count("WindowGroupLimit") >= 2
