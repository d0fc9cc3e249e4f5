"""Benchmark harness (driver contract): run the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and print ONE JSON line:
  {"metric": ..., "value": total_sec, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ...}

Each query is fully materialized through the noop sink (all partitions
computed, nothing collected to the driver) — measuring engine time,
not toPandas serialization.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from stream_processing_test_spark import profile
from stream_processing_test_spark.registry import all_queries
from stream_processing_test_spark.session import get_spark

HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_region_revenue",
    "daily_scores",
    "per_source_rollup",
    "vendor_flow_stats",
    "failing_programs",
    "top_events_per_user",
    "asof_click_attribution",
    "range_join_error_context",
    "rolling_user_stats",
    "revenue_rollup",
    "props_json_stats",
    "q6_forecast_revenue",
    "q7_nation_trade_volume",
    "q8_market_share",
    "q9_product_profit",
    "q10_returned_items",
    "q13_order_count_distribution",
    "q2_min_cost_supplier",
    "q16_part_supplier_variety",
    "q21_blocking_suppliers",
    "stats_moments",
    "price_percentiles",
    "revenue_cube",
    "sql_daily_event_summary",
    "q18_large_orders",
    "users_without_big_purchase",
    "suppliers_with_bulk_items",
    "user_cardinality",
    "session_windows",
    "dedup_exact",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "ann_cosine_topk",
    "token_count",
    "doc_quality_score",
    "streaming_daily_scores",
    "streaming_failure_streaks",
    "dup_clusters",
    "doc_chunking",
    "tfidf_top_terms",
    "stratified_sample",
    "source_mixing",
    "embedding_centroids",
    "embedding_norm_stats",
    "dedup_simhash",
    "dedup_keep_canonical",
    "decontaminate_overlap",
    "decontaminate_bloom",
    "corpus_curation_pipeline",
    "dedup_embedding_lsh",
    "ann_lsh_topk",
    "ann_ivf_topk",
    "ann_pq_topk",
    "day_close_trigger",
    "daily_report_pipeline",
    "attribute_rollup",
    "decayed_user_scores",
    "cohort_retention",
    "funnel_conversion",
    "user_value_percentiles",
    "skew_salted_rollup",
    "dup_clusters_star",
    "leakage_safe_split",
    "sequence_pack",
    "doc_span_dedup",
]

# Every registered query is either in HEADLINE or here, with the reason
# it is excluded — the partition is total and pinned by
# tests/test_registry_coverage.py. Two structural constraints bound the
# headline size: the driver's bench artifact truncates stdout at 2000
# chars (~66 printed per-query entries), and each slot costs 3 timed
# repeats per round — so a slot goes to the query that adds a DISTINCT
# physical shape at fact scale, not to dim-bounded or shape-duplicate
# twins.
BENCH_EXCLUDED = {
    # dim-bounded / sub-second by construction (cost scale-invariant)
    "active_sources": "S1 dim scan over the <=1.5k-row source dim; scan cost is a fixture constant",
    "program_match": "suffix join of two broadcast-sized dims; scale-invariant by design",
    "error_labels": "17-row taxonomy broadcast join; dim-bounded",
    "rich_accounts_union": "union of two dim-side sub-aggregates; sub-second, dim-bounded",
    "balance_quartiles": "ntile over the customer dim; fact-scale percentile cost is timed by price_percentiles + user_value_percentiles",
    "report_batches": "paginated report op; output bounded at 30 rows by contract (driver-side formatting, not engine throughput)",
    # same physical shape as a headline query on the same tables
    "user_cardinality_approx": "approx_count_distinct twin of headline user_cardinality: same scan, strictly cheaper agg",
    "records_in_window": "time-range count; the P2 pushed-predicate scan is timed by q6_forecast_revenue",
    "monotonic_violations": "lag window over events; window-frame cost timed by rolling_user_stats",
    "resolution_classify": "per-row CASE dispatch; same map stage as headline per_source_rollup",
    "doc_fingerprint": "single JVM map pass over documents; same shape as token_count / doc_quality_score",
    "embedding_quantize_int8": "single JVM fold pass over embeddings; same scan+fold shape as headline embedding_norm_stats",
    "ann_cosine_topk_int8": "broadcast brute-force twin of headline ann_cosine_topk over the dequantized column; identical search shape",
    "ann_auto_topk": "measured-decision dispatcher (one parquet COUNT, then exactly one already-timed path: brute at bench corpora per auto_path); the decision surface itself is priced by BENCH_SCALE's qbatch arms",
    "pii_redact": "single regexp map pass over documents; same scan+map shape as headline token_count",
    "lang_id_ngram": "marker-count map pass over documents; same scan+map shape as headline token_count + doc_quality_score (slot ceded to the distinct ADC shape of ann_pq_topk)",
    "lang_mismatch_audit": "the lang_id_ngram marker map pass into a |sources|x|langs|-bounded partial agg; scan+map shape timed by headline token_count, combiner-bounded agg by per_source_rollup",
    "dedup_incremental": "asymmetric (new-batch-probe vs base-build) variant of headline dedup_minhash_lsh's signature+band machinery — same stages, strictly fewer candidates (new x base only) plus one md5-keyed exact join timed by headline dedup_exact",
    "vocab_top_ngrams": "bigram explode + keyed partial agg (stage shapes timed by tfidf_top_terms); the salted two-phase top-k is priced where it matters — the single-lang 50M-distinct-bigram rungs in BENCH_SCALE's text ladder",
    "doc_repetition_stats": "explode -> keyed partial agg on documents; same stage shape as tfidf_top_terms",
    "bm25_topk": "query-term-filtered explode + keyed agg + broadcast-scalar join; same stage shapes as headline tfidf_top_terms (and strictly less volume: the explode is term-filtered at the scan)",
    "bm25_multi_topk": "batched fan-out of the same bm25_scores core over the same term-filtered explode; per-query volume identical to bm25_topk, already shape-timed by tfidf_top_terms",
    "doc_lm_score": "bigram explode + keyed aggs on documents (stage shapes timed by tfidf_top_terms) plus one skinny keyed fan-back join of the trained (w1,w2,logp) relation — the same shuffle-join shape dedup_ngram_jaccard's candidate stage times at headline",
    "quality_calibrated_filter": "per-source rank window + rollup on the window's own key; the scan+score map stage is timed by headline doc_quality_score, the partitioned-window sort by headline session_windows (same bounded-partition window shape, bigger input)",
    "lang_sampling_weights": "5-row temperature-weight agg; the token-count scan underneath is timed by headline token_count",
    "class_balanced_sample": "per-class rank window over documents with a bounded output (|langs| x 64 rows); same bounded-partition window shape as quality_calibrated_filter, scan timed by headline token_count",
    "ann_index_append": "ivf_topk with the new-batch split as the query relation: train/assign/probed-search stages identical to headline ann_ivf_topk (just 10x the broadcast query rows; per-batch cost priced by the qbatch arms)",
    "ann_ivfpq_topk": "composition of headline ann_ivf_topk's routed-assignment stages and headline ann_pq_topk's encode+ADC stages, with strictly LESS ADC volume than the PQ headline (probed fraction only); its scale behavior is what matters and is priced in BENCH_SCALE's ivfpq rungs",
    "ann_ivf_auto_probe": "headline ann_ivf_topk's exact stages at the auto_lists/auto_probe operating point — at bench corpora both rules resolve to the fixture constants (16 lists / 2 probes), so the plan IS the headline plan; the escalation's cost lives at scale and is priced by BENCH_SCALE's ivfprobe arm",
    "embedding_diverse_sample": "headline ann_ivf_topk's trainer + Arrow assignment stages plus one broadcast-centroid map join and a bounded per-list rank window (the quota prunes before the exchange); no stage shape the IVF headline doesn't already time",
    "embedding_top_component": "the quantizer family's capped trainer collect (timed by headline ann_ivf_topk) + one map-only literal-fold projection over embeddings (same scan+fold shape as headline embedding_norm_stats) into a TakeOrderedAndProject top-100 (per-partition top-k, driver merge — bounded, never a global sort)",
    "mmr_diverse_topk": "pool stage is headline ann_cosine_topk's broadcast brute-scoring shape cut to 50 rows/query by a partitioned window; the greedy is an applyInPandas kernel over |queries| x 50 bounded rows — sub-second and scale-invariant by construction (the corpus-scale stages are the headline's)",
    "embedding_knn_graph": "headline dedup_embedding_lsh's auto-sized bucket-join candidate + exact-verify stages verbatim (shared embedding_lsh_pairs core), with the threshold tail swapped for a WindowGroupLimit-pruned per-node rank — <= n*k rows cross the rank exchange; no fact-scale stage the LSH headline doesn't already time",
    "bpe_vocab_merges": "six sequential rounds of the bigram explode + keyed partial-agg shape headline tfidf_top_terms times (each round ends in a 1-row TakeOrdered argmax, strictly cheaper than the rank) plus narrow replace projections — inherently sequential repetition of an already-timed shape, no distinct fact-scale stage",
    "semantic_dup_clusters": "embedding_knn_graph's stages (excluded, shape-timed by headline dedup_embedding_lsh) + an id-pair semi-join and the iterative CC loop headline dup_clusters times; no distinct fact-scale stage",
    "quantity_grouping_sets": "grouping-sets twin of headline revenue_cube; identical rollup machinery",
    "engaged_users_setops": "INTERSECT/EXCEPT over per-user aggregates; same distinct-exchange shape as user_cardinality",
    "substring_dup_coverage": "hashed-gram inverted index on documents; same shingle-index stages as headline dedup_ngram_jaccard",
    # TPC-H variants whose join+agg pattern duplicates a headline query
    "q4_order_priority": "EXISTS semi-join + agg; shape timed by q21_blocking_suppliers",
    "q11_important_parts": "scalar-subquery share filter over partsupp dims; shape timed by q16_part_supplier_variety",
    "q12_priority_shipping": "lineitem join + conditional agg; shape timed by q10_returned_items",
    "q14_promo_revenue_share": "join + CASE ratio agg; shape timed by q9_product_profit",
    "q15_top_supplier": "scalar-subquery max; shape timed by q2_min_cost_supplier",
    "q17_small_quantity_revenue": "correlated per-key threshold; shape timed by q18_large_orders",
    "q19_disjunctive_revenue": "disjunctive pushed-predicate scan; shape timed by q6_forecast_revenue",
    "q20_excess_suppliers": "semi-join + scalar threshold; shape timed by q16_part_supplier_variety",
    "q22_idle_customers": "anti-join + agg over customer; shape timed by q13_order_count_distribution",
    # wall time dominated by harness/stub work, not engine stages
    "probe_source_events": "wall time is the synthetic prober loop (stub), not engine stages; connector timed end-to-end by its pytest contract",
    "envelope_rollup": "wall time is the local tempdir JSON write of its own fixture; the ingest edges are pinned by the driver correctness row",
    "envelope_rollup_csv": "CSV format twin of envelope_rollup: wall time is the local tempdir CSV write of its own fixture; the CSV binding edges are pinned by its driver correctness row",
    "envelope_rollup_parquet": "parquet format twin of envelope_rollup: wall time is the local tempdir fixture write; the binding edges are pinned by its driver correctness row",
    "envelope_rollup_orc": "ORC format twin of envelope_rollup: same fixture-write-dominated wall; pinned by its driver correctness row",
    "multimodal_features": "3-row binary fixture through stub codecs; measures Arrow setup, not engine throughput",
    "multimodal_preprocess": "2-row binary fixture through stub codecs; same",
    "dedup_embedding_cosine": "guarded quadratic ORACLE TWIN, hard-capped at 1M rows; the scale path timed is dedup_embedding_lsh",
    "decontaminate_embedding": "asymmetric (train-bucket x eval-bucket) restriction of headline dedup_embedding_lsh's signature+bucket+verify machinery — same stages, strictly fewer candidates (~1/97 of the self-join's)",
    "dedup_multimodal": "composition of two already-timed shapes: the Arrow feature pass (multimodal_features' stage) and the banded hamming self-join (dedup_simhash's stage, plus a skinny cap agg); its scale behavior is priced by the mm ladder's png_dedup rung",
    "streaming_click_purchase_join": "micro-batch harness setup dominates; streaming perf represented by streaming_daily_scores + streaming_failure_streaks",
    "streaming_click_purchase_outer": "same harness-dominated wall as the inner variant plus a sentinel-replay rewrite; the join's state behavior is priced by BENCH_SCALE's ss_join arm (rows-in-state at 1M/10M events)",
    "streaming_dedup": "micro-batch harness setup dominates; same representatives",
    "streaming_enriched_rollup": "memory-sink micro-batch harness setup dominates at fixture size; the stream-static join adds no exchange (broadcast dim) and streaming perf is represented by streaming_daily_scores + streaming_failure_streaks",
    "streaming_envelope_rollup": "wall time is memory-sink micro-batch harness setup over the tiny envelope fixture; streaming perf represented by streaming_daily_scores + streaming_failure_streaks",
    "streaming_session_windows": "wall time dominated by the sentinel-replay rewrite (test harness, not engine work); same representatives",
    "streaming_rate_rollup": "wall time is processing-time trigger latency of a 4-batch synthetic rate source (poll-then-stop harness), not engine stages; same streaming representatives",
    "streaming_sliding_rollup": "memory-sink micro-batch harness setup dominates at fixture size; streaming perf represented by streaming_daily_scores + streaming_failure_streaks",
    "streaming_daily_scores_update": "same aggregation and replay as headline streaming_daily_scores, differing only in output mode + watermark (state-size semantics, priced in BENCH_SCALE stream tiers, not wall shape)",
}


# Reference cost of the calibration probe on a nominal (unthrottled)
# driver host — the r7 run's end-of-run probe. value_cal_normalized
# divides host drift out of the headline total (value * CAL_REF /
# mean(cal)), so cross-round comparisons stop re-deriving throttle
# corrections by hand (VERDICT r7 item 6). Compare LIKE WITH LIKE:
# normalized against normalized (r8+), raw against raw.
CAL_REF_SEC = 0.187


def _prev_committed_detail() -> tuple[dict | None, str | None]:
    """The PREVIOUS round's DRIVER-WINDOW BENCH_DETAIL.json, for the
    drift self-report (VERDICT r11 item 2). The right baseline is the
    artifact the last round's driver commit recorded (subject
    ``round N: ...``) — NOT plain git HEAD: mid-round refresh commits
    also touch BENCH_DETAIL.json, and comparing one same-day window
    against another amplifies min-of-N sampling noise into phantom
    movers (the r12 ``leakage_safe_split`` 1.47x flag was exactly
    this — BENCH_NOTES §r13-leakage-attrib). Falls back to HEAD, then
    to the on-disk file, outside that history."""
    import re
    import subprocess

    here = Path(__file__).resolve().parent
    try:
        log = subprocess.run(
            [
                "git", "-C", str(here), "log", "--format=%h %s",
                "--", "BENCH_DETAIL.json",
            ],
            capture_output=True,
            text=True,
            timeout=20,
        )
        refs = ["HEAD"]
        if log.returncode == 0:
            for line in log.stdout.splitlines():
                sha, _, subject = line.partition(" ")
                # IGNORECASE (ADVICE r13): a driver commit worded
                # "Round 14: ..." must still be found — a silent
                # fallback to HEAD reintroduces the same-day-window
                # phantom movers this selection exists to prevent
                if re.match(r"round \d+:", subject, re.IGNORECASE):
                    refs.insert(0, sha)
                    break
        for ref in refs:
            out = subprocess.run(
                ["git", "-C", str(here), "show", f"{ref}:BENCH_DETAIL.json"],
                capture_output=True,
                text=True,
                timeout=20,
            )
            if out.returncode == 0 and out.stdout.strip():
                # name the degraded comparison in the artifact so a
                # missing driver baseline is visible, never silent
                label = (
                    "git:HEAD (no driver commit matched)"
                    if ref == "HEAD"
                    else f"git:{ref} (driver window)"
                )
                return json.loads(out.stdout), label
    except (OSError, subprocess.SubprocessError, json.JSONDecodeError):
        pass
    try:
        return json.loads(here.joinpath("BENCH_DETAIL.json").read_text()), "file"
    except (OSError, json.JSONDecodeError):
        return None, None


def _drift_report(
    prev: dict | None,
    prev_source: str | None,
    timings: dict[str, float],
    cal_mean: float,
    sf_num,
    spread: dict[str, list[float]] | None = None,
) -> dict | None:
    """Carried-query normalized drift vs the previous committed
    detail: the median ratio is the judge's throttle-vs-regression
    separator (uniform drift across untouched queries = host speed;
    an outlier = a real mover), computed here so three rounds of
    hand-adjudication become one field. Movers are the 5 carried
    queries whose normalized ratio deviates most from that median —
    i.e. the real movers AFTER uniform host drift is discounted."""
    import math

    if not prev or prev.get("sf") != sf_num or not cal_mean:
        return None
    prev_cals = (prev.get("calibration") or {}).get("round_sec") or []
    prev_queries = prev.get("queries") or {}
    if not prev_cals or not prev_queries:
        return None
    prev_cal_mean = sum(prev_cals) / len(prev_cals)
    ratios = {}
    for name, cur in timings.items():
        p = prev_queries.get(name)
        if p and p > 0 and cur > 0 and prev_cal_mean:
            # CAL_REF cancels in the ratio; cal means carry the drift
            ratios[name] = (cur / cal_mean) / (p / prev_cal_mean)
    if not ratios:
        return None
    med = statistics.median(ratios.values())
    movers = sorted(
        ratios, key=lambda n: abs(math.log(ratios[n] / med)), reverse=True
    )[:5]
    return {
        "prev_source": prev_source,
        "carried_n": len(ratios),
        "carried_median_normalized_ratio": round(med, 3),
        # prev/cur [min, median, max] over the repeat rounds ride along
        # so overlapping distributions read as sampling noise, not a
        # regression, without re-deriving it from two artifacts by hand
        "movers": [
            {
                "name": n,
                "normalized_ratio": round(ratios[n], 3),
                "vs_median": round(ratios[n] / med, 3),
                "prev_sec": round(prev_queries[n], 3),
                "cur_sec": round(timings[n], 3),
                "prev_spread": (prev.get("spread") or {}).get(n),
                "cur_spread": (spread or {}).get(n),
            }
            for n in movers
        ],
    }


def _calibration_probe(spark) -> float:
    """Fixed-cost, data-independent CPU probe: a codegen'd xxhash64
    fold over a literal range — no I/O, no shuffle, no cache effects.
    Timed once right after warm-up and once after the last repeat;
    the end/start ratio is the run's own measure of host-throttle
    drift, so a cross-round comparison can separate 'the host slowed
    down' from 'a query regressed' mechanically instead of by prose
    (VERDICT r6 item 6)."""
    t0 = time.time()
    spark.range(0, 150_000_000, 1, 32).selectExpr(
        "sum(xxhash64(id)) AS s"
    ).write.format("noop").mode("overwrite").save()
    return round(time.time() - t0, 3)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark("bench")
    specs = all_queries()

    # Warm the JVM/session so per-query numbers measure the queries,
    # not one-time class loading: a real parquet scan + noop write JITs
    # the reader, codegen, and committer paths (region is ~5 rows).
    spark.range(1000).count()
    spark.read.parquet(os.path.join(sf_dir, "region.parquet")).write.format(
        "noop"
    ).mode("overwrite").save()

    # min-of-N (default 3): this host shows 5-50x wall-clock swings
    # under CPU throttling, so a single sample is meaningless. Repeats
    # run as full rounds over the query list (temporally separated, so
    # one throttle window can't poison all samples of one query); the
    # per-query minimum is the best available estimate of true cost.
    repeats = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3"))
    _calibration_probe(spark)  # JIT the probe itself (first run ~4x)
    # probe BETWEEN repeat rounds, not just at the ends: a throttle
    # window confined to the middle of the run is invisible to a
    # start/end bracket, so the normalized value could carry
    # uncorrected drift while reading as drift-free (ADVICE r8). With
    # per-round probes the normalization mean is run-weighted and any
    # mid-run window shows up in the cal list itself.
    cals = [_calibration_probe(spark)]
    # one profile record per successful repeat (profile.run: wall,
    # plan build vs execution, jobs, executor task time)
    runs: dict[str, list[dict]] = {name: [] for name in HEADLINE}
    # Per-query failure boundary (ADVICE r11): a data-dependent raise
    # in one operator (e.g. the k-means zero-centroid fail-loud path)
    # must not abort the other 60+ slots' measurements — the error is
    # RECORDED in the artifact (never swallowed silently) and the run
    # continues.
    errors: dict[str, str] = {}
    for rep in range(repeats):
        for name in HEADLINE:
            fn = specs[name].fn
            try:
                _, rec = profile.run(
                    spark, lambda: fn(spark, sf_dir), f"bench:{name}:{rep}"
                )
            except Exception as exc:  # noqa: BLE001 — recorded, not hidden
                errors[name] = repr(exc)[:300]
                continue
            runs[name].append(rec)
        cals.append(_calibration_probe(spark))
    cal_start, cal_end = cals[0], cals[-1]

    def per_repeat(key: str) -> dict[str, list]:
        return {
            name: [round(r[key], 3) for r in recs if r[key] is not None]
            for name, recs in runs.items()
        }

    def min_over_repeats(per_query: dict[str, list]) -> dict:
        # min over repeats: the least-interfered sample, and for build
        # jobs it leaves out the one-off job of a table's first read
        return {name: min(vs) for name, vs in per_query.items() if vs}

    samples = per_repeat("wall_s")
    task_samples = per_repeat("task_s")
    timings = min_over_repeats(samples)
    task_sec = min_over_repeats(task_samples)
    # per-query [min, median, max]: throttle noise shows up as a
    # median/max far above min, visible in the artifact itself
    spread = {
        name: [min(ts), round(statistics.median(ts), 3), max(ts)]
        for name, ts in samples.items()
        if ts
    }
    total = round(sum(timings.values()), 3)
    cal_mean = sum(cals) / len(cals)
    total_cal = round(total * CAL_REF_SEC / cal_mean, 3) if cal_mean else None
    sf_num = float(sf) if sf.replace(".", "").isdigit() else sf
    if errors:
        # a failed slot makes the TOTALS incomparable across rounds
        # (fewer queries summed reads as a phantom speedup) — the raw
        # value stays (the driver parses it) but the cross-round
        # comparison number and the drift report are withheld; the
        # per-query timings + the errors map remain the honest view
        total_cal = None
        drift = None
        prev_source = None
    else:
        prev, prev_source = _prev_committed_detail()
        drift = _drift_report(
            prev, prev_source, timings, cal_mean, sf_num, spread
        )
    # Full detail to a committed side file: the driver's BENCH artifact
    # keeps only the last 2000 chars of stdout, so the printed line must
    # stay compact (timings only) or early queries' numbers are lost.
    detail = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "spread": spread,
        "samples": samples,
        "repeats": repeats,
        "sf": sf_num,
        # the core count the session master was built with, straight
        # from the env contract (session.py local[$SPARK_GRAFT_CPUS]),
        # so a low-core artifact is self-describing
        "cpus": os.environ.get("SPARK_GRAFT_CPUS", "*"),
        # per-query executor task time (sec of stage executorRunTime,
        # min over repeats): the quantity that actually scales with
        # cores — compare THIS across a c8/c32 pair, not the
        # driver-bound sf0.1 wall (VERDICT r16 item 2)
        "queries_task_sec": task_sec,
        "task_samples": task_samples,
        # per-query driver-side plan-build seconds and the jobs that ran
        # inside the build (> 0: the query materializes while building,
        # so its build seconds include that execution), min over repeats
        "queries_build_sec": min_over_repeats(per_repeat("build_s")),
        "queries_build_jobs": min_over_repeats(per_repeat("build_jobs")),
        # host-throttle drift probe: same fixed-cost job at run start
        # and end; end/start >> 1 means the host slowed during the run
        "calibration": {
            "probe": "sum(xxhash64(id)) over range(150e6), 32 tasks",
            "start_sec": cal_start,
            "end_sec": cal_end,
            # one probe before the first repeat round + one after each:
            # mid-run throttle windows are visible here, and the
            # normalization mean below is run-weighted over all of them
            "round_sec": cals,
            "drift_ratio": round(cal_end / cal_start, 3) if cal_start else None,
            "cal_ref_sec": CAL_REF_SEC,
        },
        # headline total with host-speed drift divided out (see
        # CAL_REF_SEC): the cross-round comparison number
        "value_cal_normalized": total_cal,
        # carried-query drift vs the previous committed detail
        # (None at a new sf or outside a git checkout): median ~1.0
        # with uniform spread = host throttle; an outlier mover = a
        # real per-query change (VERDICT r11 item 2)
        "drift_vs_prev_committed": drift,
    }
    if errors:
        detail["errors"] = errors
    try:
        Path(__file__).resolve().parent.joinpath("BENCH_DETAIL.json").write_text(
            json.dumps(detail, indent=1) + "\n"
        )
    except OSError:
        pass  # read-only checkout: the stdout line still carries the timings
    # Key order matters: the driver artifact keeps only the LAST 2000
    # chars of stdout, so the headline totals go at the END of the line
    # — if the queries map outgrows the cap, truncation eats the FRONT.
    # Two mitigations (r11): per-query values print at 2 decimals (3dp
    # overflowed at 2269 chars, cutting the first ~8 entries from the
    # driver's parsed view), and entries print CHEAPEST-FIRST, so any
    # future overflow (more slots, or 100+-second walls at a bigger
    # SF) loses the least informative entries, never the expensive
    # ones. Full 3dp precision in HEADLINE order lives in
    # BENCH_DETAIL.json either way.
    line = {
        "queries": {
            k: round(v, 2)
            for k, v in sorted(timings.items(), key=lambda kv: kv[1])
        },
        "metric": "headline_queries_total_wall",
        "unit": "sec",
        "sf": sf_num,
        "cpus": os.environ.get("SPARK_GRAFT_CPUS", "*"),
        # total executor task seconds across the headline queries (the
        # per-query map lives in BENCH_DETAIL.json — the stdout line is
        # capped at 2000 chars by the driver artifact): a c8/c32 pair
        # should compare THIS, which scales with cores, not the
        # driver-bound wall
        "task_total_sec": round(sum(task_sec.values()), 1) if task_sec else None,
        "cal": cals,
        "cal_ref": CAL_REF_SEC,
        # the one-number throttle-vs-regression separator; the per-
        # query movers behind it live in BENCH_DETAIL.json
        "drift_med": drift["carried_median_normalized_ratio"] if drift else None,
        "value_cal_normalized": total_cal,
        "value": total,
    }
    if errors:  # never silent: failed slots are named in the line too
        line["errors"] = sorted(errors)
    print(json.dumps(line, separators=(",", ":")))


if __name__ == "__main__":
    main()
