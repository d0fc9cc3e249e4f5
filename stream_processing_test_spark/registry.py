"""Query registry: the bridge between operator modules and the driver
contract (``__spark_entry__.py``).

Every implemented operator registers a named query — a pure
``(spark, sf_dir) -> DataFrame`` callable — and, when the semantics are
ANSI-SQL-expressible, a DuckDB oracle SQL string computing the same
result over the same parquet tables. The driver compares the two
(row count + schema + order-insensitive value hash), so:

- every computed column is aliased identically in both;
- float aggregates are rounded to a fixed precision in both;
- timestamps crossing the boundary are formatted as strings in both
  (parquet ns-timestamps read differently in Spark vs DuckDB).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL, or None for non-SQL-expressible ops
    survey_ops: str  # SURVEY.md §2 operator ids this query exercises
    tier: int = 1  # driver-check priority: lower enumerates first


_REGISTRY: dict[str, QuerySpec] = {}

# Round-17 rotation: the driver checks a 50-query prefix. The owed
# list is COMPUTED, not hand-maintained: ``python tools/gen_rotation.py
# [--changed ...]`` reads every CORRECTNESS_r*.json, finds the
# stale-minimum cohort (queries whose newest driver row is oldest —
# they MUST lead the window), and ranks the fill cohort by prior-row
# age. This dict is its r17 output (the 38 r14-row deferrals VERDICT
# r16 item 4 binds this round to lead with), plus the round's changed
# queries annotated inline below. Unlisted queries keep ``10 + tier``.
_ROTATION_TIERS: dict[str, int] = {
    # (0) the THIRTY-EIGHT r14-row deferrals gen_rotation.py emits at
    # r17 start (VERDICT r16 item 4 — replayed verbatim from the tool's
    # owed list, stale_min_round=14)
    "ann_cosine_topk_int8": 0,
    "ann_ivf_topk": 0,
    "ann_lsh_topk": 0,
    "attribute_rollup": 0,
    "balance_quartiles": 0,
    "cohort_retention": 0,
    "decayed_user_scores": 0,
    "decontaminate_bloom": 0,
    "dedup_multimodal": 0,
    "doc_fingerprint": 0,
    "embedding_diverse_sample": 0,
    "embedding_quantize_int8": 0,
    "envelope_rollup": 0,
    "envelope_rollup_orc": 0,
    "envelope_rollup_parquet": 0,
    "funnel_conversion": 0,
    "lang_mismatch_audit": 0,
    "multimodal_features": 0,
    "price_percentiles": 0,
    "q10_returned_items": 0,
    "q13_order_count_distribution": 0,
    "q16_part_supplier_variety": 0,
    "q18_large_orders": 0,
    "q1_pricing_summary": 0,
    "q21_blocking_suppliers": 0,
    "q2_min_cost_supplier": 0,
    "q6_forecast_revenue": 0,
    "q9_product_profit": 0,
    "revenue_cube": 0,
    "skew_salted_rollup": 0,
    "sql_daily_event_summary": 0,
    "stats_moments": 0,
    "streaming_click_purchase_outer": 0,
    "streaming_session_windows": 0,
    "user_cardinality": 0,
    "user_value_percentiles": 0,
    "vendor_flow_stats": 0,
    "vocab_top_ngrams": 0,
    # (0) r17 CHANGED (optimization round — results identical, code
    # moved, so each earns a fresh driver row): the ngram trunk's
    # Column-API cache restoration (dedup_ngram_jaccard + its five
    # consumers) and everything transiting the CC loop's checkpointed
    # sym (semantic_dup_clusters).
    "dedup_ngram_jaccard": 0,
    "dup_clusters": 0,
    "dup_clusters_star": 0,
    "dedup_keep_canonical": 0,
    "leakage_safe_split": 0,
    "corpus_curation_pipeline": 0,
    "semantic_dup_clusters": 0,
    # (1) fill to 50, gen_rotation's prior-row-age rank
    "bpe_vocab_merges": 1,
    "embedding_top_component": 1,
    "mmr_diverse_topk": 1,
    "asof_click_attribution": 1,
    "bm25_multi_topk": 1,
}


def register(
    name: str,
    oracle: str | None = None,
    survey_ops: str = "",
    tier: int = 1,
):
    """Decorator: register ``fn`` as a named query with optional oracle.

    ``tier`` is the query's *registration-time* priority, frozen at the
    round that introduced it (0 = was new then, 1 = core, 3 = the
    TPC-H suite) — it is NOT kept current round-to-round. Enumeration
    order is decided by ``_ROTATION_TIERS`` (edited each round); a
    query absent from the rotation falls back to ``10 + tier``, so the
    frozen call-site value only breaks ties among unrotated queries.
    The driver's correctness gate checks a 50-query prefix of that
    order, so the rotation decides which queries get a fresh driver
    row each round."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        _REGISTRY[name] = QuerySpec(
            name=name, fn=fn, oracle=oracle, survey_ops=survey_ops, tier=tier
        )
        return fn

    return deco


# Queries whose fn() runs its heavy plan internally (streaming sinks,
# iterative convergence loops behind localCheckpoint): the returned
# frame's lineage is cut, so plan inspection sees only a memory/RDD
# scan — AND merely building the frame executes the whole query. Plan
# tooling (tools/audit_plans.py) and the broadcast sweep test skip
# these by name; their physical shape is asserted piecewise in
# tests/test_scale_layout.py instead.
PLAN_OPAQUE_QUERIES: dict[str, str] = {
    "ann_index_append": "iterative k-means (base split) materialized in fn()",
    "ann_ivf_auto_probe": "iterative k-means materialized in fn()",
    "ann_ivf_topk": "iterative k-means materialized in fn()",
    "ann_lsh_topk": "bucketed index materialized in fn()",
    "decontaminate_overlap": "inverted index materialized in fn()",
    "decontaminate_embedding": "signature tables materialized in fn()",
    "dedup_embedding_lsh": "bucket+verify materialized in fn()",
    "embedding_knn_graph": "bucket+verify+rank materialized in fn()",
    "envelope_rollup": "temp-dir write/read roundtrip materialized in fn()",
    "envelope_rollup_csv": "temp-dir write/read roundtrip materialized in fn()",
    "envelope_rollup_orc": "temp-dir write/read roundtrip materialized in fn()",
    "envelope_rollup_parquet": "temp-dir write/read roundtrip materialized in fn()",
    "bpe_vocab_merges": "iterative merge trainer; 6-row result built on the driver",
    "semantic_dup_clusters": "knn graph checkpoint + connected-components closure in fn() (driver union-find under the broadcast cap)",
    "dedup_incremental": "shared signature relation materialized in fn()",
    "dedup_minhash_lsh": "signatures/banding materialized in fn()",
    "dedup_ngram_jaccard": "shingle index materialized in fn()",
    "dedup_multimodal": "fingerprints materialized in fn()",
    "doc_lm_score": "persisted pair_tf materialized in fn() (r12 scan cut)",
    "dedup_simhash": "fingerprints materialized in fn()",
    "embedding_diverse_sample": "iterative k-means materialized in fn()",
    "dup_clusters": "pairs trunk + connected-components closure in fn() (driver union-find under the broadcast cap)",
    "dup_clusters_star": "star-contraction loop materialized in fn()",
    "leakage_safe_split": "pairs trunk + connected-components closure in fn() (driver union-find under the broadcast cap)",
    "streaming_click_purchase_join": "streaming sink",
    "streaming_click_purchase_outer": "streaming sink",
    "streaming_daily_scores": "streaming sink",
    "streaming_daily_scores_update": "streaming sink",
    "streaming_dedup": "streaming sink",
    "streaming_enriched_rollup": "streaming sink",
    "streaming_envelope_rollup": "streaming sink",
    "streaming_failure_streaks": "streaming sink",
    "streaming_rate_rollup": "streaming sink",
    "streaming_session_windows": "streaming sink",
    "streaming_sliding_rollup": "streaming sink",
}


def all_queries() -> dict[str, QuerySpec]:
    """Import every operator module (triggering registration) and return
    the full registry."""
    # Imports are deferred so `import stream_processing_test_spark` stays
    # cheap and circular imports are impossible.
    from stream_processing_test_spark.operators import (  # noqa: F401
        behavior,
        extended,
        programs,
        relational,
        rollup,
        sqltext,
        stats,
        tpch,
        vendor,
        windows,
    )
    from stream_processing_test_spark.sources import envelope, probe  # noqa: F401
    from stream_processing_test_spark.llm import (  # noqa: F401
        cluster,
        corpus,
        dedup,
        embeddings,
        filters,
        multimodal,
        packing,
        pq,
        sampling,
        similarity,
        text,
    )
    from stream_processing_test_spark.streaming import (  # noqa: F401
        joins,
        pipeline,
        stateful,
    )

    return {
        spec.name: spec
        for spec in sorted(
            _REGISTRY.values(),
            key=lambda s: _ROTATION_TIERS.get(s.name, 10 + s.tier),
        )  # stable: insertion order within a tier
    }
