"""Deduplication operators for large-scale training-data pipelines.

Four strategies, cheapest-first — the standard LLM-corpus dedup ladder:

1. **Exact** — hash-groupBy on a content fingerprint. One shuffle on
   the hash; at 100 TB this is the classic "dedup by md5" pass.
2. **N-gram Jaccard** — exact set-similarity on 5-token shingles,
   restricted to candidate pairs that share a *rare* shingle
   (document frequency <= DF_MAX). The inverted-index self-join
   replaces the O(n²) cross join: cost is Σ_shingle df², bounded by
   the df cap. Fully SQL-expressible → oracle-checked.
3. **MinHash + LSH** — signature banding for approximate Jaccard at
   scale; candidates from band-bucket joins. Hashes are the portable
   md5-derived 60-bit family (``hashing.phash``), so the WHOLE pipeline
   — signatures, banding, candidate join, estimate — is replayed by a
   DuckDB oracle, not just rows-counted.
4. **SimHash** — 60-bit locality-sensitive fingerprint; near-dup if
   hamming distance <= k on any block equi-join. Same portable hash →
   fully oracle-checked.

All operate on the driver's ``documents`` table (doc_id, text, ...).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stream_processing_test_spark.llm.hashing import (
    MINFAM_P,
    minfam_coeffs,
    phash,
    phash_spark_sql,
    phash_sql,
)
from stream_processing_test_spark.registry import register
from stream_processing_test_spark.session import (
    finish_with,
    parallelize_narrow_scan,
)
from stream_processing_test_spark.tables import load

SHINGLE_N = 5
DF_MAX = 50  # rare-shingle blocking cap (see module docstring)
JACCARD_THRESHOLD = 0.8

_EXACT_ORACLE = """
SELECT md5(text) AS fingerprint,
       CAST(MIN(doc_id) AS BIGINT) AS keep_doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_copies
FROM documents
GROUP BY md5(text)
"""


@register(
    "dedup_exact", oracle=_EXACT_ORACLE, survey_ops="§7-dedup,A5,A8", tier=0
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group by content hash, keep the smallest doc_id.
    Deterministic canonical-representative choice (min id) rather than
    Spark's arbitrary-first. Single shuffle on the 128-bit fingerprint;
    no skew (hashes are uniform)."""
    docs = load(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.md5("text").alias("fingerprint"))
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count("*").alias("n_copies"),
        )
    )


def shingles(
    doc: DataFrame,
    n: int = SHINGLE_N,
    distinct: bool = True,
) -> DataFrame:
    """(doc_id, shingle) — n-token shingles per document, where
    ``shingle`` is the portable 60-bit hash (``hashing.phash``) of the
    n-token string, not the string itself.

    Token split on single space (matches the oracle's string_split
    exactly); shingle = n consecutive tokens joined by space. All
    JVM-side array expressions — no Python in the loop.

    Hashing at the source matters for every downstream stage: the
    distinct, the document-frequency groupBy and the inverted-index
    self-join all shuffle 8-byte longs instead of ~45-byte strings
    (~5x narrower shuffles, long-vs-long key compares). The oracle
    CTEs hash identically, so cross-engine parity is untouched; the
    2^-60 collision odds are negligible AND replayed identically by
    both engines, so even a collision cannot produce a mismatch.
    MinHash reuses the same value as its universal-hash base — one
    md5 per shingle total across the whole dedup family.

    ``slice`` + ``array_join`` instead of per-position ``element_at``:
    one array access per shingle rather than n lookups each carrying a
    re-evaluated ``split`` (measured 4.4x faster at sf0.1).

    ``distinct=True`` (a full shuffle) is required when downstream
    counts shingles (Jaccard set semantics). Consumers whose aggregate
    is duplicate-insensitive — MinHash's ``min`` — pass
    ``distinct=False`` and skip that shuffle entirely: map-side partial
    aggregation absorbs the duplicates for free.

    The distinct path CLUSTERS BY ``shingle`` (not the composite
    (doc_id, shingle) hash Spark would pick): hash-partitioning on a
    subset of the dedup keys still satisfies the aggregate's required
    distribution, and every downstream stage of the inverted-index
    consumers is shingle-keyed — the df-count groupBy, the rare join
    and the candidate self-join all reuse this one exchange instead of
    re-shuffling the full shingle set two more times.
    """
    # the md5-per-gram expansion is the dedup family's hottest map
    # stage; an under-partitioned doc scan (single-row-group file)
    # would run it on one core — no-op at real scan widths. Assembled
    # as SQL strings (r16): the Column/lambda form was ~28 py4j round
    # trips per call at this host's 1-10 ms/trip, and shingles() runs
    # ~10x per bench round across its consumers (same expressions,
    # same values — runtime CSE already shared the repeated split()).
    w = "split(text, ' ')"
    grams = (
        f"transform(sequence(1, size({w}) - {n - 1}), "
        f"i -> array_join(slice({w}, i, {n}), ' '))"
    )
    out = (
        parallelize_narrow_scan(doc.where(f"size({w}) >= {n}"))
        .selectExpr("doc_id", f"explode({grams}) AS gram")
        .selectExpr("doc_id", f"{phash_spark_sql('gram')} AS shingle")
    )
    if not distinct:
        return out
    return out.repartition("shingle").dropDuplicates(["doc_id", "shingle"])


# Shingle-expansion CTEs (doc_id, shingle) — shared by the jaccard and
# minhash oracles so the two can never drift on tokenization. The
# shingle value is the portable 60-bit hash of the 5-gram string,
# mirroring :func:`shingles`.
_GRAM_EXPR = " || ' ' || ".join(f"w[i+{k}]" for k in range(1, SHINGLE_N + 1))
SHINGLE_CTES = f"""toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
sh0 AS (
    SELECT doc_id,
           unnest(list_transform(range(len(w) - {SHINGLE_N - 1}),
                  i -> {phash_sql(_GRAM_EXPR)})) AS shingle
    FROM toks WHERE len(w) >= {SHINGLE_N}
)"""

# CTE chain producing the near-dup pair set (doc_a, doc_b, jac) —
# shared verbatim by the jaccard oracle below and the
# connected-components cluster oracle (llm/cluster.py), so the two can
# never drift apart on what counts as a duplicate edge.
NGRAM_PAIR_CTES = f"""{SHINGLE_CTES},
sh AS (SELECT DISTINCT doc_id, shingle FROM sh0),
rare_shingles AS (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= {DF_MAX}),
rare AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN rare_shingles USING (shingle)),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM rare GROUP BY doc_id),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS isect
    FROM rare a JOIN rare b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
),
pairs AS (
    SELECT CAST(doc_a AS BIGINT) AS doc_a,
           CAST(doc_b AS BIGINT) AS doc_b,
           CAST(isect AS DOUBLE) / (sa.sz + sb.sz - isect) AS jac
    FROM inter
    JOIN sizes sa ON inter.doc_a = sa.doc_id
    JOIN sizes sb ON inter.doc_b = sb.doc_id
    WHERE CAST(isect AS DOUBLE) / (sa.sz + sb.sz - isect) >= {JACCARD_THRESHOLD}
)"""

_NGRAM_ORACLE = f"""
WITH {NGRAM_PAIR_CTES}
SELECT doc_a, doc_b, ROUND(jac, 4) AS jaccard FROM pairs
"""


@register(
    "dedup_ngram_jaccard", oracle=_NGRAM_ORACLE, survey_ops="§7-dedup,J1,A1", tier=0
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by exact Jaccard over rare 5-gram shingles.

    Scale design: the naive form is a cross join (n² pairs). Instead we
    build an inverted index (shingle → docs), drop shingles with
    document frequency > DF_MAX (a hot-key guard: a shingle appearing
    in k docs contributes k² join rows — the df cap bounds the whole
    join by |shingles| * DF_MAX²), and count shared shingles per
    candidate pair. Sizes and intersections both use the df-filtered
    shingle set, so the measure is well-defined and matches the oracle
    bit-for-bit. At 100 TB this is the standard suffix-array-free
    near-dup join; DF_MAX trades recall on boilerplate-heavy pairs for
    a hard cost bound (boilerplate-only similarity is exactly what
    corpus dedup wants to ignore).

    The rare-shingle set feeds THREE consumers (both self-join sides +
    per-doc sizes); it is persisted so the shingle expansion runs once
    — unpersisted lineage re-ran it ~5x (173 s → 17 s at sf0.1). The
    per-doc ``sizes`` side is |docs| rows → broadcast joins, so the
    candidate-pair table never shuffles for them.
    """
    docs = load(spark, sf_dir, "documents")
    sh = shingles(docs).persist()

    # The index tail consumes the persisted frames through the
    # DataFrame/Column API, BY OBJECT IDENTITY. The r16 round routed
    # them through parameterized ``spark.sql("... {df} ...", df=sh)``
    # to save ~25 py4j round trips — but Spark 4.1's df-parameter
    # substitution (a temp-view rewrite) does NOT match the
    # CacheManager: the after-plan showed 16 raw document scans and
    # ZERO InMemoryTableScan nodes, i.e. both persists were dead weight
    # and the md5-shingle expansion recomputed per consumer (VERDICT
    # r16 item 1; reproduced in isolation this round — only Column-API
    # consumption of the persisted object hits the cache). The handful
    # of extra round trips (~25 × 1-10 ms) is far cheaper than
    # re-running the hottest map stage 3-4×, at any scale.
    rare_shingles = (
        sh.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") <= DF_MAX)
        .select("shingle")
    )
    rare = sh.join(rare_shingles, "shingle").persist()
    sizes = rare.groupBy("doc_id").agg(F.count("*").alias("sz"))

    a = rare.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = rare.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("isect"))
    )
    jaccard = F.col("isect").cast("double") / (
        F.col("sa") + F.col("sb") - F.col("isect")
    )
    result = (
        inter.join(
            sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sa")),
            "doc_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sb")),
            "doc_b",
        )
        .filter(jaccard >= JACCARD_THRESHOLD)
        .select(
            "doc_a",
            "doc_b",
            F.round(jaccard, 4).alias("jaccard"),
        )
    )
    return finish_with(result, sh, rare)


# ---------------------------------------------------------------------------
# MinHash + LSH (approximate, scale path) — portable hashes, fully
# oracle-checked: the DuckDB oracle replays signatures, banding, the
# candidate join and the estimate bit-for-bit.
# ---------------------------------------------------------------------------

NUM_HASHES = 32
NUM_BANDS = 8  # 8 bands × 4 rows ≈ s-curve threshold ~0.72
_ROWS_PER_BAND = NUM_HASHES // NUM_BANDS

_MIN_EXPRS = ",\n           ".join(
    f"min(({a} * hb + {b}) % {MINFAM_P}) AS h{j}"
    for j, (a, b) in enumerate(minfam_coeffs(NUM_HASHES))
)
_SIG_LIST = "[" + ", ".join(f"h{j}" for j in range(NUM_HASHES)) + "]"

_MINHASH_ORACLE = f"""
WITH {SHINGLE_CTES},
shb AS (
    SELECT doc_id, shingle % {MINFAM_P} AS hb FROM sh0
),
sig AS (
    SELECT doc_id,
           {_MIN_EXPRS}
    FROM shb GROUP BY doc_id
),
sigl AS (SELECT doc_id, {_SIG_LIST} AS sig FROM sig),
bands AS (
    SELECT doc_id, sig, b,
           sig[{_ROWS_PER_BAND}*b+1 : {_ROWS_PER_BAND}*b+{_ROWS_PER_BAND}] AS bh
    FROM sigl, range({NUM_BANDS}) bb(b)
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b,
                    a.sig AS sa, b2.sig AS sb
    FROM bands a JOIN bands b2
      ON a.b = b2.b AND a.bh = b2.bh AND a.doc_id < b2.doc_id
),
est AS (
    SELECT doc_a, doc_b,
           ROUND(len(list_filter(range({NUM_HASHES}), i -> sa[i+1] = sb[i+1]))
                 / {NUM_HASHES}.0, 4) AS est_jaccard
    FROM cand
)
SELECT CAST(doc_a AS BIGINT) AS doc_a, CAST(doc_b AS BIGINT) AS doc_b,
       est_jaccard
FROM est WHERE est_jaccard >= 0.5
"""


def minhash_sig_bands(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The ONE MinHash signature + banding pipeline — shared by
    ``dedup_minhash_lsh`` (batch band self-join) and
    ``dedup_incremental`` (asymmetric new-vs-base probe), extracted so
    the two paths physically cannot drift (r12 review finding: the
    incremental operator originally carried its own copy of these
    expressions while claiming sharedness).

    Returns ``(sig, bands)``:

    - ``sig`` — (doc_id, sig[NUM_HASHES]) — PERSISTED, because every
      consumer joins band rows derived from it against each other and
      would otherwise re-run the whole shingle + 32-hash pipeline per
      side. The caller owns the release (``finish_with(result, sig)``).
    - ``bands`` — (doc_id, sig, band, bucket), one row per band, bucket
      = the raw ``_ROWS_PER_BAND``-long signature slice (array equality
      join key — nothing engine-specific leaks into the join).

    ``distinct=False`` shingles: min() is duplicate-insensitive, so
    MinHash skips the shingle-dedup shuffle Jaccard needs — one shuffle
    (the signature groupBy), with map-side partial min doing the rest.
    """
    sh = shingles(docs, distinct=False)
    # ONE parameterized spark.sql for the 32-min signature aggregate
    # (and one F.expr for the band explode) instead of ~250 Column
    # objects: same expressions, same exact int64 arithmetic, but one
    # py4j round trip — the Column form cost ~0.6 s of plan-build per
    # invocation at this host's 1-10 ms/round-trip (OPTIMIZATION_r16.md
    # §py4j).
    mins = ", ".join(
        f"min(({a} * hb + {b}) % {MINFAM_P})"
        for a, b in minfam_coeffs(NUM_HASHES)
    )
    sig = sh.sparkSession.sql(
        f"""SELECT doc_id, array({mins}) AS sig
            FROM (SELECT doc_id, shingle % {MINFAM_P} AS hb FROM {{sh}})
            GROUP BY doc_id""",
        sh=sh,
    ).persist()
    bands = sig.select(
        "doc_id",
        "sig",
        F.expr(
            f"explode(transform(sequence(0, {NUM_BANDS - 1}), "
            f"b -> struct(b AS band, "
            f"slice(sig, b * {_ROWS_PER_BAND} + 1, {_ROWS_PER_BAND}) "
            f"AS bucket)))"
        ).alias("bb"),
    ).select(
        "doc_id", "sig", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )
    return sig, bands


def minhash_est_jaccard(sig_a: str, sig_b: str) -> "F.Column":
    """Estimated Jaccard = fraction of agreeing signature positions,
    rounded to 4 (the oracle's ROUND twin) — shared by both consumers
    of :func:`minhash_sig_bands`."""
    agree = F.size(
        F.filter(F.zip_with(sig_a, sig_b, lambda x, y: x == y), lambda v: v)
    )
    return F.round(agree / F.lit(NUM_HASHES), 4)


@register(
    "dedup_minhash_lsh", oracle=_MINHASH_ORACLE, survey_ops="§7-dedup,LSH", tier=1
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures + banded LSH candidate pairs.

    minhash_j(doc) = min over shingles of the portable universal-hash
    family h_j(shingle) = (a_j * (phash(shingle) % P) + b_j) % P
    (llm/hashing.py) — ONE md5 per shingle plus 32 exact int64 affine
    maps, identical in Spark and DuckDB, which is what lets the oracle
    replay the whole pipeline instead of a rows-only check. Banding: signature split
    into NUM_BANDS bands of 4; docs sharing any band bucket become a
    candidate pair, with estimated Jaccard = fraction of agreeing
    signature positions. The band bucket join key is the raw 4-long
    signature slice (array equality) — no second-level hash needed, so
    nothing engine-specific leaks into the join. No pairwise work
    outside bucket groups — this is the 100 TB-scale near-dup path
    (the exact `dedup_ngram_jaccard` join verifies its quality in
    tests).
    """
    docs = load(spark, sf_dir, "documents")
    sig, bands = minhash_sig_bands(docs)

    a = bands.select(
        F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"), "band", "bucket"
    )
    b = bands.select(
        F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"), "band", "bucket"
    )
    pairs = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "sig_a", "sig_b")
        # dedupe on the pair key only: signatures are functionally
        # dependent on the ids, and hashing 16 bytes beats hashing the
        # two 32-long signature arrays carried alongside
        .dropDuplicates(["doc_a", "doc_b"])
    )
    result = pairs.select(
        "doc_a",
        "doc_b",
        minhash_est_jaccard("sig_a", "sig_b").alias("est_jaccard"),
    ).filter(F.col("est_jaccard") >= 0.5)
    return finish_with(result, sig)


INGEST_MOD = 10  # "new batch" = doc_id % INGEST_MOD == 0 (~10% of the
#                  corpus — a deterministic stand-in for today's crawl;
#                  a deployment passes its real ingest partition)

_INCREMENTAL_ORACLE = f"""
WITH {SHINGLE_CTES},
shb AS (
    SELECT doc_id, shingle % {MINFAM_P} AS hb FROM sh0
),
sig AS (
    SELECT doc_id,
           {_MIN_EXPRS}
    FROM shb GROUP BY doc_id
),
sigl AS (SELECT doc_id, {_SIG_LIST} AS sig FROM sig),
bands AS (
    SELECT doc_id, sig, b,
           sig[{_ROWS_PER_BAND}*b+1 : {_ROWS_PER_BAND}*b+{_ROWS_PER_BAND}] AS bh
    FROM sigl, range({NUM_BANDS}) bb(b)
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_id, b2.doc_id AS base_id,
                    a.sig AS sa, b2.sig AS sb
    FROM bands a JOIN bands b2
      ON a.b = b2.b AND a.bh = b2.bh
    WHERE a.doc_id % {INGEST_MOD} = 0 AND b2.doc_id % {INGEST_MOD} <> 0
),
est AS (
    SELECT doc_id, base_id,
           ROUND(len(list_filter(range({NUM_HASHES}), i -> sa[i+1] = sb[i+1]))
                 / {NUM_HASHES}.0, 4) AS est_jaccard
    FROM cand
),
near AS (
    SELECT doc_id, base_id, est_jaccard,
           ROW_NUMBER() OVER (PARTITION BY doc_id
                              ORDER BY est_jaccard DESC, base_id ASC) AS rk
    FROM est WHERE est_jaccard >= 0.5
),
base_fp AS (
    SELECT md5(text) AS fp, MIN(doc_id) AS base_id
    FROM documents WHERE doc_id % {INGEST_MOD} <> 0 GROUP BY md5(text)
),
newdocs AS (
    SELECT doc_id, md5(text) AS fp
    FROM documents WHERE doc_id % {INGEST_MOD} = 0
),
ex AS (
    SELECT n.doc_id, b.base_id FROM newdocs n JOIN base_fp b USING (fp)
)
SELECT CAST(n.doc_id AS BIGINT) AS doc_id,
       CASE WHEN ex.base_id IS NOT NULL THEN 'exact_dup'
            WHEN nr.base_id IS NOT NULL THEN 'near_dup'
            ELSE 'unique' END AS verdict,
       CAST(COALESCE(ex.base_id, nr.base_id) AS BIGINT) AS match_id,
       CASE WHEN ex.base_id IS NOT NULL THEN CAST(1.0 AS DOUBLE)
            ELSE nr.est_jaccard END AS est_jaccard
FROM newdocs n
LEFT JOIN ex ON ex.doc_id = n.doc_id
LEFT JOIN (SELECT doc_id, base_id, est_jaccard FROM near WHERE rk = 1) nr
       ON nr.doc_id = n.doc_id
"""


@register(
    "dedup_incremental",
    oracle=_INCREMENTAL_ORACLE,
    survey_ops="§7-dedup,LSH,J1,A5,F12",
    tier=0,
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest dedup: for every NEW document (the ingest
    batch), answer "is this already in the corpus?" against the BASE
    corpus — exact first (content fingerprint), then MinHash-banded
    near-dup, else unique. The production pattern for continuous
    crawling: the day's batch is deduped against the historical corpus
    WITHOUT re-pairing base-vs-base (the quadratic part that did not
    change since yesterday's run).

    Per new doc: ``verdict`` ∈ {exact_dup, near_dup, unique},
    ``match_id`` = the matched base doc (exact: smallest base id with
    the same fingerprint; near: highest est_jaccard, ties to the
    smallest base id), ``est_jaccard`` = 1.0 / the estimate / NULL.
    Exact wins over near (identical text always routes to exact even
    though it would also band-match). Within-batch duplicates are
    deliberately out of scope — the batch-level ops (dedup_exact,
    dedup_minhash_lsh) own that; this operator is the new-vs-corpus
    membership probe.

    Plan shape at scale: the candidate join is ASYMMETRIC — probe side
    is the new batch's band rows (|new| × NUM_BANDS), build side the
    base's. Candidate volume is Σ_bucket new_occupancy × base_occupancy
    — linear in the batch for a fixed corpus, never corpus². In this
    self-contained form both sides' signatures are computed per call
    (one shared scan, persisted — both the probe and build band sides
    consume it); a deployment persists the base signature and
    fingerprint relations as the corpus index and pays only the
    |new|-proportional shingle+probe cost per ingest. The best-match
    window partitions by new doc_id (high cardinality, no skew).
    Shares the signature pipeline (portable universal-hash MinHash,
    llm/hashing.py) and band layout with ``dedup_minhash_lsh``, so the
    incremental and batch paths cannot drift."""
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    is_new = F.col("doc_id") % INGEST_MOD == 0

    # exact tier: ONE fingerprint scan, persisted — three consumers
    # (the base groupBy, the probe side, the verdict spine) would
    # otherwise each re-scan and re-md5 the corpus (r12 review
    # finding: this was three scans)
    fps = docs.select(
        "doc_id", F.md5("text").alias("fp"), is_new.alias("is_new")
    ).persist()
    base_fp = (
        fps.filter(~F.col("is_new"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("ex_base_id"))
    )
    new_docs = fps.filter("is_new").select("doc_id", "fp")
    exact = new_docs.join(base_fp, "fp").select("doc_id", "ex_base_id")

    # near tier: one signature pass over the whole corpus (the SAME
    # pipeline dedup_minhash_lsh runs — shared helper), split into
    # probe (new) and build (base) band sides
    sig, bands = minhash_sig_bands(docs)
    probe = bands.filter(F.col("doc_id") % INGEST_MOD == 0).select(
        F.col("doc_id").alias("n_id"), F.col("sig").alias("sig_n"), "band", "bucket"
    )
    build = bands.filter(F.col("doc_id") % INGEST_MOD != 0).select(
        F.col("doc_id").alias("base_id"), F.col("sig").alias("sig_b"), "band", "bucket"
    )
    near = (
        probe.join(build, ["band", "bucket"])
        .select("n_id", "base_id", "sig_n", "sig_b")
        .dropDuplicates(["n_id", "base_id"])
        .select(
            "n_id",
            "base_id",
            minhash_est_jaccard("sig_n", "sig_b").alias("est_jaccard"),
        )
        .filter(F.col("est_jaccard") >= 0.5)
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("n_id").orderBy(
                    F.col("est_jaccard").desc(), F.col("base_id").asc()
                )
            ),
        )
        .filter(F.col("rk") == 1)
        .select("n_id", F.col("base_id").alias("nr_base_id"), "est_jaccard")
    )

    result = (
        new_docs.select("doc_id")
        .join(exact, "doc_id", "left")
        .join(near, F.col("doc_id") == F.col("n_id"), "left")
        .select(
            "doc_id",
            F.when(F.col("ex_base_id").isNotNull(), "exact_dup")
            .when(F.col("nr_base_id").isNotNull(), "near_dup")
            .otherwise("unique")
            .alias("verdict"),
            F.coalesce("ex_base_id", "nr_base_id").alias("match_id"),
            F.when(F.col("ex_base_id").isNotNull(), F.lit(1.0))
            .otherwise(F.col("est_jaccard"))
            .alias("est_jaccard"),
        )
    )
    return finish_with(result, sig, fps)


EMBED_COSINE_THRESHOLD = 0.35  # synthetic corpus: max pair cosine ~0.51; 0.35 yields ~271 pairs at sf0.01
# Quadratic-twin guard: the exact all-pairs form exists to pin oracle
# semantics on test-scale data. Refuse to run it past this corpus size —
# the scale path is dedup_embedding_lsh (same output contract).
EMBED_COSINE_MAX_ROWS = 1_000_000

_EMBED_ORACLE = f"""
SELECT CAST(a.vec_id AS BIGINT) AS doc_a,
       CAST(b.vec_id AS BIGINT) AS doc_b,
       ROUND(list_cosine_similarity(
           list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
           list_transform(b.embedding, x -> CAST(x AS DOUBLE))), 4) AS cos_sim
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(
          list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
          list_transform(b.embedding, x -> CAST(x AS DOUBLE))) >= {EMBED_COSINE_THRESHOLD}
"""


@register(
    "dedup_embedding_cosine", oracle=_EMBED_ORACLE, survey_ops="§7-dedup,§7-similarity", tier=0
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs: semantic duplicates = vector
    pairs with cosine >= threshold.

    Exact all-pairs form (cross join, a < b) — correct and
    oracle-checkable; the vector math is JVM-side array expressions.
    Norms are computed ONCE per vector before the join (a projection,
    not a recompute per pair). This exact form is quadratic by
    definition; at corpus scale the same threshold pairs come from the
    hyperplane-LSH bucket join (``ann_lsh_topk``'s candidate stage) +
    this exact cosine as the verify step — the standard
    candidate/verify split. Kept exact here so the oracle pins the
    semantics the approximate path must reproduce — and guarded by
    EMBED_COSINE_MAX_ROWS so the quadratic twin can never be pointed
    at a production corpus by accident (the error names the LSH twin).
    The guard count is a 1-column scan, negligible next to the join
    it protects against."""
    from stream_processing_test_spark.llm.similarity import _dot, load_vectors

    emb = load_vectors(spark, sf_dir)
    n = emb.select("vec_id").count()
    if n > EMBED_COSINE_MAX_ROWS:
        raise ValueError(
            f"dedup_embedding_cosine is the quadratic oracle twin "
            f"({n} rows > {EMBED_COSINE_MAX_ROWS}); use "
            f"dedup_embedding_lsh for corpus-scale near-dup detection"
        )
    normed = emb.select(
        "vec_id",
        "v",
        F.sqrt(F.aggregate("v", F.lit(0.0), lambda acc, x: acc + x * x)).alias("nrm"),
    )
    a = normed.select(
        F.col("vec_id").alias("doc_a"), F.col("v").alias("va"), F.col("nrm").alias("na")
    )
    b = normed.select(
        F.col("vec_id").alias("doc_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb")
    )
    cos = _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    # filter on the UNROUNDED cosine (matching the oracle's WHERE),
    # round only for output — rounding before filtering would admit
    # pairs the oracle rejects at the threshold boundary
    return (
        a.join(b, F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", cos.alias("raw_cos"))
        .filter(F.col("raw_cos") >= EMBED_COSINE_THRESHOLD)
        .select("doc_a", "doc_b", F.round("raw_cos", 4).alias("cos_sim"))
    )


def _embedding_lsh_oracle() -> str:
    from stream_processing_test_spark.llm.similarity import bucket_ctes

    return f"""
WITH {bucket_ctes(n_tables=None, n_planes=None)},
cand AS (
    SELECT DISTINCT a.vec_id AS doc_a, b.vec_id AS doc_b
    FROM buckets a JOIN buckets b
      ON a.table_id = b.table_id AND a.bucket = b.bucket AND a.vec_id < b.vec_id
),
verified AS (
    SELECT c.doc_a, c.doc_b, list_cosine_similarity(ea.v, eb.v) AS raw
    FROM cand c
    JOIN esig ea ON ea.vec_id = c.doc_a
    JOIN esig eb ON eb.vec_id = c.doc_b
)
SELECT CAST(doc_a AS BIGINT) AS doc_a, CAST(doc_b AS BIGINT) AS doc_b,
       ROUND(raw, 4) AS cos_sim
FROM verified WHERE raw >= {EMBED_COSINE_THRESHOLD}
"""


def embedding_lsh_pairs(
    emb: DataFrame,
    n_tables: int | None = None,
    n_planes: int | None = None,
    target_occupancy: int | None = None,
    threshold: float = EMBED_COSINE_THRESHOLD,
    per_node_top_k: int | None = None,
) -> DataFrame:
    """Candidate/verify embedding near-dup core over ``emb`` (vec_id,
    v: array<double>): hyperplane-LSH bucket self-join for candidates,
    exact JVM-side cosine verify, emitting (doc_a, doc_b, cos_sim)
    pairs with cosine >= ``threshold``.

    ``per_node_top_k`` switches the pipeline tail from the threshold
    filter to a symmetric per-node k-NN graph (``threshold`` is then
    unused): every verified pair is emitted in both directions and a
    per-``vec_id`` window keeps the ``per_node_top_k`` highest-cosine
    neighbors, ranked on the ROUNDED value with ``neighbor_id`` as
    tie-break (the engine-parity convention of ``ann_cosine_topk``).
    The symmetrization is a 2-element ``explode`` over the joined pair
    row — the verify join runs once, not once per direction — and the
    rank-limit sits BEFORE the eager checkpoint, so only the ≤ n·k
    graph rows materialize, never the unfiltered candidate set.

    ``n_planes=None`` sizes the planes from a corpus COUNT probe via
    ``similarity.auto_planes`` (optionally at an explicit
    ``target_occupancy``); ``n_tables=None`` then sizes the table count
    from the resolved plane count via ``similarity.auto_tables`` — the
    r9 hold-recall policy (recall >= RECALL_FLOOR at COS_DESIGN as
    planes rise). Both are the production default. Explicit values
    support the scale ladder (tools/scale_stress.py), which measures
    this exact pipeline at its own (tables, occupancy) point.

    ``emb.v`` may be ``array<float>`` (preferred) or ``array<double>``:
    every fold casts to double AT THE EXPRESSION, so the numbers are
    bit-identical either way (float→double widening is exact), but a
    float input HALVES the verify stage's shuffle payload — the
    candidate pairs carry a vector through one exchange each side, and
    at ladder scale (39 M candidates at 800 k vectors) that exchange
    is the pipeline's dominant bytes."""
    from stream_processing_test_spark.llm.similarity import (
        _dot,
        _norm,
        auto_planes,
        auto_tables,
        hyperplane_tables,
        rank_top_k,
    )

    if n_planes is None:
        kw = (
            {}
            if target_occupancy is None
            else {"target_occupancy": target_occupancy}
        )
        n_planes = auto_planes(emb.select("vec_id").count(), **kw)
    if n_tables is None:
        n_tables = auto_tables(n_planes)
    # signature stage folds against double plane weights: hand it the
    # widened view (tables never carry v, so this costs no shuffle)
    embd = emb.select("vec_id", F.col("v").cast("array<double>").alias("v"))
    # both sides of the bucket self-join consume the hashed table —
    # persist so the signature fold runs once. Buckets are bare
    # (vec_id, table_id, bucket) rows: the candidate explosion (a pair
    # colliding in k tables appears k times, and bucket groups are
    # quadratic in group size) travels as 16-byte id pairs, never
    # vector payloads.
    tables = hyperplane_tables(embd, n_tables=n_tables, n_planes=n_planes).persist()
    a = tables.select(F.col("vec_id").alias("doc_a"), "table_id", "bucket")
    b = tables.select(F.col("vec_id").alias("doc_b"), "table_id", "bucket")
    cand = (
        a.join(b, ["table_id", "bucket"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        # dedupe on the pair key before the (more expensive) verify
        .select("doc_a", "doc_b")
        .dropDuplicates(["doc_a", "doc_b"])
    )
    # exact-verify: two equi-joins pull the vectors back onto the
    # deduped pairs (same shape as the oracle's cand→esig joins).
    # Norms are precomputed ONCE per corpus vector and carried through
    # the join: on the moderate-similarity fixture the candidate set
    # is a large fraction of all pairs, so the verify stage dominates —
    # dot/(na*nb) does one 64-element fold per pair instead of
    # cosine()'s three. Float-identical to cosine() (same expression
    # subtrees, same evaluation order), so oracle hashes are unchanged.
    # the joined frames carry v in its SOURCE dtype (float stays
    # float through both exchanges); numeric work always happens on
    # the expression-level double widening below, so a float payload
    # changes bytes, never bits
    va = emb.select(
        F.col("vec_id").alias("doc_a"),
        F.col("v").alias("va"),
        _norm(F.col("v").cast("array<double>")).alias("na"),
    )
    vb = emb.select(
        F.col("vec_id").alias("doc_b"),
        F.col("v").alias("vb"),
        _norm(F.col("v").cast("array<double>")).alias("nb"),
    )
    wa = F.col("va").cast("array<double>")
    wb = F.col("vb").cast("array<double>")
    pairs = (
        cand.join(va, "doc_a")
        .join(vb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (_dot(wa, wb) / (F.col("na") * F.col("nb"))).alias(
                "raw_cos"
            ),
        )
    )
    if per_node_top_k is not None:
        rounded = F.round("raw_cos", 4).alias("cos_sim")
        # one row per (pair, direction) out of a single verify join —
        # explode, not a self-union, so the joins execute once
        sym = pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("doc_a").alias("vec_id"),
                        F.col("doc_b").alias("neighbor_id"),
                        rounded,
                    ),
                    F.struct(
                        F.col("doc_b").alias("vec_id"),
                        F.col("doc_a").alias("neighbor_id"),
                        rounded,
                    ),
                )
            ).alias("e")
        ).select("e.*")
        ranked = rank_top_k(sym, "vec_id", per_node_top_k)
        return finish_with(ranked, tables)
    result = pairs.filter(F.col("raw_cos") >= threshold).select(
        "doc_a", "doc_b", F.round("raw_cos", 4).alias("cos_sim")
    )
    return finish_with(result, tables)


@register(
    "dedup_embedding_lsh",
    oracle=_embedding_lsh_oracle(),
    survey_ops="§7-dedup,§7-similarity,LSH",
    tier=1,
)
def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup via candidate/verify — the 100 TB path for
    the semantics ``dedup_embedding_cosine`` pins exactly.

    Stage 1 (candidates): random-hyperplane LSH bucket join
    (``similarity.hyperplane_tables``) — a pair is a candidate iff it
    collides in ANY of the 16 tables, so pairwise work is confined to
    bucket groups instead of the n² cross join. Bucket-group work is
    Σ|bucket|² — bounded only if the bucket count grows with the
    corpus, so since r8 the plane count comes from a corpus COUNT
    probe through ``similarity.auto_planes`` (expected occupancy
    capped at LSH_TARGET_OCCUPANCY; the r7-flagged fixed-4-plane
    ~n²/16 default is retired), and since r9 the TABLE count rises
    with the plane count through ``similarity.auto_tables`` — the
    hold-recall policy (recall >= RECALL_FLOOR at COS_DESIGN; the
    priced dial VERDICT r8 asked to wire in). The DuckDB oracle
    recomputes both integer rules from its own COUNT(*)
    (``similarity.auto_planes_ctes`` / ``auto_tables_ctes``), so the
    driver gate replays whatever (planes, tables) the corpus implies —
    at fixture sizes (≤16 k vectors) that resolves to the same 16×4
    floor as before.
    Stage 2 (verify): exact JVM-side cosine on the candidates only,
    keeping pairs >= EMBED_COSINE_THRESHOLD.

    Every emitted pair therefore satisfies the exact predicate
    (precision 1.0 vs the quadratic twin by construction); recall is
    the LSH collision curve — 1-(1-(1-θ/π)^planes)^tables ≈ 0.91 at
    cos 0.35 with 16×4 — asserted as a pytest floor against the exact
    pairs. Output schema matches ``dedup_embedding_cosine``
    (doc_a, doc_b, cos_sim). Scale evidence: the vector ladder in
    BENCH_SCALE.json measures this pipeline (via
    :func:`embedding_lsh_pairs`) on self-generated corpora.

    The source column stays ``array<float>`` into the pipeline — the
    verify joins then shuffle half the vector bytes; every fold widens
    to double at the expression, so results are bit-identical to a
    pre-cast frame (and to the oracle, which widens the same floats)."""
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").alias("v")
    )
    return embedding_lsh_pairs(emb)


SIMHASH_BITS = 60  # phash width — see llm/hashing.py
SIMHASH_BLOCKS = 4
_BLOCK_BITS = SIMHASH_BITS // SIMHASH_BLOCKS  # 15
_BLOCK_MASK = (1 << _BLOCK_BITS) - 1
SIMHASH_MAX_HAMMING = 3

_SIMHASH_ORACLE = f"""
WITH tk AS (
    SELECT doc_id, {phash_sql('tok')} AS h
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents) t
    WHERE tok <> ''
),
votes AS (
    SELECT doc_id, k,
           SUM(CASE WHEN ((h >> k) & 1) = 1 THEN 1 ELSE -1 END) AS v
    FROM tk, range({SIMHASH_BITS}) kk(k)
    GROUP BY doc_id, k
),
fp AS (
    SELECT doc_id,
           SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << k) ELSE 0 END) AS simhash
    FROM votes GROUP BY doc_id
),
blocks AS (
    SELECT doc_id, simhash, i,
           (simhash >> ({_BLOCK_BITS} * i)) & {_BLOCK_MASK} AS block
    FROM fp, range({SIMHASH_BLOCKS}) ii(i)
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                    bit_count(xor(a.simhash, b.simhash)) AS hd
    FROM blocks a JOIN blocks b
      ON a.i = b.i AND a.block = b.block AND a.doc_id < b.doc_id
)
SELECT CAST(doc_a AS BIGINT) AS doc_a, CAST(doc_b AS BIGINT) AS doc_b,
       CAST(hd AS BIGINT) AS hamming
FROM cand WHERE hd <= {SIMHASH_MAX_HAMMING}
"""


@register(
    "dedup_simhash", oracle=_SIMHASH_ORACLE, survey_ops="§7-dedup,SimHash", tier=1
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash near-dup pairs (hamming distance <= 3).

    simhash = sign-aggregated bit vector of token hashes: bit k is 1
    iff Σ_tokens (bit k of phash(token) ? +1 : -1) > 0. The hash is
    the portable md5-derived 60-bit family (llm/hashing.py) — 60 bits
    instead of 64 keeps every value positive in a signed long in both
    engines (no two's-complement special-casing) and lets the DuckDB
    oracle replay the fingerprints exactly. Candidate generation:
    split the fingerprint into 4 15-bit blocks — by pigeonhole, any
    pair at distance <= 3 agrees on >= 1 block — join per block, then
    verify exact hamming distance. This is the classic Manku et al.
    (WWW'07) sharding, a bounded equi-join instead of an all-pairs
    scan.
    """
    # NOT parallelize_narrow_scan'd: simhash's per-token work (one md5
    # + bit tests, map-side-combined before the doc_id shuffle) is too
    # light to pay back the raw-text round-robin exchange — measured
    # 1.06x WORSE with it (BENCH_AB_r6_parallel.json), vs 0.65-0.80x
    # better for the gram-expansion family
    docs = load(spark, sf_dir, "documents")
    toks = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .filter(F.col("tok") != "")
    )

    # per (doc, bit): sum of +1/-1 votes, then pack bits driver-free.
    # One wide 60-counter aggregation (map-side combinable) beats a
    # 60x explode: the shuffle carries |docs| rows, not |docs|*60.
    # Assembled as ONE parameterized spark.sql statement rather than
    # ~400 Column objects: py4j round trips are 1-10 ms on this host,
    # and the Column form cost ~1.4 s of pure plan-build per invocation
    # (measured r16; the SQL form is ~0.14 s — identical aggregates,
    # identical results). The token hash is projected once; the 60 sums
    # read the projected ``h`` (runtime subexpression elimination made
    # the inline form equally cheap to EXECUTE, so this changes build
    # cost only).
    sums = ", ".join(
        f"sum(CASE WHEN (h & {1 << k}) != 0 THEN 1 ELSE -1 END) AS b{k}"
        for k in range(SIMHASH_BITS)
    )
    pack = " + ".join(
        f"(CASE WHEN b{k} > 0 THEN {1 << k}L ELSE 0L END)"
        for k in range(SIMHASH_BITS)
    )
    # |docs| rows — persisted: both sides of the per-block self-join
    # consume it (otherwise the 60-counter aggregation runs twice).
    simhash = spark.sql(
        f"""SELECT doc_id, CAST({pack} AS BIGINT) AS simhash
            FROM (SELECT doc_id, {sums}
                  FROM (SELECT doc_id, {phash_spark_sql('tok')} AS h
                        FROM {{toks}})
                  GROUP BY doc_id)""",
        toks=toks,
    ).persist()

    blocks = simhash.select(
        "doc_id",
        "simhash",
        F.expr(
            f"explode(transform(sequence(0, {SIMHASH_BLOCKS - 1}), "
            f"i -> struct(i AS block_id, "
            f"shiftrightunsigned(simhash, {_BLOCK_BITS} * i) & {_BLOCK_MASK} "
            f"AS block)))"
        ).alias("bb"),
    ).select("doc_id", "simhash", "bb.block_id", "bb.block")

    a = blocks.select(
        F.col("doc_id").alias("doc_a"), F.col("simhash").alias("h_a"), "block_id", "block"
    )
    b = blocks.select(
        F.col("doc_id").alias("doc_b"), F.col("simhash").alias("h_b"), "block_id", "block"
    )
    hamming = F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b"))).cast("long")
    result = (
        a.join(b, ["block_id", "block"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", hamming.alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= SIMHASH_MAX_HAMMING)
    )
    return finish_with(result, simhash)


# ---------------------------------------------------------------------------
# Train/eval decontamination — n-gram overlap across a split
# ---------------------------------------------------------------------------

CONTAM_N = 3  # contamination n-gram size (finer than dedup's 5-grams)
CONTAM_DF_MAX = 50  # same hot-key bound rationale as DF_MAX
EVAL_MOD = 97  # eval split = doc_id % EVAL_MOD == 0 (deterministic ~1%)

_CONTAM_GRAM = " || ' ' || ".join(f"w[i+{k}]" for k in range(1, CONTAM_N + 1))

_CONTAM_ORACLE = f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
sh0 AS (
    SELECT doc_id,
           unnest(list_transform(range(len(w) - {CONTAM_N - 1}),
                  i -> {phash_sql(_CONTAM_GRAM)})) AS shingle
    FROM toks WHERE len(w) >= {CONTAM_N}
),
sh AS (SELECT DISTINCT doc_id, shingle FROM sh0),
rare_shingles AS (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= {CONTAM_DF_MAX}),
rare AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN rare_shingles USING (shingle)),
ev AS (SELECT * FROM rare WHERE doc_id % {EVAL_MOD} = 0),
tr AS (SELECT * FROM rare WHERE doc_id % {EVAL_MOD} <> 0),
ov AS (
    SELECT tr.doc_id AS train_doc, ev.doc_id AS eval_doc, COUNT(*) AS shared
    FROM tr JOIN ev USING (shingle) GROUP BY 1, 2
)
SELECT CAST(train_doc AS BIGINT) AS doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_eval_docs,
       CAST(MAX(shared) AS BIGINT) AS max_shared
FROM ov GROUP BY train_doc
"""


@register(
    "decontaminate_overlap",
    oracle=_CONTAM_ORACLE,
    survey_ops="§7-dedup,J1,A1",
    tier=0,
)
def decontaminate_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-decontamination scan: train documents that share
    rare n-gram shingles with any document in the eval split.

    The eval split is a deterministic ~1% slice (doc_id % 97 == 0 —
    in a real pipeline it is the benchmark corpus loaded as its own
    table; the mechanics are identical). For each train doc that
    shares >=1 rare CONTAM_N-gram with an eval doc, emit how many
    eval docs it hits and the largest per-eval-doc overlap — the two
    numbers a removal policy thresholds on.

    Scale shape: the eval restriction comes FIRST, so the full corpus
    is never index-built at all. Only shingles that appear in the eval
    split can produce an overlap row, and the eval split is read with
    its own (tiny, ~1%) scan to derive the key set; the full-corpus
    pass is then a single shingle-explode map stage filtered through a
    broadcast semi-join on those keys — no corpus-wide shuffle, no
    corpus-wide distinct (the per-doc dedup happens on the eval-matched
    slice only). Every df value is unchanged by the restriction (the
    filter keeps every occurrence of a kept shingle), so the df cap,
    the cross-split join (bounded at Σdf·df_eval per shingle), and the
    result are identical to the unrestricted form the oracle computes.
    This retires the r7 ladder's worst scaler: the old plan's
    corpus-wide ``repartition + dropDuplicates`` index build (55 M rows
    at the 420 k-doc tier) measured 13.6× wall for 8.4× docs; the
    restricted plan's only full-corpus work is the explode+hash map
    pass. At 100 TB the eval side is a benchmark suite (tiny): the key
    set broadcasts, and the scan is one pass over the train corpus.

    Finer grams than dedup (3 vs 5) on purpose: contamination cares
    about shared phrases, not whole-document similarity; real
    pipelines use 8-13 grams on natural text, scaled down here for
    the synthetic vocabulary's shingle statistics.
    """
    docs = load(spark, sf_dir, "documents")
    is_eval = F.col("doc_id") % EVAL_MOD == 0
    # key set from a dedicated ~1% scan — the distinct here is over
    # the eval docs' shingles only, trivially small
    ev_keys = (
        shingles(docs.filter(is_eval), n=CONTAM_N, distinct=False)
        .select("shingle")
        .distinct()
    )
    # ONE full-corpus pass: the raw (non-distinct) shingle stream,
    # filtered through the broadcastable key set; per-doc dedup AFTER
    # the restriction, on the eval-matched slice only
    hit = (
        shingles(docs, n=CONTAM_N, distinct=False)
        .join(ev_keys, "shingle")
        .dropDuplicates(["doc_id", "shingle"])
        .persist()
    )
    rare_sh = (
        hit.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") <= CONTAM_DF_MAX)
        .select("shingle")
    )
    rare = hit.join(rare_sh, "shingle")
    ev = rare.filter(is_eval).select(
        F.col("doc_id").alias("eval_doc"), "shingle"
    )
    tr = rare.filter(~is_eval).select(
        F.col("doc_id").alias("train_doc"), "shingle"
    )
    ov = (
        tr.join(ev, "shingle")
        .groupBy("train_doc", "eval_doc")
        .agg(F.count("*").alias("shared"))
    )
    result = ov.groupBy("train_doc").agg(
        F.count("*").alias("n_eval_docs"),
        F.max("shared").alias("max_shared"),
    ).select(
        F.col("train_doc").alias("doc_id"), "n_eval_docs", "max_shared"
    )
    return finish_with(result, hit)


# ---------------------------------------------------------------------------
# Bloom-filter decontamination — bounded-memory membership at 100 TB
# ---------------------------------------------------------------------------

BLOOM_K = 4  # hash functions per key
BLOOM_BITS_PER_KEY = 16  # target bits/key -> FP rate (1-e^-0.25)^4 ~ 0.24%
BLOOM_MIN_EXP = 10  # filter never smaller than 2^10 bits
BLOOM_MAX_EXP = 28  # hard cap: 2^28 bits = 32 MiB of bitset (~8.4 M
#                     words as (bucket, mask) rows) — a broadcastable
#                     bound NO MATTER how large the eval suite grows.
#                     Past 16 M eval shingles the FP rate rises
#                     gracefully (both engines replay the same FPs, so
#                     correctness parity is unaffected); an eval suite
#                     that big should shard the filter instead.
BLOOM_FLAG_FRAC = 0.05  # flag a train doc when >= 5% of its shingles hit


def bloom_m_bits(n_keys: int) -> int:
    """Filter size: smallest power of two >= BITS_PER_KEY * n_keys,
    clamped to [2^MIN_EXP, 2^MAX_EXP]. Integer-exact (no float log2),
    mirroring :func:`llm.similarity.auto_planes`'s sizing idiom, so the
    oracle's SQL twin (a MIN over ``range(min_exp, max_exp+1)``) can
    never disagree at a power-of-two boundary."""
    e = BLOOM_MIN_EXP
    while e < BLOOM_MAX_EXP and (1 << e) < BLOOM_BITS_PER_KEY * n_keys:
        e += 1
    return 1 << e


from functools import lru_cache


@lru_cache(maxsize=1)
def _bloom_coeffs() -> tuple[tuple[int, int], ...]:
    """BLOOM_K members of the universal affine family
    ``h_j(x) = (a_j * (x % P) + b_j) % P`` over the Mersenne prime
    P = 2^31 - 1 — the same portable construction MinHash uses
    (hashing.minfam_coeffs), with its own ``bf:``-prefixed coefficient
    derivation so the two operators' hash families stay independent.

    Why affine, not md5: the Bloom key (``shingle``) is ALREADY a
    60-bit md5-derived hash, so re-digesting it BLOOM_K times per
    occurrence made md5 the probe stage's dominant cost (~4 digests ×
    ~130 occurrences/doc — at the 1.68 M-doc ladder rung that is
    ~900 M md5s in the map pass). Integer double-hashing
    (Kirsch-Mitzenmacher 2006 shows k affine combinations of two
    hashes preserve the Bloom FP bound; a full universal family per j
    is strictly stronger) costs two int64 ops per position, is exact
    and overflow-free in Spark, DuckDB, and Python alike
    (a_j, x%P < 2^31 → a*x+b < 2^62), and replays identically."""
    from stream_processing_test_spark.llm.hashing import MINFAM_P, phash_py

    return tuple(
        (
            phash_py(f"bf:a:{j}") % (MINFAM_P - 1) + 1,
            phash_py(f"bf:b:{j}") % MINFAM_P,
        )
        for j in range(BLOOM_K)
    )


def _bloom_pos(j: int, m_bits: int) -> "F.Column":
    """Bit position j of the current row's ``shingle`` hash key —
    pure int64 arithmetic (see :func:`_bloom_coeffs`)."""
    a, b = _bloom_coeffs()[j]
    return ((F.col("shingle") % MINFAM_P) * a + b) % MINFAM_P % m_bits


def _bloom_pos_sql(j: int) -> str:
    """DuckDB twin of :func:`_bloom_pos` (``m`` from the ``mm`` CTE)."""
    a, b = _bloom_coeffs()[j]
    return f"((((shingle % {MINFAM_P}) * {a} + {b}) % {MINFAM_P}) % m)"


_BLOOM_POS_LIST = ", ".join(_bloom_pos_sql(j) for j in range(BLOOM_K))

_BLOOM_ORACLE = f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
sh0 AS (
    SELECT doc_id,
           unnest(list_transform(range(len(w) - {CONTAM_N - 1}),
                  i -> {phash_sql(_CONTAM_GRAM)})) AS shingle
    FROM toks WHERE len(w) >= {CONTAM_N}
),
ev AS (SELECT DISTINCT shingle FROM sh0 WHERE doc_id % {EVAL_MOD} = 0),
nk AS (SELECT COUNT(*) AS n FROM ev),
mm AS (
    SELECT (SELECT MIN(CAST(1 AS BIGINT) << e)
            FROM range({BLOOM_MIN_EXP}, {BLOOM_MAX_EXP + 1}) t(e)
            WHERE (CAST(1 AS BIGINT) << e) >= {BLOOM_BITS_PER_KEY} * n
               OR e = {BLOOM_MAX_EXP}) AS m
    FROM nk
),
evpos AS (
    SELECT unnest([{_BLOOM_POS_LIST}]) AS pos FROM ev CROSS JOIN mm
),
bits AS (
    SELECT (pos >> 5) AS bucket,
           bit_or(CAST(1 AS BIGINT) << CAST((pos & 31) AS INT)) AS mask
    FROM evpos GROUP BY 1
),
trd AS (SELECT DISTINCT doc_id, shingle FROM sh0 WHERE doc_id % {EVAL_MOD} <> 0),
probe AS (
    SELECT doc_id, shingle, unnest([{_BLOOM_POS_LIST}]) AS pos
    FROM trd CROSS JOIN mm
),
hitsh AS (
    SELECT p.doc_id, p.shingle
    FROM probe p
    JOIN bits b ON (p.pos >> 5) = b.bucket
    WHERE ((b.mask >> CAST((p.pos & 31) AS INT)) & 1) = 1
    GROUP BY p.doc_id, p.shingle
    HAVING COUNT(*) = {BLOOM_K}
)
SELECT CAST(t.doc_id AS BIGINT) AS doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_shingles,
       CAST(COUNT(h.shingle) AS BIGINT) AS n_bloom_hits,
       ROUND(CAST(COUNT(h.shingle) AS DOUBLE) / COUNT(*), 4) AS hit_frac,
       CAST(CAST(COUNT(h.shingle) AS DOUBLE) / COUNT(*)
            >= {BLOOM_FLAG_FRAC} AS BOOLEAN) AS flagged
FROM (SELECT doc_id, shingle FROM sh0 WHERE doc_id % {EVAL_MOD} <> 0) t
LEFT JOIN hitsh h USING (doc_id, shingle)
GROUP BY t.doc_id
"""


@register(
    "decontaminate_bloom",
    oracle=_BLOOM_ORACLE,
    survey_ops="§7-dedup,J1,A1,A7",
    tier=0,
)
def decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter decontamination: the bounded-memory sibling of
    :func:`decontaminate_overlap`. The eval split's rare-phrase keys
    are folded into a Bloom bitset (BLOOM_K portable hash functions
    over 2^e bits, e sized by :func:`bloom_m_bits`); every train doc
    then reports what fraction of its CONTAM_N-gram shingle
    OCCURRENCES the filter claims to have seen, and docs over
    BLOOM_FLAG_FRAC are flagged for removal/inspection.
    Occurrence-weighted on purpose: a contaminated phrase repeated
    through a doc contributes its full mass, AND the raw
    (non-distinct) stream keeps the train-side plan shuffle-free —
    see the plan-shape paragraph.

    Why this exists next to the exact overlap scan: the overlap scan
    broadcasts the eval KEY SET, whose size grows with the eval suite
    (8 bytes+overhead per distinct shingle). The Bloom filter is the
    standard constant-memory answer — BLOOM_BITS_PER_KEY bits per key
    (16 here → ~0.24% false-positive rate), hard-capped at 2^28 bits
    = 32 MiB no matter how large the benchmark suite grows. False
    positives are inherent to the structure and *deterministic*: both
    engines derive positions from the same md5 family
    (``hashing.phash``), so the oracle replays the exact same filter,
    same collisions included — approximate structure, exact parity.

    Plan shape at scale: (1) a ~1% eval scan builds the (bucket, mask)
    bitset via bit_or — one tiny shuffle; (2) ONE pass over the train
    corpus's RAW (non-distinct) shingle stream probes all BLOOM_K
    positions through BLOOM_K *broadcast* hash joins on the word index
    — no corpus-wide distinct, no index build, no key-set-sized
    exchange anywhere (the first registered form deduped (doc,
    shingle) pairs first; that one corpus-wide shuffle measured 53.2 s
    at the 420 k-doc ladder rung vs decontaminate_overlap's 29.6 s,
    and removing it is what the occurrence-weighted semantics buy);
    (3) the only train-side exchange left: a doc_id rollup whose rows
    are already partially aggregated map-side. The filter build reads
    the eval slice twice (count to size m, then fold) — both reads are
    of the ~1% slice, mirroring decontaminate_overlap's eval-first
    discipline. Measured ladder (BENCH_NOTES §r9, min-of-2 walls at
    5 k/50 k/420 k/1.68 M docs): 2.05/4.87/25.47/110.96 s — docs-linear
    (5.2× for 8.4× docs, 4.4× for 4×) and at-or-under the exact
    overlap scan's walls at every rung; the first registered form
    (distinct + md5 probe) read 3.18/7.17/53.23/184.47 s before the
    raw-stream and affine-hash rewrites.

    Parity trap documented once: 32-bit words in BIGINT masks (not
    64) so every shift stays clear of the sign bit in BOTH engines —
    DuckDB raises on BIGINT shift overflow where Spark wraps, so the
    portable form is the one that never touches bit 63.
    """
    from functools import reduce
    from operator import and_

    docs = load(spark, sf_dir, "documents")
    is_eval = F.col("doc_id") % EVAL_MOD == 0
    ev_keys = (
        shingles(docs.filter(is_eval), n=CONTAM_N, distinct=False)
        .select("shingle")
        .distinct()
    )
    m_bits = bloom_m_bits(ev_keys.count())
    bits = (
        ev_keys.select(
            F.explode(
                F.array(*[_bloom_pos(j, m_bits) for j in range(BLOOM_K)])
            ).alias("pos")
        )
        .select(
            F.shiftright("pos", 5).alias("bucket"),
            F.col("pos").bitwiseAND(31).cast("int").alias("bit"),
        )
        .groupBy("bucket")
        .agg(
            F.bit_or(F.expr("shiftleft(CAST(1 AS BIGINT), bit)")).alias(
                "mask"
            )
        )
    )

    cur = shingles(docs.filter(~is_eval), n=CONTAM_N, distinct=False)
    hit_tests = []
    for j in range(BLOOM_K):
        pos = _bloom_pos(j, m_bits)
        cur = cur.withColumn(f"b{j}", F.shiftright(pos, 5)).withColumn(
            f"t{j}", pos.bitwiseAND(31).cast("int")
        )
        bj = bits.select(
            F.col("bucket").alias(f"b{j}"), F.col("mask").alias(f"m{j}")
        )
        cur = cur.join(F.broadcast(bj), f"b{j}", "left")
        hit_tests.append(
            F.coalesce(
                F.expr(f"(shiftright(m{j}, t{j}) & 1) = 1"), F.lit(False)
            )
        )
    in_bloom = reduce(and_, hit_tests)

    n_hits = F.sum(in_bloom.cast("int"))
    n_shingles = F.count("*")
    frac = n_hits.cast("double") / n_shingles
    return cur.groupBy("doc_id").agg(
        n_shingles.alias("n_shingles"),
        n_hits.alias("n_bloom_hits"),
        F.round(frac, 4).alias("hit_frac"),
        (frac >= BLOOM_FLAG_FRAC).alias("flagged"),
    )


def _embed_contam_oracle() -> str:
    from stream_processing_test_spark.llm.similarity import bucket_ctes

    return f"""
WITH {bucket_ctes(n_tables=None, n_planes=None)},
cand AS (
    SELECT DISTINCT t.vec_id AS train_id, e.vec_id AS eval_id
    FROM buckets t JOIN buckets e
      ON t.table_id = e.table_id AND t.bucket = e.bucket
   WHERE t.vec_id % {EVAL_MOD} <> 0 AND e.vec_id % {EVAL_MOD} = 0
),
verified AS (
    SELECT c.train_id, list_cosine_similarity(a.v, b.v) AS raw
    FROM cand c
    JOIN esig a ON a.vec_id = c.train_id
    JOIN esig b ON b.vec_id = c.eval_id
)
SELECT CAST(train_id AS BIGINT) AS vec_id,
       CAST(COUNT(*) AS BIGINT) AS n_eval_hits,
       ROUND(MAX(raw), 4) AS max_cos
FROM verified WHERE raw >= {EMBED_COSINE_THRESHOLD}
GROUP BY train_id
"""


@register(
    "decontaminate_embedding",
    oracle=_embed_contam_oracle(),
    survey_ops="§7-dedup,§7-similarity,LSH",
    tier=0,  # new in r13
)
def decontaminate_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EMBEDDING-SPACE benchmark decontamination — the third tier of
    the family: ``decontaminate_overlap`` catches shared rare n-grams,
    ``decontaminate_bloom`` the same keys probabilistically at
    broadcast cost, and this op catches what neither can — PARAPHRASED
    eval items, contaminated in meaning but rewritten in surface form,
    visible only in embedding space.

    Same eval split rule as the n-gram tiers (``vec_id % EVAL_MOD ==
    0``, ~1%; in a real pipeline the benchmark embeddings are their
    own table — mechanics identical) and the asymmetric probe shape of
    ``dedup_incremental``: candidates are train-bucket × EVAL-bucket
    collisions only (never train × train), so candidate volume is
    linear in the eval slice's bucket occupancy, not corpus². One
    hyperplane signature pass over the full table (persisted, consumed
    by both splits), bucket equi-join across the splits, exact cosine
    verify on the candidates, then a per-train-doc rollup:
    (vec_id, n_eval_hits, max_cos) — the two numbers a removal policy
    thresholds on, mirroring ``decontaminate_overlap``'s output
    contract.

    Policies: planes/tables from the corpus COUNT through
    ``auto_planes``/``auto_tables`` (the FULL table count, so the
    oracle's existing ``COUNT(*) FROM embeddings`` replay is exact);
    threshold = EMBED_COSINE_THRESHOLD, the family's near-dup
    predicate. Recall is the LSH collision curve the hold-recall
    policy prices — identical machinery to ``dedup_embedding_lsh``,
    whose pytest recall floor covers this op's candidate stage.

    100 TB shape: in deployment the eval side is a benchmark suite —
    thousands of rows against billions — so the cross-split bucket
    join broadcasts the eval buckets and the corpus pays one signature
    map pass + one exact verify per candidate; nothing corpus-scale
    shuffles except the signature rows themselves (bare (vec_id,
    table, bucket) triples, never vectors — vectors fan back by id for
    the verify only). Since r14 (VERDICT r13 item 5) the eval-side
    broadcasts are EXPLICIT, size-gated hints — estimated from the
    count probe already paid (eval rows ≈ n / EVAL_MOD), same idiom as
    ``cluster.with_keep_verdict`` — not left to AQE's runtime
    conversion: the bucket relation (~n_tables rows/eval id) and the
    verify-stage eval vectors (~8·dim B/eval id) each get the hint
    only while their estimate fits the session broadcast budget, so a
    skewed 100× histogram can't silently turn the claimed plan into a
    corpus-scale shuffle-and-hope.
    """
    from stream_processing_test_spark.session import finish_with

    result, tables = _decontaminate_embedding_frames(spark, sf_dir)
    return finish_with(result, tables)


def _decontaminate_embedding_frames(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """The LAZY (result, persisted-buckets) pair behind
    :func:`decontaminate_embedding` — split out so the layout tests
    can assert the size-gated eval-side broadcasts on the
    pre-checkpoint plan (finish_with's localCheckpoint makes the
    registered query's plan opaque to explain())."""
    from stream_processing_test_spark.llm.cluster import (
        _auto_broadcast_threshold_bytes,
    )
    from stream_processing_test_spark.llm.similarity import (
        _dot,
        _norm,
        auto_planes,
        auto_tables,
        hyperplane_tables,
    )

    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").alias("v")
    )
    n_rows = emb.select("vec_id").count()
    n_planes = auto_planes(n_rows)
    n_tables = auto_tables(n_planes)
    embd = emb.select("vec_id", F.col("v").cast("array<double>").alias("v"))
    tables = hyperplane_tables(
        embd, n_tables=n_tables, n_planes=n_planes
    ).persist()
    is_eval = F.col("vec_id") % EVAL_MOD == 0
    tr = tables.filter(~is_eval).select(
        F.col("vec_id").alias("train_id"), "table_id", "bucket"
    )
    ev = tables.filter(is_eval).select(
        F.col("vec_id").alias("eval_id"), "table_id", "bucket"
    )
    # size-gated EXPLICIT eval-side broadcasts (see docstring), gated
    # on the ACTUAL eval-side count, not ``n_rows // EVAL_MOD`` —
    # that estimate assumes ids uniform mod 97, and a distribution
    # skewed toward multiples of EVAL_MOD would underestimate the
    # eval side and force-broadcast an oversized relation, the exact
    # silent blowup the gate exists to prevent (ADVICE r14). The
    # count materializes the persisted ``tables`` relation, which
    # every downstream stage reuses — so the job is prepaid, not
    # extra. 32 B/bucket triple, dim doubles + id + overhead per
    # vector row — deliberately generous so the gate trips BEFORE
    # the session budget would.
    from stream_processing_test_spark.llm.similarity import EMBED_DIM

    thr = _auto_broadcast_threshold_bytes(spark)
    ev_rows = ev.count()  # one row per (eval vec, table)
    n_eval = ev_rows // max(n_tables, 1)
    ev_bucket_bytes = ev_rows * 32
    ev_vec_bytes = n_eval * (EMBED_DIM * 8 + 32)
    if thr > 0 and ev_bucket_bytes <= thr:
        ev = F.broadcast(ev)
    cand = (
        tr.join(ev, ["table_id", "bucket"])
        .select("train_id", "eval_id")
        .distinct()
    )
    va = emb.select(
        F.col("vec_id").alias("train_id"),
        F.col("v").alias("va"),
        _norm(F.col("v").cast("array<double>")).alias("na"),
    )
    vb = emb.select(
        F.col("vec_id").alias("eval_id"),
        F.col("v").alias("vb"),
        _norm(F.col("v").cast("array<double>")).alias("nb"),
    ).filter(F.col("eval_id") % EVAL_MOD == 0)
    if thr > 0 and ev_vec_bytes <= thr:
        vb = F.broadcast(vb)
    wa = F.col("va").cast("array<double>")
    wb = F.col("vb").cast("array<double>")
    result = (
        cand.join(va, "train_id")
        .join(vb, "eval_id")
        .select(
            "train_id",
            (_dot(wa, wb) / (F.col("na") * F.col("nb"))).alias("raw"),
        )
        .filter(F.col("raw") >= EMBED_COSINE_THRESHOLD)
        .groupBy("train_id")
        .agg(
            F.count("*").alias("n_eval_hits"),
            F.round(F.max("raw"), 4).alias("max_cos"),
        )
        .select(F.col("train_id").alias("vec_id"), "n_eval_hits", "max_cos")
    )
    return result, tables
