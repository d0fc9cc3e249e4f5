"""Embedding-column analytics: per-label centroids and norm statistics.

ANN/clustering pipelines need corpus-level vector statistics — class
centroids (the IVF coarse quantizer llm/similarity.py routes through
is exactly a centroid table) and norm distributions (catching
un-normalized or degenerate vectors before they poison a cosine
index).

Both operators reshape ``array<float>`` columns into (row, dim, value)
via ``posexplode`` and aggregate with built-ins — the dimension-major
layout partial-aggregates map-side and shuffles only (label, dim)
groups, never raw vectors, so the shuffle is |labels| * dims rows
regardless of corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stream_processing_test_spark.llm.params import (
    TOP_K,
    VECTORS_SQL,
    query_cte,
    ranked_cte,
    topk_select,
)
from stream_processing_test_spark.registry import register
from stream_processing_test_spark.tables import load

_CENTROID_ORACLE = """
WITH flat AS (
    SELECT label,
           generate_subscripts(embedding, 1) - 1 AS dim,
           unnest(embedding) AS x
    FROM embeddings
)
SELECT CAST(label AS INT) AS label,
       CAST(dim AS INT) AS dim,
       ROUND(AVG(CAST(x AS DOUBLE)), 4) AS centroid
FROM flat GROUP BY label, dim
"""


@register(
    "embedding_centroids", oracle=_CENTROID_ORACLE, survey_ops="§7-similarity,A8", tier=0
)
def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label mean vector, one row per (label, dim). The output IS
    an IVF coarse-quantizer codebook (labels as lists); emitting
    dimension-major rows keeps it oracle-comparable and
    partial-aggregatable."""
    emb = load(spark, sf_dir, "embeddings")
    return (
        emb.select(
            "label",
            F.posexplode(F.col("embedding").cast("array<double>")).alias(
                "dim", "x"
            ),
        )
        .groupBy("label", "dim")
        .agg(F.round(F.avg("x"), 4).alias("centroid"))
        .select(F.col("label").cast("int"), F.col("dim").cast("int"), "centroid")
    )


_NORM_ORACLE = """
WITH norms AS (
    SELECT label,
           sqrt(list_sum(list_transform(embedding,
                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
    FROM embeddings
)
SELECT CAST(label AS INT) AS label,
       CAST(COUNT(*) AS BIGINT) AS n_vectors,
       ROUND(AVG(nrm), 4) AS avg_norm,
       ROUND(MIN(nrm), 4) AS min_norm,
       ROUND(MAX(nrm), 4) AS max_norm
FROM norms GROUP BY label
"""


@register(
    "embedding_norm_stats", oracle=_NORM_ORACLE, survey_ops="§7-similarity,A8", tier=0
)
def embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2-norm distribution per label: count, avg, min, max. The norm
    is one ``aggregate`` fold per row (JVM-side lambda, no Python);
    the groupBy on label is a 5-group shuffle of pre-aggregated
    partials."""
    emb = load(spark, sf_dir, "embeddings").select(
        "label", F.col("embedding").cast("array<double>").alias("v")
    )
    nrm = F.sqrt(
        F.aggregate("v", F.lit(0.0), lambda acc, x: acc + x * x)
    )
    return (
        emb.select("label", nrm.alias("nrm"))
        .groupBy("label")
        .agg(
            F.count("*").alias("n_vectors"),
            F.round(F.avg("nrm"), 4).alias("avg_norm"),
            F.round(F.min("nrm"), 4).alias("min_norm"),
            F.round(F.max("nrm"), 4).alias("max_norm"),
        )
        .select(
            F.col("label").cast("int"),
            "n_vectors",
            "avg_norm",
            "min_norm",
            "max_norm",
        )
    )



# --- shared int8 quantization core -----------------------------------------
# ONE definition of the symmetric-int8 rule, used by BOTH registered
# int8 ops (embedding_quantize_int8's error accounting and
# ann_cosine_topk_int8's dequantized search) on BOTH engines: a change
# to the quantization rule (clamping, zero-point, ...) lands here and
# in _SCALE_CTES/_DEQ_ELEM_SQL or nowhere.

# DuckDB: esig + per-vector scale CTEs, and the per-element
# dequantized value (inside a list_transform over v, with `scale` in
# scope from the s CTE)
_SCALE_CTES = f"""esig AS (
    {VECTORS_SQL}
),
s AS (
    SELECT vec_id, v,
           list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
    FROM esig
)"""
_DEQ_ELEM_SQL = "CAST(ROUND(x / scale) AS INT) * scale"


def _with_scale(emb: DataFrame) -> DataFrame:
    """(vec_id, v, scale): scale = max|x| / 127 (symmetric, no
    zero-point), one JVM fold per row."""
    maxabs = F.aggregate(
        "v", F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x))
    )
    return emb.withColumn("scale", maxabs / F.lit(127.0))


def _deq_elem(x):
    """Dequantized element q_i * scale where q_i = HALF-UP
    round(x/scale) as an int8-range int — the Spark twin of
    ``_DEQ_ELEM_SQL``."""
    return (
        F.round(x / F.col("scale")).cast("int").cast("double")
        * F.col("scale")
    )


def _guard_zero(arr):
    """Zero vectors take scale 0: guard any per-element transform with
    the all-zeros branch (both engines carry the same CASE)."""
    return F.when(
        F.col("scale") == 0, F.transform("v", lambda x: F.lit(0.0))
    ).otherwise(arr)


_QUANTIZE_ORACLE = f"""
WITH {_SCALE_CTES},
qe AS (
    SELECT vec_id, v, scale,
           CASE WHEN scale = 0 THEN list_transform(v, x -> 0.0)
                ELSE list_transform(v, x -> x - ({_DEQ_ELEM_SQL}))
           END AS err
    FROM s
)
SELECT CAST(vec_id AS BIGINT) AS vec_id,
       ROUND(scale, 6) AS scale_q,
       ROUND(list_max(list_transform(err, x -> abs(x))), 6) AS max_abs_err,
       ROUND(list_sum(list_transform(err, x -> x * x)) / len(v), 6) AS mse
FROM qe
"""


@register(
    "embedding_quantize_int8",
    oracle=_QUANTIZE_ORACLE,
    survey_ops="§7-similarity,⊘quantize",
    tier=0,
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector symmetric int8 quantization with reconstruction-error
    accounting — the storage op a 100 TB embedding lake runs before
    anything else (float32→int8 is a 4× footprint cut; the question a
    pipeline owner needs answered per corpus is what it costs in
    reconstruction error, per vector, before pointing an ANN index at
    the quantized column).

    scale = max|x| / 127 (symmetric, no zero-point); q_i =
    round(x_i / scale) as int8-range ints; the emitted metrics are the
    reconstruction residual x_i - q_i*scale: max_abs_err (bounded by
    scale/2 + ulp by construction — pytest pins this) and per-vector
    MSE. Everything is JVM-side array folds (aggregate/transform/
    zip_with — no Python, no shuffle beyond the scan); the per-element
    ops (abs-max, divide, HALF-UP round, int cast, fused back) are
    exact IEEE in both engines and the error folds accumulate
    left-to-right like every fold in this package, so the DuckDB
    oracle replays bit-for-bit. Zero vectors take scale 0 with zero
    error (guarded CASE in both engines)."""
    from stream_processing_test_spark.llm.similarity import load_vectors

    df = _with_scale(load_vectors(spark, sf_dir))
    err = _guard_zero(F.transform("v", lambda x: x - _deq_elem(x)))
    df = df.withColumn("err", err)
    max_abs_err = F.aggregate(
        "err", F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x))
    )
    mse = F.aggregate("err", F.lit(0.0), lambda acc, x: acc + x * x) / F.size(
        "v"
    )
    return df.select(
        "vec_id",
        F.round("scale", 6).alias("scale_q"),
        F.round(max_abs_err, 6).alias("max_abs_err"),
        F.round(mse, 6).alias("mse"),
    )


_INT8_TOPK_ORACLE = f"""
WITH {_SCALE_CTES},
deq AS (
    SELECT vec_id,
           CASE WHEN scale = 0 THEN list_transform(v, x -> 0.0)
                ELSE list_transform(v, x -> {_DEQ_ELEM_SQL})
           END AS v
    FROM s
),
{query_cte("deq")},
sims AS (
    SELECT q.query_id, e.vec_id AS neighbor_id,
           ROUND(list_cosine_similarity(q.qv, e.v), 4) AS cos_sim
    FROM q, deq e
    WHERE e.vec_id <> q.query_id
),
{ranked_cte("ranked", "sims", "query_id")}
{topk_select("ranked", "query_id", TOP_K)}
"""


@register(
    "ann_cosine_topk_int8",
    oracle=_INT8_TOPK_ORACLE,
    survey_ops="§7-similarity,⊘quantize",
    tier=0,
)
def ann_cosine_topk_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k over the INT8-QUANTIZED corpus — the
    search path a 4x-compressed embedding lake actually serves, closing
    the loop on ``embedding_quantize_int8``: quantize is not just a
    metrics query, it is a storage stage the ANN path runs on top of.
    Same output contract as ``ann_cosine_topk``; pytest measures
    recall@k of the quantized search against the fp32 exact result (the
    number a pipeline owner trades the 4x footprint against).

    Dequantization q_i*scale happens at the expression (transform —
    JVM-side, exact IEEE); the search itself is ``ann_cosine_topk``'s
    search code (:func:`similarity.brute_topk`) run over the
    dequantized frame instead of the fp32 one. In a real lake the
    int8 column is what's stored and this transform is the scan-time
    decode. The DuckDB oracle replays quantize→dequantize→rank
    bit-for-bit."""
    from stream_processing_test_spark.llm.similarity import (
        brute_topk,
        load_vectors,
    )

    deq = _with_scale(load_vectors(spark, sf_dir)).select(
        "vec_id",
        _guard_zero(F.transform("v", _deq_elem)).alias("v"),
    )
    return brute_topk(deq)


SAMPLE_TARGET = 256  # diverse-sample size target; per-cluster quota =
#                      ceil(SAMPLE_TARGET / auto_lists(n))


def _diverse_oracle() -> str:
    """DuckDB oracle for the cluster-stratified diverse sample: the
    dynamic-list IVF Lloyd chain (the exact quantizer
    ``kmeans_lists`` trains — seeds, passes, reseeds, final
    assignment all replayed), a ``quota`` CTE recomputing the integer
    per-cluster quota from the oracle's own counts, and a per-list
    representativeness rank over round-6 cosine — the same rounding
    bridge every IVF oracle uses."""
    from stream_processing_test_spark.llm.similarity import (
        _ivf_lloyd_ctes,
        _train_shift_ctes,
        auto_lists_ctes,
    )

    lloyd, cents = _ivf_lloyd_ctes(n_lists=None)
    return f"""
WITH esig AS (
    {VECTORS_SQL}
),
{_train_shift_ctes()},
{auto_lists_ctes()},
quota AS (
    SELECT ({SAMPLE_TARGET} + lists - 1) // lists AS q FROM nl
),
{lloyd},
scored AS (
    SELECT a.vec_id, a.list_id,
           ROUND(list_cosine_similarity(a.v, c.centroid), 6) AS rep
    FROM assign_final a JOIN {cents} c USING (list_id)
),
ranked AS (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY list_id ORDER BY rep DESC, vec_id ASC) AS rk
    FROM scored
)
SELECT CAST(vec_id AS BIGINT) AS vec_id,
       CAST(list_id AS INT) AS list_id,
       rep,
       CAST(rk AS BIGINT) AS rk
FROM ranked WHERE rk <= (SELECT q FROM quota)
"""


@register(
    "embedding_diverse_sample",
    oracle=_diverse_oracle(),
    survey_ops="§7-sampling,§7-similarity,IVF",
    tier=0,  # new in r14
)
def embedding_diverse_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-stratified DIVERSE subset selection — the curation op
    that picks a small, spread-out sample of a corpus by embedding
    geometry (diverse SFT/eval subsets, k-center-style seed pools):
    the deterministic IVF quantizer partitions the corpus into
    ~sqrt(n) clusters (``auto_lists``), and each cluster contributes
    its ``ceil(SAMPLE_TARGET / lists)`` most REPRESENTATIVE members
    (round-6 cosine to the cluster centroid DESC, vec_id ASC) — so
    the sample covers every region of the space instead of
    oversampling the dense core, and its size is ~SAMPLE_TARGET
    regardless of corpus size.

    Contrast with the family's other samplers: ``stratified_sample``
    and ``class_balanced_sample`` stratify on LABELS; this stratifies
    on LEARNED geometry, which needs no labels and is the shape
    diversity-aware data curation actually uses (cluster-then-pick,
    cf. the cluster-routed step of SemDeDup-style pipelines —
    evaluated for dedup in REGISTRY §parameter-policies, where
    CANDIDATE GENERATION made it lose; here there is no pair
    generation, so the cluster route is the right tool).

    Scale shape: training is the capped hash-sample collect
    (``kmeans_lists``); ONE corpus assignment scan (the Arrow
    kernel); the representativeness score is a map-side broadcast
    join against the k-row centroid relation; the per-cluster rank
    partitions by list_id (~sqrt(n) groups, WindowGroupLimit prunes
    to the quota before the exchange). Nothing corpus-scale shuffles
    except the bare (vec_id, list_id, rep) rows. The whole chain —
    quantizer included — replays in the DuckDB oracle
    (:func:`_diverse_oracle`), so the driver gate checks the sampler
    end-to-end at any corpus size."""
    from pyspark.sql import Window

    from stream_processing_test_spark.llm.similarity import (
        auto_lists,
        cosine,
        kmeans_lists,
        load_vectors,
    )

    emb = load_vectors(spark, sf_dir)
    n = emb.select("vec_id").count()
    lists = auto_lists(n)
    quota = (SAMPLE_TARGET + lists - 1) // lists
    assign, centroids = kmeans_lists(emb, k=lists, n_rows=n)
    scored = assign.join(F.broadcast(centroids), "list_id").select(
        "vec_id",
        "list_id",
        F.round(cosine(F.col("v"), F.col("centroid")), 6).alias("rep"),
    )
    w = Window.partitionBy("list_id").orderBy(
        F.col("rep").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= quota)
        .select("vec_id", "list_id", "rep", "rk")
    )


# --------------------------------------------------------------------
# Top principal component (r15): deterministic power iteration on the
# bounded training sample, corpus projected against the learned
# direction — the whitening/outlier primitive of embedding curation
# (dominant-direction removal per Mu & Viswanath 2018 "All-but-the-
# Top"; projection extremes are the classic embedding-outlier audit).

PCA_ITERS = 4  # power-iteration steps — a PARITY count, not a
# convergence claim: both engines run exactly these steps with
# identical rounding, so the emitted direction is bit-agreed even
# where the eigengap would want more steps for convergence
PCA_TOPN = 100  # projection extremes emitted


def _pca_power_numpy(
    id_vecs: list[tuple[int, list[float]]],
) -> tuple[list[float], float] | None:
    """Driver-local power iteration over the hash-capped sample.
    Returns ``(loadings[EMBED_DIM], cmu)`` — the sign-fixed top
    direction and the round-6 centering constant ``sum(mu * v)`` —
    or None when degenerate (empty/constant sample: a zero norm at
    any step).

    Determinism contract (the ``_pq_lloyd_numpy`` convention,
    transposed): every cross-row reduction rounds HALF-UP to 6
    decimals at the same points the DuckDB oracle does —
    per-dimension sample means; per-row dots against the current
    direction; the per-dimension MEAN (not sum — keeps magnitudes
    O(10), so round-6 absorbs the engines' addition-order noise) of
    value x dot; the squared norm, its sqrt, and the normalized
    direction. v0 = 0.125 in every dimension (exact in binary).
    Sign fix: the largest-|loading| dimension (ties to the smaller
    d — numpy argmax's first-max == ORDER BY ABS DESC, d ASC)
    points positive, so the direction is unique, not
    eigenvector-up-to-sign."""
    import numpy as np

    from stream_processing_test_spark.llm.hashing import round6_np as round6
    from stream_processing_test_spark.llm.similarity import EMBED_DIM

    if not id_vecs:
        return None
    x = np.array([v for _, v in id_vecs], dtype=np.float64)
    mu = round6(x.mean(axis=0))
    c = x - mu
    v = np.full(EMBED_DIM, 0.125)
    for _ in range(PCA_ITERS):
        dot = round6(c @ v)
        w = round6((c * dot[:, None]).mean(axis=0))
        nrm = round6(float(np.sqrt(round6(float(np.sum(w * w))))))
        if nrm == 0.0:
            return None
        v = round6(w / nrm)
    if v[int(np.argmax(np.abs(v)))] < 0:
        v = -v
    cmu = round6(float(np.sum(mu * v)))
    return [float(t) for t in v], float(cmu)


def _pca_oracle() -> str:
    """DuckDB oracle replaying the WHOLE chain — hash-capped sample,
    per-dim centering, PCA_ITERS unrolled power-iteration steps with
    the identical round-6 points, sign fix, centering constant,
    corpus-wide projection, top-PCA_TOPN extremes. The iteration
    CTEs are the Lloyd-unroll pattern (``_ivf_lloyd_ctes``) for a
    different fixpoint map. A degenerate direction (zero norm at any
    step) propagates as NULL into the final guard, matching the
    Spark side's empty result."""
    from stream_processing_test_spark.llm.similarity import (
        EMBED_DIM,
        _train_shift_ctes,
    )

    d = EMBED_DIM
    steps = []
    prev = "v0"
    for t in range(1, PCA_ITERS + 1):
        steps.append(f"""dots{t} AS MATERIALIZED (
    SELECT c.vec_id, ROUND(SUM(c.val * p.vd), 6) AS dot
    FROM cent c JOIN {prev} p USING (d) GROUP BY c.vec_id
),
w{t} AS MATERIALIZED (
    SELECT c.d, ROUND(AVG(c.val * s.dot), 6) AS w
    FROM cent c JOIN dots{t} s USING (vec_id) GROUP BY c.d
),
n{t} AS (
    SELECT ROUND(SQRT((SELECT ROUND(SUM(w * w), 6) FROM w{t})), 6) AS nrm
),
v{t} AS (SELECT d, ROUND(w / nrm, 6) AS vd FROM w{t}, n{t})""")
        prev = f"v{t}"
    pieces = ",\n".join(steps)
    return f"""
WITH esig AS (
    {VECTORS_SQL}
),
{_train_shift_ctes()},
tflat AS (
    SELECT vec_id, d, v[d + 1] AS x FROM train, range({d}) dd(d)
),
mu AS (SELECT d, ROUND(AVG(x), 6) AS m FROM tflat GROUP BY d),
cent AS MATERIALIZED (
    SELECT t.vec_id, t.d, t.x - mu.m AS val FROM tflat t JOIN mu USING (d)
),
v0 AS (SELECT d, 0.125 AS vd FROM range({d}) dd(d)),
{pieces},
sgn AS (
    SELECT CASE WHEN (SELECT vd FROM {prev}
                      ORDER BY ABS(vd) DESC, d ASC LIMIT 1) < 0
           THEN -1.0 ELSE 1.0 END AS s
),
vf AS (SELECT d, vd * s AS vd FROM {prev}, sgn),
cmu AS (SELECT ROUND(SUM(m.m * f.vd), 6) AS cm FROM mu m JOIN vf f USING (d)),
cflat AS (
    SELECT vec_id, d, v[d + 1] AS x FROM esig, range({d}) dd(d)
),
proj AS (
    SELECT c.vec_id,
           ROUND(SUM(c.x * f.vd) - (SELECT cm FROM cmu), 4) AS proj
    FROM cflat c JOIN vf f USING (d) GROUP BY c.vec_id
),
ranked AS (
    SELECT vec_id, proj, ROW_NUMBER() OVER (
        ORDER BY ABS(proj) DESC, vec_id ASC) AS rk
    FROM proj
)
SELECT CAST(vec_id AS BIGINT) AS vec_id, proj, CAST(rk AS BIGINT) AS rk
FROM ranked
WHERE rk <= {PCA_TOPN}
  AND COALESCE((SELECT nrm FROM n{PCA_ITERS}), 0) > 0
"""


@register(
    "embedding_top_component",
    oracle=_pca_oracle(),
    survey_ops="§7-similarity,A8,W1",
    tier=0,  # new in r15
)
def embedding_top_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding corpus by
    deterministic power iteration, projected corpus-wide: the top
    PCA_TOPN |projection| extremes (vec_id, proj, rk). The direction
    is the dominant-variance axis curation pipelines remove
    (all-but-the-top whitening) or audit (projection extremes are
    outlier candidates: mislabeled, duplicated, or off-distribution
    vectors concentrate in the tails).

    Scale shape: training is the same hash-capped sample collect as
    every quantizer trainer (``train_sample``, <= 4096 rows — cost
    does not grow with the corpus); the learned direction and the
    round-6 centering constant enter the plan as LITERALS, so the
    corpus pass is ONE map-only projection fold (``_dot`` against a
    64-literal array — no explode, no join, no shuffle of vectors)
    followed by Spark's distributed TakeOrderedAndProject top-k
    (per-partition top-100, driver merge — never a global sort). The
    DuckDB oracle replays the entire chain from its own rows
    (:func:`_pca_oracle`), so the driver gate checks sample rule,
    iteration arithmetic, sign fix, and projection end-to-end."""
    from pyspark.sql import Window

    from stream_processing_test_spark.llm.similarity import (
        _dot,
        load_vectors,
        train_sample,
    )

    emb = load_vectors(spark, sf_dir)
    sample = sorted(
        (r["vec_id"], list(r["v"]))
        for r in train_sample(emb).collect()
    )
    fit = _pca_power_numpy(sample)
    spark_ = spark
    if fit is None:
        return spark_.createDataFrame(
            [], "vec_id long, proj double, rk long"
        )
    loadings, cmu = fit
    lit_v = F.array(*[F.lit(float(t)) for t in loadings])
    scored = emb.select(
        "vec_id",
        F.round(_dot(F.col("v"), lit_v) - F.lit(float(cmu)), 4).alias(
            "proj"
        ),
    )
    top = scored.orderBy(
        F.abs(F.col("proj")).desc(), F.col("vec_id").asc()
    ).limit(PCA_TOPN)
    w = Window.orderBy(F.abs(F.col("proj")).desc(), F.col("vec_id").asc())
    return top.withColumn("rk", F.row_number().over(w).cast("long"))


# --------------------------------------------------------------------
# MMR diversity re-ranking (r15): Maximal Marginal Relevance
# (Carbonell & Goldstein 1998) — greedy top-k selection balancing
# relevance to the query against similarity to the already-selected
# set. THE standard diversity re-ranker of retrieval pipelines (RAG
# context assembly, dedup-aware recommendation): a plain top-k returns
# ten near-copies of the best hit; MMR returns the best hit plus nine
# results that each add information.

MMR_LAMBDA = 0.7  # relevance weight
MMR_BETA = 0.3  # diversity weight — an EXPLICIT constant, NOT
# computed as 1 - MMR_LAMBDA: 1.0 - 0.7 is a different double than
# the literal 0.3, and both engines must score with the identical
# bits (the oracle embeds these literals verbatim)
MMR_POOL = 50  # relevance candidates per query entering the greedy


def _round4_np(x):
    """numpy twin of both engines' 4-decimal HALF-UP rounding — the
    precision every cosine bridge in this package rounds to (see
    ``hashing.round6_np`` for the half-away-from-zero rationale)."""
    import numpy as np

    return np.copysign(np.floor(np.abs(x) * 1e4 + 0.5), x) / 1e4


def _mmr_greedy(pdf):
    """Per-query greedy MMR over the (<= MMR_POOL)-row candidate
    pool: rows arrive with the JVM-computed round-4 relevance and the
    candidate vectors; the kernel computes the round-4 pairwise
    cosine matrix (the same double arithmetic the oracle's
    list_cosine_similarity performs, order noise absorbed by the
    rounding exactly as in every other cosine bridge) and selects
    TOP_K steps of argmax(MMR_LAMBDA*rel - MMR_BETA*max_sim_to_
    selected), ties to the smaller neighbor_id (rows are id-sorted,
    argmax takes the first max — the oracle's ROW_NUMBER tiebreak)."""
    import numpy as np
    import pandas as pd

    pdf = pdf.sort_values("neighbor_id").reset_index(drop=True)
    m = len(pdf)
    v = np.array([list(x) for x in pdf["v"]], dtype=np.float64)
    rel = pdf["rel"].to_numpy(dtype=np.float64)
    nrm = np.sqrt(np.sum(v * v, axis=1))
    s = _round4_np((v @ v.T) / np.outer(nrm, nrm))
    sel: list[int] = []
    remaining = list(range(m))
    out = []
    for step in range(1, min(TOP_K, m) + 1):
        if sel:
            ms = s[:, sel].max(axis=1)
            scores = MMR_LAMBDA * rel - MMR_BETA * ms
        else:
            scores = MMR_LAMBDA * rel
        best = remaining[int(np.argmax(scores[remaining]))]
        remaining.remove(best)
        sel.append(best)
        out.append(
            (
                int(pdf["query_id"].iloc[best]),
                int(pdf["neighbor_id"].iloc[best]),
                float(rel[best]),
                step,
            )
        )
    return pd.DataFrame(
        out, columns=["query_id", "neighbor_id", "cos_sim", "rk"]
    )


def _mmr_oracle() -> str:
    """DuckDB oracle replaying the WHOLE MMR chain: the round-4
    relevance pool (top MMR_POOL per query), the round-4 pairwise
    candidate similarity relation, and TOP_K unrolled greedy steps —
    each step a ROW_NUMBER argmax of the identical
    ``{lam}*rel - {beta}*max_sim`` double expression over the
    not-yet-selected pool, ties to the smaller neighbor_id (the
    kernel's first-max on id-sorted rows). The unroll is the Lloyd
    pattern for a greedy fixpoint; the selected-set union grows one
    CTE per step."""
    lam, beta = MMR_LAMBDA, MMR_BETA
    steps = []
    for i in range(2, TOP_K + 1):
        prev = f"selall{i - 1}"
        steps.append(f"""sel{i} AS MATERIALIZED (
    SELECT query_id, neighbor_id, rel, {i} AS rk FROM (
        SELECT p.query_id, p.neighbor_id, p.rel,
               ROW_NUMBER() OVER (PARTITION BY p.query_id
                   ORDER BY {lam} * p.rel - {beta} * ms.m DESC,
                            p.neighbor_id ASC) AS r
        FROM pool p
        JOIN (SELECT ps.query_id, ps.a, MAX(ps.s) AS m
              FROM psim ps
              JOIN {prev} s ON s.query_id = ps.query_id
                           AND s.neighbor_id = ps.b
              GROUP BY ps.query_id, ps.a) ms
          ON ms.query_id = p.query_id AND ms.a = p.neighbor_id
        LEFT JOIN {prev} x ON x.query_id = p.query_id
                          AND x.neighbor_id = p.neighbor_id
        WHERE x.neighbor_id IS NULL) t
    WHERE t.r = 1
),
selall{i} AS MATERIALIZED (
    SELECT * FROM {prev} UNION ALL SELECT * FROM sel{i}
)""")
    pieces = ",\n".join(steps)
    return f"""
WITH esig AS (
    {VECTORS_SQL}
),
{query_cte("esig")},
pool AS MATERIALIZED (
    SELECT query_id, neighbor_id, rel FROM (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               ROUND(list_cosine_similarity(q.qv, e.v), 4) AS rel,
               ROW_NUMBER() OVER (PARTITION BY q.query_id
                   ORDER BY ROUND(list_cosine_similarity(q.qv, e.v), 4) DESC,
                            e.vec_id ASC) AS pr
        FROM q, esig e WHERE e.vec_id <> q.query_id) t
    WHERE pr <= {MMR_POOL}
),
psim AS MATERIALIZED (
    SELECT p1.query_id, p1.neighbor_id AS a, p2.neighbor_id AS b,
           ROUND(list_cosine_similarity(ea.v, eb.v), 4) AS s
    FROM pool p1
    JOIN pool p2 ON p1.query_id = p2.query_id
                AND p1.neighbor_id <> p2.neighbor_id
    JOIN esig ea ON ea.vec_id = p1.neighbor_id
    JOIN esig eb ON eb.vec_id = p2.neighbor_id
),
sel1 AS MATERIALIZED (
    SELECT query_id, neighbor_id, rel, 1 AS rk FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY {lam} * rel DESC, neighbor_id ASC) AS r
        FROM pool) t
    WHERE t.r = 1
),
selall1 AS MATERIALIZED (SELECT * FROM sel1),
{pieces}
SELECT CAST(query_id AS BIGINT) AS query_id,
       CAST(neighbor_id AS BIGINT) AS neighbor_id,
       rel AS cos_sim,
       CAST(rk AS BIGINT) AS rk
FROM selall{TOP_K}
"""


@register(
    "mmr_diverse_topk",
    oracle=_mmr_oracle(),
    survey_ops="§7-similarity,§2.9,W1",
    tier=0,  # new in r15
)
def mmr_diverse_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversity-aware top-k: exact round-4 relevance builds a
    MMR_POOL-candidate pool per query, then a per-query greedy MMR
    (``MMR_LAMBDA * relevance - MMR_BETA * max-similarity-to-
    selected``) picks TOP_K results in selection order — the
    re-ranker that keeps a RAG context window from filling with ten
    near-copies of the best hit.

    Scale shape: the pool stage is the brute scoring shape (broadcast
    query rows; swap in any ANN arm's shortlist at index scale — the
    greedy only needs (neighbor_id, rel, v) rows), cut to MMR_POOL
    per query by a partitioned window BEFORE anything quadratic
    happens; the greedy is an ``applyInPandas`` kernel over <= 50-row
    groups (§2.9 Arrow surface — per-query work is O(TOP_K x POOL)
    with a 50x64 pairwise matrix, bounded regardless of corpus size,
    and the shuffle carries |queries| x POOL skinny rows). The DuckDB
    oracle replays pool, pairwise sims, and all TOP_K greedy steps
    unrolled (:func:`_mmr_oracle`), so the driver gate checks the
    greedy's every argmax cross-engine."""
    from pyspark.sql import Window

    from stream_processing_test_spark.llm.similarity import (
        cosine,
        load_vectors,
        query_set,
    )

    emb = load_vectors(spark, sf_dir)
    sims = (
        emb.crossJoin(F.broadcast(query_set(emb)))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(cosine(F.col("qv"), F.col("v")), 4).alias("rel"),
            "v",
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("rel").desc(), F.col("neighbor_id").asc()
    )
    pool = (
        sims.withColumn("pr", F.row_number().over(w))
        .filter(F.col("pr") <= MMR_POOL)
        .select("query_id", "neighbor_id", "rel", "v")
    )
    return pool.groupBy("query_id").applyInPandas(
        _mmr_greedy,
        schema="query_id long, neighbor_id long, cos_sim double, rk long",
    )


KNN_GRAPH_K = 5  # neighbors kept per node in the k-NN graph


def _knn_graph_oracle() -> str:
    """DuckDB oracle for the LSH k-NN graph: the shared auto-sized
    bucket CTE chain (``similarity.bucket_ctes`` — the exact chain the
    ``dedup_embedding_lsh`` oracle replays), the same candidate
    self-join and exact-cosine verify, then UNION ALL symmetrization
    and a per-node ROW_NUMBER over (rounded cosine DESC, neighbor
    ASC) — the ``ann_cosine_topk`` engine-parity convention."""
    from stream_processing_test_spark.llm.similarity import bucket_ctes

    return f"""
WITH {bucket_ctes(n_tables=None, n_planes=None)},
cand AS (
    SELECT DISTINCT a.vec_id AS doc_a, b.vec_id AS doc_b
    FROM buckets a JOIN buckets b
      ON a.table_id = b.table_id AND a.bucket = b.bucket AND a.vec_id < b.vec_id
),
verified AS (
    SELECT c.doc_a, c.doc_b,
           ROUND(list_cosine_similarity(ea.v, eb.v), 4) AS cos_sim
    FROM cand c
    JOIN esig ea ON ea.vec_id = c.doc_a
    JOIN esig eb ON eb.vec_id = c.doc_b
),
sym AS (
    SELECT doc_a AS vec_id, doc_b AS neighbor_id, cos_sim FROM verified
    UNION ALL
    SELECT doc_b AS vec_id, doc_a AS neighbor_id, cos_sim FROM verified
),
{ranked_cte("ranked", "sym", "vec_id")}
{topk_select("ranked", "vec_id", KNN_GRAPH_K)}
"""


@register(
    "embedding_knn_graph",
    oracle=_knn_graph_oracle(),
    survey_ops="§7-dedup,§7-similarity,LSH,⊘rank",
    tier=0,
)
def embedding_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node top-k cosine neighbor graph over the embedding corpus —
    the input relation of graph-based curation (SemDeDup-style cluster
    pruning, label propagation, connected-component near-dup groups
    beyond pairwise thresholds).

    Rides ``dedup.embedding_lsh_pairs`` in ``per_node_top_k`` mode: the
    auto-sized hyperplane-LSH bucket join confines pairwise work to
    bucket groups (planes from the corpus-COUNT occupancy rule, tables
    from the hold-recall rule — the identical candidate set as
    ``dedup_embedding_lsh``), the exact verify scores candidates only,
    and a per-node rank keeps the KNN_GRAPH_K best neighbors. The
    symmetrization is an explode over the verified pair row (one join
    execution, both directions) and the rank-limit runs as a
    WindowGroupLimit per-partition top-k BEFORE the eager checkpoint —
    ≤ n·k rows materialize regardless of candidate volume. Nodes whose
    buckets yield no candidates are isolated: absent from the output in
    both engines by the same rule.

    Scale posture: identical stages to the measured
    ``dedup_embedding_lsh`` ladder (BENCH_SCALE vector rungs) plus one
    rank exchange carrying (id, id, double) rows — the graph, never
    vectors."""
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").alias("v")
    )
    from stream_processing_test_spark.llm.dedup import embedding_lsh_pairs

    return embedding_lsh_pairs(emb, per_node_top_k=KNN_GRAPH_K)


def _semantic_clusters_oracle() -> str:
    """DuckDB replay: the k-NN graph chain (identical CTEs to the
    ``embedding_knn_graph`` oracle), mutual-edge filter at the shared
    near-dup threshold, then the recursive min-label walk
    (:func:`cluster.cc_walk_ctes`) — transitivity checked end-to-end,
    not assumed."""
    from stream_processing_test_spark.llm.cluster import cc_walk_ctes
    from stream_processing_test_spark.llm.dedup import (
        EMBED_COSINE_THRESHOLD,
    )
    from stream_processing_test_spark.llm.similarity import bucket_ctes

    return f"""
WITH RECURSIVE {bucket_ctes(n_tables=None, n_planes=None)},
cand AS (
    SELECT DISTINCT a.vec_id AS doc_a, b.vec_id AS doc_b
    FROM buckets a JOIN buckets b
      ON a.table_id = b.table_id AND a.bucket = b.bucket AND a.vec_id < b.vec_id
),
verified AS (
    SELECT c.doc_a, c.doc_b,
           ROUND(list_cosine_similarity(ea.v, eb.v), 4) AS cos_sim
    FROM cand c
    JOIN esig ea ON ea.vec_id = c.doc_a
    JOIN esig eb ON eb.vec_id = c.doc_b
),
sym AS (
    SELECT doc_a AS vec_id, doc_b AS neighbor_id, cos_sim FROM verified
    UNION ALL
    SELECT doc_b AS vec_id, doc_a AS neighbor_id, cos_sim FROM verified
),
{ranked_cte("ranked", "sym", "vec_id")},
knn AS (
    SELECT vec_id, neighbor_id, cos_sim FROM ranked
    WHERE rk <= {KNN_GRAPH_K}
),
mutual AS (
    SELECT a.vec_id AS doc_a, a.neighbor_id AS doc_b
    FROM knn a JOIN knn b
      ON b.vec_id = a.neighbor_id AND b.neighbor_id = a.vec_id
    WHERE a.vec_id < a.neighbor_id
      AND a.cos_sim >= {EMBED_COSINE_THRESHOLD}
),
{cc_walk_ctes("mutual")},
comp AS (SELECT node AS vec_id, MIN(lbl) AS component FROM walk GROUP BY node)
SELECT CAST(c.vec_id AS BIGINT) AS vec_id,
       CAST(c.component AS BIGINT) AS component,
       CAST(s.csize AS BIGINT) AS cluster_size
FROM comp c
JOIN (SELECT component, COUNT(*) AS csize FROM comp GROUP BY component) s
  ON c.component = s.component
"""


@register(
    "semantic_dup_clusters",
    oracle=_semantic_clusters_oracle(),
    survey_ops="§7-dedup,§7-similarity,LSH,J1,A2",
    tier=0,
)
def semantic_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic duplicate groups: connected components over the
    MUTUAL k-NN edges that clear the embedding near-dup threshold —
    the cluster deliverable of SemDeDup-style curation (keep one
    representative per semantic group), built on candidate machinery
    that stays banded (the LSH bucket join), never the cluster-routed
    quadratic the r10 SemDeDup decision rejected for candidate
    generation.

    Pipeline: ``embedding_lsh_pairs`` in ``per_node_top_k`` mode (the
    registered ``embedding_knn_graph`` relation — eagerly
    checkpointed, so the mutual self-join reads materialized graph
    rows, not two executions of the candidate chain), a left-semi
    reverse-edge join + threshold filter (mutuality prunes hub nodes:
    an edge survives only if BOTH endpoints rank each other top-k),
    then ``cluster.connected_components`` (union-find on the driver
    while the mutual edges fit the broadcast budget, else min-label /
    star contraction, log-round bounded) with per-component sizes. Output mirrors
    ``dup_clusters``: (vec_id, component, cluster_size), component =
    min member id — the canonical keeper.

    Scale posture: every stage is an already-priced shape — the knn
    rungs (BENCH_NOTES §r15-knn), id-pair-only mutual join, and the CC
    loop whose rounds are logarithmic in cluster diameter (tiny here:
    mutual near-dup groups are cliques-ish)."""
    from stream_processing_test_spark.llm.cluster import (
        connected_components,
    )
    from stream_processing_test_spark.llm.dedup import (
        EMBED_COSINE_THRESHOLD,
        embedding_lsh_pairs,
    )

    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").alias("v")
    )
    g = embedding_lsh_pairs(emb, per_node_top_k=KNN_GRAPH_K)
    rev = g.select(
        F.col("neighbor_id").alias("vec_id"),
        F.col("vec_id").alias("neighbor_id"),
    )
    mutual = (
        g.join(rev, ["vec_id", "neighbor_id"], "left_semi")
        .filter(
            (F.col("vec_id") < F.col("neighbor_id"))
            & (F.col("cos_sim") >= EMBED_COSINE_THRESHOLD)
        )
        .select(
            F.col("vec_id").alias("doc_a"),
            F.col("neighbor_id").alias("doc_b"),
        )
    )
    comp = connected_components(mutual, src="doc_a", dst="doc_b").select(
        F.col("node").alias("vec_id"), "component"
    )
    sizes = comp.groupBy("component").agg(
        F.count("*").alias("cluster_size")
    )
    return comp.join(sizes, "component").select(
        "vec_id", "component", "cluster_size"
    )
