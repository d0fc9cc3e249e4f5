"""Similarity search over the ``embeddings`` table (vec_id,
embedding: array<float>, label).

Two paths, mirroring the dedup ladder:

- **Brute-force cosine top-k** (oracle-checked): exact, all-pairs
  between a small query set and the corpus. JVM-side vector math
  (``aggregate``/``zip_with`` — no Python per row); the query set is
  broadcast so the corpus streams through one task wave with no
  shuffle. This is the correctness baseline and is the right plan
  whenever |queries| is small (the 100 TB case: corpus-partitioned,
  query-broadcast).
- **LSH-bucketed ANN** (oracle-checked): random-hyperplane sign
  signatures; candidates restricted to matching buckets — the scale
  path when |queries| is large. The hyperplanes are derived from the
  portable md5 hash (llm/hashing.py), materialized as literal weight
  arrays in the Spark plan and regenerated by a DuckDB CTE in the
  oracle — so the bucketing, candidate join and re-rank are all
  replayed cross-engine, and the whole pipeline stays JVM-side
  (codegen'd fold, no Python / no Arrow transfer in the hot path).
  Quality is additionally validated in pytest against the brute-force
  result (recall@k).
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from stream_processing_test_spark.llm.hashing import (
    phash_sql,
    plane_weights,
    plane_weights_cte,
)
from stream_processing_test_spark.registry import register
from stream_processing_test_spark.session import (
    finish_with,
    parallelize_narrow_scan,
)
from stream_processing_test_spark.tables import load

# TOP_K / N_QUERIES / EMBED_DIM and the oracles' top-k SQL live in the
# leaf ``params`` module (see its docstring for the r14 import-order
# story); the constants are re-exported here — every established
# import site keeps working.
from stream_processing_test_spark.llm.params import (  # noqa: F401
    EMBED_DIM,
    N_QUERIES,
    TOP_K,
    VECTORS_SQL,
    probed_cte,
    probed_sims_cte,
    query_cte,
    ranked_cte,
    topk_select,
)


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity between two double-array columns (JVM-side)."""
    return _dot(a, b) / (_norm(a) * _norm(b))


# The Spark side of the top-k contract (the SQL side is in ``params``).


def load_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, v): the embeddings table with ``v`` widened to double."""
    return load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )


def query_set(emb: DataFrame) -> DataFrame:
    """(query_id, qv): the registered query set of a (vec_id, v) frame."""
    return emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )


def tie_break() -> tuple[Column, Column]:
    """The top-k order: rounded cosine DESC, neighbor_id ASC — the
    cross-engine determinism rule the oracles' ROW_NUMBER replays."""
    return F.col("cos_sim").desc(), F.col("neighbor_id").asc()


def rank_top_k(sims: DataFrame, part: str, k: int) -> DataFrame:
    """The ``k`` best ``sims`` rows per ``part`` under
    :func:`tie_break`, numbered 1.. as the long column ``rk``."""
    w = Window.partitionBy(part).orderBy(*tie_break())
    return (
        sims.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k)
    )


def brute_topk(emb: DataFrame) -> DataFrame:
    """Exact top-k of the query set of ``emb`` (vec_id, v) against all
    of ``emb``: the query rows are broadcast, so the corpus streams
    through one task wave with no shuffle before the rank."""
    q = query_set(emb)
    sims = (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(cosine(F.col("qv"), F.col("v")), 4).alias("cos_sim"),
        )
    )
    return rank_top_k(sims, "query_id", TOP_K)


_BRUTE_ORACLE = f"""
WITH q AS (
    SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < {N_QUERIES}
), sims AS (
    SELECT q.query_id, e.vec_id AS neighbor_id,
           ROUND(list_cosine_similarity(
               list_transform(q.qv, x -> CAST(x AS DOUBLE)),
               list_transform(e.embedding, x -> CAST(x AS DOUBLE))), 4) AS cos_sim
    FROM q, embeddings e
    WHERE e.vec_id <> q.query_id
), {ranked_cte("ranked", "sims", "query_id")}
{topk_select("ranked", "query_id", TOP_K)}
"""


@register(
    "ann_cosine_topk", oracle=_BRUTE_ORACLE, survey_ops="§7-similarity,⊘rank", tier=0
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k for a small query set.

    Determinism across engines: similarities are computed in double
    precision and ROUNDED to 4 decimals BEFORE ranking in both Spark
    and DuckDB, with neighbor_id as tie-break — float noise in the
    last ulp cannot reorder the top-k."""
    return brute_topk(load_vectors(spark, sf_dir))


N_TABLES = 16  # independent LSH tables (OR-amplification: recall)
N_PLANES = 4  # hyperplanes per table (AND-amplification: precision)
MAX_PLANES = 24  # auto_planes clamp; past this, IVF is the better tool
LSH_TARGET_OCCUPANCY = 1024  # auto_planes default expected bucket size


def auto_planes(
    n_rows: int,
    target_occupancy: int = LSH_TARGET_OCCUPANCY,
    min_planes: int = N_PLANES,
    max_planes: int = MAX_PLANES,
) -> int:
    """Plane count sized so the bucket self-join stays linear-ish in
    the corpus: expected bucket occupancy n / 2^planes <= target.

    WHY THIS KNOB EXISTS: the candidate stage's cost is Σ_buckets
    |bucket|² per table. With a FIXED plane count the bucket count is a
    constant (2^N_PLANES = 16 by default), so uniform occupancy is
    n/16 and the join cost is ~n²/16 per table — quadratic in corpus
    size. The defaults are tuned (and oracle-pinned) for the driver
    fixtures; a production corpus must scale planes ~ log2(n /
    target_occupancy), which caps expected occupancy at `target` and
    the join at ~n * target per table. Raising planes lowers each
    table's collision probability for true near pairs
    (p_table = (1-θ/π)^planes), so deployments hold recall by raising
    ``n_tables`` alongside — both knobs are plain parameters of
    :func:`hyperplane_tables` AND :func:`bucket_ctes`, and the plane
    weights are a pure function of (table, plane, dim)
    (hashing.plane_weights), so a DuckDB oracle regenerated with the
    same numbers replays ANY choice bit-for-bit. Clamped to
    [min_planes, max_planes]: below, the fixture default; above,
    per-table recall is too low to amplify back affordably and an IVF
    path (``ann_ivf_topk``) is the better scale tool.

    Since r8 this is WIRED INTO the registered queries: both
    ``dedup_embedding_lsh`` and ``ann_lsh_topk`` probe the corpus count
    and size their planes here, and their DuckDB oracles recompute the
    same rule in SQL (:func:`auto_planes_ctes`), so the driver gate
    replays whatever plane count the corpus implies. Integer-exact
    arithmetic (no float log2) so the Spark-side Python and the
    oracle-side SQL can never disagree at a power-of-two boundary:
    the result is the smallest ``p >= min_planes`` with
    ``target_occupancy * 2**p >= n_rows``, clamped at ``max_planes``."""
    if n_rows <= target_occupancy:
        return min_planes
    p = min_planes
    while p < max_planes and (target_occupancy << p) < n_rows:
        p += 1
    return p


def auto_planes_ctes() -> str:
    """DuckDB CTE pair ``nv(n), np(planes)`` recomputing
    :func:`auto_planes` at its defaults over the live row count of
    ``embeddings`` — the same integer rule (smallest ``p`` in
    ``[N_PLANES, MAX_PLANES]`` with ``LSH_TARGET_OCCUPANCY * 2^p >= n``),
    so the oracle sizes its planes from the same corpus count the Spark
    query probes."""
    return f"""nv AS (SELECT COUNT(*) AS n FROM embeddings),
np AS (
    SELECT CASE WHEN n <= {LSH_TARGET_OCCUPANCY} THEN {N_PLANES}
           ELSE (SELECT MIN(p) FROM range({N_PLANES}, {MAX_PLANES + 1}) t(p)
                 WHERE ({LSH_TARGET_OCCUPANCY} * (CAST(1 AS BIGINT) << p)) >= n
                    OR p = {MAX_PLANES})
           END AS planes
    FROM nv
)"""


RECALL_FLOOR = 0.80  # declared floor the policy holds at the design point
RECALL_DESIGN = 0.85  # design target; the 0.05 margin over the floor
#                       absorbs pair-similarity heterogeneity (a real
#                       corpus's near-dups are a distribution around the
#                       design cosine, not a point — the r8 ladder
#                       measured effective per-plane retention 0.853 vs
#                       the cos-0.9 theory's 0.856)
COS_DESIGN = 0.9  # near-dup design similarity the floor is declared FOR:
#                   pairs less similar than this get less recall — the
#                   inherent LSH s-curve, not a policy failure
MAX_TABLES = 64  # policy clamp: cost is ~linear in tables, and past
#                  ~22 planes (occupancy-1024 corpora beyond ~4.3 B
#                  rows) holding the floor needs >64 tables — there,
#                  as with MAX_PLANES, IVF is the better tool


def _tables_for(planes: int) -> int:
    """Tables needed so design-point recall >= RECALL_DESIGN at
    ``planes`` hyperplanes: per-table collision p = (1-θ/π)^planes at
    θ = arccos(COS_DESIGN); recall = 1-(1-p)^tables. Computed ONCE at
    import into the integer lookup AUTO_TABLES — the floats never
    cross an engine boundary (the oracle's CASE is generated from the
    same dict literals), so cross-engine agreement is by construction."""
    import math

    p = (1.0 - math.acos(COS_DESIGN) / math.pi) ** planes
    need = math.ceil(math.log(1.0 - RECALL_DESIGN) / math.log(1.0 - p))
    return min(max(need, N_TABLES), MAX_TABLES)


AUTO_TABLES: dict[int, int] = {
    p: _tables_for(p) for p in range(N_PLANES, MAX_PLANES + 1)
}
# 16 tables (the min clamp) through 14 planes; 19 @ 15, 22 @ 16,
# 30 @ 18, 42 @ 20, 57 @ 22, then the 64 clamp at 23+ — the floor is
# holdable within the clamp for planes <= 22 (occupancy-1024 corpora
# up to ~4.3 B vectors); beyond, recall erodes and IVF is the tool.


def auto_tables(n_planes: int) -> int:
    """Hold-recall companion to :func:`auto_planes` (VERDICT r8 item 1):
    as planes rise to keep the bucket join linear, per-table collision
    probability for true near pairs falls geometrically — so the table
    count must rise to keep recall = 1-(1-p)^tables above the declared
    floor. Raising tables multiplies signature and candidate cost
    ~linearly (the priced dial: r8 measured 8→16 tables = 0.599→0.828
    recall at 1.60x wall) — the honest cost of not silently degrading
    dedup recall at 100 M-row corpora.

    Integer lookup over the precomputed AUTO_TABLES dict; the DuckDB
    oracle replays the identical mapping via :func:`auto_tables_ctes`'s
    generated CASE, so no float ever crosses the engine boundary. At
    fixture sizes auto_planes resolves to the 4-plane floor where this
    returns N_TABLES — fixture plans and hashes are unchanged."""
    return AUTO_TABLES[min(max(n_planes, N_PLANES), MAX_PLANES)]


def auto_tables_ctes() -> str:
    """DuckDB CTE ``nt(tables)`` replaying :func:`auto_tables` over the
    ``np(planes)`` CTE from :func:`auto_planes_ctes` — a literal CASE
    generated from the same AUTO_TABLES dict the Spark side reads."""
    branches = "\n           ".join(
        f"WHEN {p} THEN {t}" for p, t in AUTO_TABLES.items()
    )
    return f"""nt AS (
    SELECT CASE planes {branches}
           END AS tables
    FROM np
)"""


def hyperplane_tables(
    emb: DataFrame,
    n_tables: int = N_TABLES,
    n_planes: int = N_PLANES,
) -> DataFrame:
    """(vec_id, table_id, bucket): each vector hashed into one bucket
    per LSH table via random-hyperplane sign signatures.

    Shared candidate-generation stage for ANN search
    (``ann_lsh_topk``) and embedding near-dup (``dedup_embedding_lsh``).
    The hyperplane matrix is deterministic — each component is the
    portable md5 hash of ``"hp:t:p:d"`` mapped to [-1, 1)
    (``hashing.plane_weights``) — and is baked into the plan as literal
    arrays. Bucket bits come from a sequential JVM-side fold
    (``aggregate(zip_with(...))``), which matches DuckDB's
    left-to-right ``list_sum`` so the oracle regenerates identical
    buckets. Compared to the earlier numpy-pandas_udf version this
    keeps the whole stage inside whole-stage codegen: no Python
    workers, no Arrow transfer, and exact cross-engine replay.

    Deliberately does NOT carry ``v``: the posexplode multiplies rows
    by n_tables and the bucket self-join multiplies candidates further,
    so a 512-byte vector payload would inflate every downstream shuffle
    ~16-1000x. Candidates travel as bare id pairs; callers join vectors
    back for the exact-verify stage (the shape the 100 TB plan needs —
    and the same shape the DuckDB oracles use).

    SCALE NOTE: bucket-join cost is Σ_buckets |bucket|² per table, and
    ``n_planes`` fixes the bucket count at 2^n_planes — so the DEFAULT
    (4 planes, 16 buckets) is quadratic in corpus size and tuned for
    the driver fixtures only. Corpus-scale callers size planes with
    :func:`auto_planes` (and raise ``n_tables`` to hold recall); the
    weights are a pure function of (table, plane), so the DuckDB
    oracle (:func:`bucket_ctes`) replays any parameterization."""
    # 4096 multiply-adds per vector: parallelize when the scan is a
    # single row group (no-op at real scan widths)
    emb = parallelize_narrow_scan(emb)
    W = plane_weights(n_tables, n_planes, EMBED_DIM)

    # The weight matrix is 4096 doubles; building it as F.lit() columns
    # costs thousands of py4j round-trips PER QUERY CALL (~3 s of
    # driver time). Emit the whole signature as two SQL expressions
    # instead — one parse each — with identical fold semantics:
    # left-to-right aggregate(zip_with), matching DuckDB's list_sum.
    planes_sql = ", ".join(
        "array(" + ", ".join(f"{x!r}D" for x in W[t][p]) + ")"
        for t in range(n_tables)
        for p in range(n_planes)
    )
    dots_sql = (
        f"transform(array({planes_sql}), "
        "wp -> aggregate(zip_with(v, wp, (x, y) -> x * y), "
        "0D, (acc, x) -> acc + x))"
    )
    bucket_sql = " + ".join(
        f"(CASE WHEN dots[{n_planes} * t + {p}] > 0D THEN {1 << p} ELSE 0 END)"
        for p in range(n_planes)
    )
    buckets_sql = (
        f"transform(sequence(0, {n_tables - 1}), t -> cast({bucket_sql} as int))"
    )
    return emb.withColumn("dots", F.expr(dots_sql)).select(
        "vec_id",
        F.posexplode(F.expr(buckets_sql)).alias("table_id", "bucket"),
    )


def bucket_ctes(
    n_tables: int | None = N_TABLES,
    n_planes: int | None = N_PLANES,
) -> str:
    """DuckDB CTE chain ``esig(vec_id, v), hp(t, p, w), buckets(vec_id,
    table_id, bucket)`` replaying :func:`hyperplane_tables` exactly —
    shared by the ``ann_lsh_topk`` and ``dedup_embedding_lsh`` oracles.

    ``n_planes=None`` (the registered queries' mode since r8) sizes the
    plane count FROM THE CORPUS COUNT inside the SQL itself: the chain
    gains ``nv``/``np`` CTEs recomputing :func:`auto_planes` over
    ``COUNT(*) FROM embeddings``, ``hp`` is generated out to
    ``MAX_PLANES`` (weights are a pure function of (t, p, d), so the
    prefix any plane count selects is identical), and ``buckets`` folds
    only planes ``p < np.planes`` — the oracle replays whatever plane
    count the Spark side's own count probe implies, at any corpus
    size. ``n_tables=None`` (the registered mode since r9) likewise
    derives the table count from the plane count via the ``nt`` CTE
    (:func:`auto_tables_ctes`): ``hp`` is generated out to MAX_TABLES
    and ``buckets`` keeps only tables ``t < nt.tables`` — the oracle
    replays the hold-recall policy at any corpus size."""
    if n_planes is None:
        gen_planes, plane_bound, np_cte = (
            MAX_PLANES,
            "hp.p < np.planes",
            f"{auto_planes_ctes()},\n",
        )
        np_src = ", np"
    else:
        gen_planes, plane_bound, np_cte, np_src = n_planes, "TRUE", "", ""
    if n_tables is None:
        if n_planes is not None:
            raise ValueError("n_tables=None (auto_tables) requires n_planes=None")
        gen_tables, table_bound = MAX_TABLES, "hp.t < nt.tables"
        np_cte += f"{auto_tables_ctes()},\n"
        np_src += ", nt"
    else:
        gen_tables, table_bound = n_tables, "TRUE"
    return f"""esig AS (
    {VECTORS_SQL}
),
{np_cte}{plane_weights_cte(gen_tables, gen_planes, EMBED_DIM)},
buckets AS (
    SELECT e.vec_id, hp.t AS table_id,
           SUM(CASE WHEN list_sum(list_transform(range({EMBED_DIM}), i -> v[i+1] * w[i+1])) > 0
                    THEN (1 << p) ELSE 0 END) AS bucket
    FROM esig e, hp{np_src}
    WHERE {plane_bound} AND {table_bound}
    GROUP BY e.vec_id, hp.t
)"""


_ANN_LSH_ORACLE = f"""
WITH {bucket_ctes(n_tables=None, n_planes=None)},
q AS (
    SELECT vec_id AS query_id, table_id, bucket FROM buckets
    WHERE vec_id < {N_QUERIES}
),
cand AS (
    SELECT DISTINCT b.vec_id AS neighbor_id, q.query_id
    FROM buckets b JOIN q ON b.table_id = q.table_id AND b.bucket = q.bucket
    WHERE b.vec_id <> q.query_id
),
sims AS (
    SELECT c.query_id, c.neighbor_id,
           ROUND(list_cosine_similarity(eq.v, en.v), 4) AS cos_sim
    FROM cand c
    JOIN esig eq ON eq.vec_id = c.query_id
    JOIN esig en ON en.vec_id = c.neighbor_id
),
{ranked_cte("ranked", "sims", "query_id")}
{topk_select("ranked", "query_id", TOP_K)}
"""


@register(
    "ann_lsh_topk",
    oracle=_ANN_LSH_ORACLE,
    survey_ops="§7-similarity,LSH",
    tier=1,
)
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH ANN: independent sign-signature tables,
    plane count sized from the corpus via :func:`auto_planes` (2^planes
    buckets each), table count sized from the plane count via
    :func:`auto_tables` (the r9 hold-recall policy); a pair is a
    candidate if it collides in ANY table; exact cosine re-rank within
    candidates.

    The hyperplanes are the deterministic md5-derived matrix from
    ``hashing.plane_weights`` baked into the plan as literals — fully
    JVM-side, and replayed by the DuckDB oracle (same buckets, same
    candidates, same ranks). The plane count comes from a corpus COUNT
    probe (a metadata-cheap 1-column scan, same pattern as
    ``dedup_embedding_cosine``'s guard) through ``auto_planes``, and
    the oracle recomputes the identical integer rule from its own
    COUNT(*) (:func:`auto_planes_ctes`) — so the r7-flagged fixed
    4-plane default (bucket join ~n²/16 per table) is gone from the
    registered path: expected occupancy is capped at
    LSH_TARGET_OCCUPANCY and the bucket join at ~n · occupancy per
    table, at any corpus size.

    Parameter choice is the collision curve
    p_table = (1 - θ/π)^planes, recall = 1-(1-p_table)^tables. As
    auto_planes raises planes to hold the bucket join linear, p_table
    falls geometrically — so since r9 the table count is no longer
    fixed: :func:`auto_tables` raises it to keep design-point recall
    (COS_DESIGN) at RECALL_DESIGN, guaranteeing the declared
    RECALL_FLOOR. The oracle recomputes BOTH integer rules from its own
    COUNT(*) (``nv → np → nt`` CTEs). At fixture sizes (≤16 k vectors)
    both resolve to the 16×4 floor — plans and hashes unchanged: 16×4
    targets the *moderate*-similarity regime of the synthetic corpus
    (top-1 cosine ≈ 0.35 → θ/π ≈ 0.39 → per-table ≈ 0.13 → recall
    ≈ 0.89). Oracle-checked end-to-end; pytest additionally measures
    recall@k against ``ann_cosine_topk`` and pins the AUTO_TABLES
    policy curve; the scale ladder measures planted-pair recall at the
    operating points the rule selects up through the 100 M-row regime
    (BENCH_SCALE.json)."""
    emb = load_vectors(spark, sf_dir)
    n_planes = auto_planes(emb.select("vec_id").count())
    n_tables = auto_tables(n_planes)
    # persisted: the query side and the corpus side of the bucket join
    # both consume this — without it the signature fold runs twice.
    # Buckets are bare (vec_id, table_id, bucket) rows: the candidate
    # explosion never carries vector payloads (see hyperplane_tables).
    tables = hyperplane_tables(
        emb, n_tables=n_tables, n_planes=n_planes
    ).persist()
    q = tables.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("table_id").alias("qtable"),
        F.col("bucket").alias("qbucket"),
    )
    cand = (
        tables.join(
            F.broadcast(q),
            (F.col("table_id") == F.col("qtable"))
            & (F.col("bucket") == F.col("qbucket")),
            "inner",
        )
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
        .distinct()
    )
    # exact-verify: join the vectors back onto the deduped id pairs —
    # the query side is N_QUERIES rows (broadcast), the neighbor side
    # is an equi-join against the corpus.
    sims = (
        cand.join(emb, cand.neighbor_id == emb.vec_id)
        .join(F.broadcast(query_set(emb)), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("qv"), F.col("v")), 4).alias("cos_sim"),
        )
    )
    return finish_with(rank_top_k(sims, "query_id", TOP_K), tables)


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — k-means coarse quantizer + probed-list search
# ---------------------------------------------------------------------------

N_PROBE = 2  # coarse lists searched per query
IVF_LISTS = 16  # coarse quantizer size (k)
IVF_ITERS = 2  # Lloyd refinement passes (fixed: deterministic job count)
IVF_TRAIN_TARGET = 4096  # quantizer training-sample cap (VERDICT r8
#                          item 4): Lloyd passes over the full corpus
#                          made training the flat ~32-44 s constant of
#                          the IVF ladder. k-means needs only a
#                          representative sample — cap it and the
#                          training cost stops growing with the corpus;
#                          the full corpus is assigned exactly ONCE.


def auto_train_shift(n_rows: int, target: int = IVF_TRAIN_TARGET) -> int:
    """Power-of-two training-sample divisor: the smallest shift ``s``
    with ``target << s >= n_rows``, so the deterministic hash gate
    ``phash(vec_id) % 2^s == 0`` keeps ~``n/2^s <= target`` training
    rows. Integer-exact (same style as :func:`auto_planes`) so the
    DuckDB oracle recomputes the identical rule from its own COUNT(*)
    and gates the identical rows — no float, no rand(), replayable."""
    s = 0
    while (target << s) < n_rows:
        s += 1
    return s


def _train_shift_ctes(count_from: str = "embeddings") -> str:
    """DuckDB CTE pair ``nv(n), sh(s)`` recomputing
    :func:`auto_train_shift` over the live corpus count, plus the
    ``train`` CTE applying the same md5 gate to ``esig``.

    ``count_from`` names the relation whose COUNT sizes the shift —
    ``embeddings`` for the whole-table oracles; an oracle that trains
    on a SUBSET (``ann_index_append``'s standing base) passes its own
    filtered CTE so the replayed shift matches the Spark side's
    ``kmeans_lists(base)`` count."""
    gate = phash_sql("CAST(vec_id AS VARCHAR)")
    return f"""nv AS (SELECT COUNT(*) AS n FROM {count_from}),
sh AS (
    SELECT CASE WHEN n <= {IVF_TRAIN_TARGET} THEN 0
           ELSE (SELECT MIN(s) FROM range(1, 41) t(s)
                 WHERE ({IVF_TRAIN_TARGET} * (CAST(1 AS BIGINT) << s)) >= n)
           END AS s
    FROM nv
),
train AS (
    SELECT e.vec_id, e.v FROM esig e, sh
    WHERE sh.s = 0 OR ({gate} % (CAST(1 AS BIGINT) << sh.s)) = 0
)"""


def train_sample(base, n_rows: int | None = None):
    """The deterministic hash-capped training sample shared by every
    driver-local quantizer trainer (IVF's :func:`kmeans_lists`, PQ's
    ``pq_codebooks``): ~n/2^s <= IVF_TRAIN_TARGET rows gated by
    ``phash(vec_id) % 2^s == 0`` with ``s`` from
    :func:`auto_train_shift`. One definition on purpose — the gate is
    replayed by ``_train_shift_ctes`` in every oracle, so a change
    here must reach all trainer call sites at once. ``n_rows`` lets a
    caller that already probed the corpus count (PQ's auto_rerank
    probe) skip the re-count."""
    from stream_processing_test_spark.llm.hashing import phash

    n = n_rows if n_rows is not None else base.count()
    shift = auto_train_shift(n, IVF_TRAIN_TARGET)
    if not shift:
        return base
    return base.filter(
        phash(F.col("vec_id").cast("string")) % (1 << shift) == 0
    )


IVF_LISTS_MAX = 256  # auto_lists clamp: training stays inside the
#                      hash-capped sample (256 << 4096) and per-query
#                      routing stays a broadcast-k scan; corpora past
#                      the clamp (n > ~4.2 M at C=64) shard the lists
#                      across sessions or raise the clamp knowingly.
IVF_LISTS_C = 64  # auto_lists balance point: lists² · C >= n keeps
#                   |list| ≈ sqrt(C·n) — per-list occupancy and list
#                   count grow TOGETHER as sqrt(n), the IVF sweet spot
#                   (probing a fixed n_probe of lists then touches
#                   ~n_probe·sqrt(C·n) rows: sublinear in n).


def auto_lists(n_rows: int) -> int:
    """Coarse-list count for the IVF-PQ composition (VERDICT r9
    item 3): the smallest power-of-two L in [IVF_LISTS,
    IVF_LISTS_MAX] with L² · IVF_LISTS_C >= n, i.e. L ≈
    sqrt(n / C) — so probed-work per query (n_probe · n / L) grows
    as sqrt(n), not n. Integer-exact (shift-free doubling, no float
    sqrt) so the DuckDB oracle recomputes the identical rule from its
    own COUNT(*) (:func:`auto_lists_ctes`). The registered
    ``ann_ivf_topk`` keeps its fixed 16-list contract (documented
    there); the composition is the path that needs the rule —
    its ADC code scan is what the list count bounds."""
    L = IVF_LISTS
    while L < IVF_LISTS_MAX and L * L * IVF_LISTS_C < n_rows:
        L *= 2
    return L


def auto_lists_ctes() -> str:
    """DuckDB CTE ``nl(lists)`` replaying :func:`auto_lists` over the
    ``nv(n)`` count CTE (provided by ``_train_shift_ctes``)."""
    values = ", ".join(
        f"({L})"
        for L in [
            1 << p
            for p in range(
                IVF_LISTS.bit_length() - 1, IVF_LISTS_MAX.bit_length()
            )
        ]
    )
    return f"""nl AS (
    SELECT (SELECT MIN(L) FROM (VALUES {values}) t(L)
            WHERE (L * L * {IVF_LISTS_C}) >= n OR L = {IVF_LISTS_MAX}) AS lists
    FROM nv
)"""


PROBE_DIV = 8  # auto_probe holds the searched fraction >= 1/PROBE_DIV


def auto_probe(n_lists: int) -> int:
    """Hold-recall probe count for AUTO-SIZED lists (VERDICT r13
    item 3 — the IVF analog of ``pq.auto_rerank``): probe
    ``max(N_PROBE, n_lists // PROBE_DIV)`` lists, so the searched
    fraction never falls below 1/PROBE_DIV — exactly the fixture
    operating point (2/16) — as :func:`auto_lists` grows L ~ sqrt(n).

    What this prices: the r10 decision record declared N_PROBE a
    constant because on an UNSTRUCTURED corpus recall is floored at
    the fraction searched BY GEOMETRY — under auto_lists that
    fraction (N_PROBE/L) decays with the corpus, which is the
    documented routing floor (recall@10 0.14 at vec_x40). Holding the
    fraction is therefore the only recall dial that exists there, and
    its honest price is probed work linear in n again (~n/PROBE_DIV
    per query instead of the default's ~sqrt(n)): the vec-ladder
    ``ivfprobe`` arm measures exactly that recall-vs-wall trade
    (BENCH_SCALE; BENCH_NOTES §r14-auto-probe). On corpora WITH
    cluster structure routing still concentrates and the escalated
    probes buy more than the floor. Integer-exact (L is a power of
    two >= IVF_LISTS, plain integer division) so
    :func:`auto_probe_ctes` replays the identical rule in DuckDB."""
    return max(N_PROBE, n_lists // PROBE_DIV)


def auto_probe_ctes() -> str:
    """DuckDB CTE ``npr(probes)`` replaying :func:`auto_probe` over
    the ``nl(lists)`` CTE from :func:`auto_lists_ctes`."""
    return f"""npr AS (
    SELECT GREATEST({N_PROBE}, lists // {PROBE_DIV}) AS probes FROM nl
)"""


def train_ivf_cents(
    emb: DataFrame,
    k: int = IVF_LISTS,
    iters: int = IVF_ITERS,
    n_rows: int | None = None,
) -> tuple[list[tuple[int, list[float]]], DataFrame]:
    """The TRAINING half of :func:`kmeans_lists`: the deterministic
    hash-sampled, driver-local Lloyd over (vec_id, v), returning the
    trained coarse quantizer as both the driver-side ``cents`` list
    (what the Arrow kernels embed) and the small ``centroids`` local
    relation (what routing joins broadcast). Split out in r14 so the
    IVF-PQ composition can FUSE assignment + PQ encode into one Arrow
    pass (``pq.pq_assign_encode_arrow``) without paying the separate
    assignment pass ``kmeans_lists`` wraps around this. All
    determinism/oracle-parity contracts are documented on
    :func:`kmeans_lists`, whose training this IS (verbatim: same
    gate, same collect bound, same :func:`_ivf_lloyd_numpy`)."""
    spark = emb.sparkSession
    base = emb.select("vec_id", "v")
    if n_rows is None:
        n_rows = base.count()  # the count train_sample would pay anyway
    train = train_sample(base, n_rows=n_rows)
    # bounded collect: ~n/2^s <= IVF_TRAIN_TARGET rows of (id, dim doubles)
    cents = _ivf_lloyd_numpy(
        [(r["vec_id"], r["v"]) for r in train.collect()], k=k, iters=iters
    )
    centroids = spark.createDataFrame(
        cents, "list_id int, centroid array<double>"
    )
    return cents, centroids


def kmeans_lists(
    emb: DataFrame,
    k: int = IVF_LISTS,
    iters: int = IVF_ITERS,
    n_rows: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Deterministic spherical k-means over (vec_id, v): returns
    ``(assign, centroids)`` — ``assign(vec_id, v, list_id)`` and
    ``centroids(list_id, centroid)``.

    TRAINING IS SAMPLED AND DRIVER-LOCAL (since r9 — VERDICT r8
    item 4): the Lloyd passes run on a deterministic hash-sample of
    ≈``IVF_TRAIN_TARGET`` rows (``phash(vec_id) % 2^s == 0`` with ``s``
    from :func:`auto_train_shift` — the repo's seedless-gate idiom),
    and because that sample is BOUNDED BY CONSTRUCTION (like the k
    centroids themselves, it is model state, not data), it is
    collected once and iterated in numpy on the driver
    (:func:`_ivf_lloyd_numpy`). The full corpus is then assigned exactly
    once, distributed, against the trained centroids broadcast as a
    local relation. Previously every Lloyd pass was a fresh Spark
    plan over the full corpus: corpus-proportional scan cost at the
    ladder's big rungs (flat 32-44 s at 50 k-800 k — BENCH_NOTES
    §r8) AND ~1.3 s/pass of pure Catalyst/codegen overhead at
    fixture sizes (measured r9). Now training cost is capped and the
    corpus pays one assignment scan. At fixture sizes
    (n <= IVF_TRAIN_TARGET) the shift is 0 and the training set is the
    full corpus, so the trained centroids are identical to the
    pre-r9 full-corpus Lloyd's.

    Init: the k training vectors with the smallest portable hash of
    their id — a deterministic uniform sample (no rand(), so re-runs
    and the oracle replay both hold). Assignment ties break toward
    the smaller list_id in BOTH passes via numpy argmax-first (the
    driver-local Lloyd here and the distributed final assignment's
    :func:`_assign_arrow` mapInPandas argmax — the r11 decision that
    retired both Catalyst expression forms). Empty lists are RE-SEEDED
    each pass from the largest list's farthest member (lowest rounded
    cosine to its new centroid; ties break to the smaller vec_id; the
    i-th missing list id takes the i-th farthest). The oracle replays
    the same rule as a per-pass CTE over its ``train`` CTE.

    Cross-engine determinism (what makes the DuckDB oracle possible):
    assignment similarities are ROUNDED to 6 decimals before the
    argmax, and centroid means are rounded to 6 decimals after each
    recompute. The driver-side dot products and norms fold
    LEFT-TO-RIGHT ACROSS DIMENSIONS (:func:`_ivf_lloyd_numpy` loops dims,
    vectorizing across rows), so they are bit-identical to Spark's
    sequential ``aggregate(zip_with(...))`` fold and DuckDB's
    left-to-right ``list_sum`` — the only order-divergent quantity is
    the centroid MEAN (numpy row-order sum vs DuckDB's scan-order
    AVG), exactly the divergence the 6-decimal rounding has bridged
    since r6 (Spark's partition-order avg merge had the same
    property). Rounding itself is HALF-UP away from zero in all
    three engines (numpy's banker's ``np.round`` is NOT used).
    """
    # NOT parallelize_narrow_scan'd: base is deliberately unpersisted
    # (pipelined re-scan for the final assignment — persisting the
    # corpus is the cost this design avoids at 100 TB)
    base = emb.select("vec_id", "v")
    cents, centroids = train_ivf_cents(base, k=k, iters=iters, n_rows=n_rows)
    # Assignment strategy: the Arrow-batched numpy argmax, at EVERY
    # size (r11 decision — BENCH_NOTES §r11-assign-arrow). Three forms
    # were measured head-to-head (decision table below): the
    # r6 crossJoin (interpreted per-pair HOF folds), the r10 literal
    # expression matrix (whole-stage-codegen'd — but janino REFUSES to
    # compile it at k>=128 and Spark silently falls back row-based:
    # 45.5 s at 1.2 M x 256 where Arrow takes 7.44 s), and the Arrow
    # form. Arrow won every cell, including the 6 k x 16 fixture
    # regime (0.58 vs crossJoin's 0.82 s exec, with a ~0.03 s plan
    # constant vs 0.17-3.3 s Catalyst analysis for the expression
    # forms) — so there is no crossover to gate on, and the retired
    # forms were dropped.
    #
    # The lazy localCheckpoint is the index materialization: the
    # assignment IS the IVF index — at 100 TB it would be persisted
    # to storage at build time anyway; downstream routing + search
    # joins reuse it without re-running the scan+assign (and without
    # double-paying the Python workers). Blocks stay pinned until
    # ContextCleaner GC; loops that rebuild the index per run sweep
    # them with session.release_pinned_rdds() AFTER collecting
    # results (the bench/ladder repeat loops do).
    if not cents:
        # no trained centroids (empty or all-zero-norm training set):
        # nothing can be assigned
        assign = base.limit(0).selectExpr(
            "vec_id", "v", "CAST(0 AS INT) AS list_id"
        )
    else:
        assign = _assign_arrow(base, cents).localCheckpoint(eager=False)
    return assign, centroids


# r11 decision record (BENCH_NOTES §r11-assign-arrow, dim 64, exec
# min-of-2, corpus-generation baseline included in every cell):
#
#   n x k          crossJoin   literal-expr   arrow
#   6 k x 16         0.82         —            0.58
#   96 k x 16        1.78         —            0.64
#   50 k x 32        —            2.26         0.67
#   200 k x 64       —            5.64         1.07
#   1.2 M x 32       —            4.53         2.53
#   1.2 M x 96       —           17.45         —
#   1.2 M x 128      —           15.5*         3.85
#   1.2 M x 256      —           45.5*         7.44
#
# (*) janino refuses to compile the literal argmax at k>=128 (64 KiB
# method limits; 'Failed to compile' ERROR, then a silent row-based
# fallback — the ADVICE-r10 pathology, confirmed one k-doubling
# earlier than the clamp). Arrow wins EVERY cell — there is no
# crossover — so the expression forms were retired and the engine
# ships one assignment pass. Plan-build constants:
# arrow ~0.03 s vs 0.17-3.3 s (k-proportional Catalyst analysis).


def _assign_arrow(
    base: DataFrame, cents: list[tuple[int, list[float]]]
) -> DataFrame:
    """THE assignment pass: each vector labeled with its
    argmax-cosine centroid (ties to the smaller list_id), computed in
    Arrow-batched numpy via ``mapInPandas`` — the §2.9
    vectorized-Python path. Chosen over both Catalyst expression
    forms on measurement (decision table above): the r6
    crossJoin evaluated aggregate/zip_with INTERPRETED per
    (row x centroid), and the r10 literal expression matrix — built
    precisely to dodge that — stops compiling at k>=128 and pays a
    k-proportional Catalyst analysis constant besides.

    Selection parity is the :func:`_ivf_lloyd_numpy` contract: norms fold
    LEFT-TO-RIGHT ACROSS DIMS; dots run as ONE BLAS matmul whose
    SELECTION is guaranteed bit-identical to the parity chain
    (left-to-right fold → round half-up to 6 decimals → first-max
    argmax, ties to the smaller list_id — the oracle's ``ROW_NUMBER()
    OVER (ORDER BY ROUND(sim, 6) DESC, list_id ASC)``) by a top-2-gap
    bound: a row whose BLAS gap exceeds 2e-6 provably selects the
    same list under the exact rounded sims (inline proof at the call
    site), and every row inside the band — rounded ties, NaN,
    zero-norm — is recomputed with the pre-r13 parity fold verbatim
    (``fold_rows``). Cross-engine-pinned by the IVF/IVF-PQ parity
    pytests and the boundary-crafted BLAS pytest.
    Zero-norm vectors (all-NaN sim row) take the smallest trained id
    (DuckDB's zero-norm list_cosine_similarity is exactly -1.0 for
    every centroid, so all ranks tie and list_id ASC wins there too;
    pytest-pinned). Map-only: duplicates of a malformed repeated
    vec_id are kept (the embeddings key contract makes the case
    unreachable; documented since r10).

    100 TB reading: one Arrow round-trip of the corpus through the
    Python workers per index BUILD (not per query) — the per-row cost
    is measured 4-6x BELOW the best JVM expression form, the batches
    stream (no per-executor materialization beyond one Arrow batch),
    and the result is checkpointed as the index. The conventional
    "UDFs are the slow path" rule is about per-row Python; a
    vectorized numpy argmax over 10k-row Arrow batches is the §2.9
    exception the guide prescribes."""
    cs = sorted(cents)
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in base.schema.fields
    ) + ", list_id int"

    def assign_batches(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            yield pdf.assign(
                list_id=assign_labels_np(pdf["v"].tolist(), cs)
            )

    return base.mapInPandas(assign_batches, out_schema)


def assign_labels_np(vecs, cents_sorted):
    """The guarded-BLAS assignment kernel, one Arrow batch's worth:
    ``vecs`` is a sequence of dim-length vectors, ``cents_sorted`` a
    list of (list_id, centroid) SORTED by list_id; returns an int32
    label per row. Module-level and Spark-free on purpose — the
    hypothesis property suite drives THIS function (the exact code
    every Arrow batch runs) against the pure parity fold.

    r13 (VERDICT r12 item 4): the bulk dot products run as ONE BLAS
    matmul, with bit-exact parity GUARANTEED by a top-2-gap bound +
    exact-fold fallback rather than by fold order. BLAS sums in an
    unspecified order, so acc_blas differs from the parity fold by at
    most 2·γ_d·Σ|v_i·c_i| per entry (standard fp dot-product bound,
    γ₆₄ = 64u/(1-64u) ≈ 7.1e-15), hence the cosine — same nv/nc in
    both paths, Σ|v·c| <= ‖v‖‖c‖ — by δ <= ~1.5e-14. The selection
    (first max of the 6-decimal-rounded exact sims) needs NO rounding
    at all on a row whose BLAS top-2 gap exceeds 2e-6: for every
    j != top, r6(x_e[top]) - r6(x_e[j]) >= gap - 1e-6 - 2δ > 0, so
    ``top`` is the UNIQUE max of the rounded exact row and tie-breaks
    never fire. Rows inside the band (rounded ties, duplicates of
    centroids, NaN/zero-norm rows — NaN compares False into
    ``unsafe``) are recomputed with the pre-r13 parity fold + round6
    + first-max argmax VERBATIM. Net: the fold's 64 column passes and
    the full-matrix round6 both collapse to one BLAS kernel + three
    cheap passes for the ~all-safe bulk (measured 6.5 -> 3.7 s at
    2M x 256, §r13-blas-assign), and worst case (every row inside the
    band) degrades to the fold plus one matmul, never to wrong
    labels."""
    import numpy as np

    from stream_processing_test_spark.llm.hashing import round6_np

    C = np.array([c for _, c in cents_sorted], dtype=np.float64)  # k × d
    ids_arr = np.array([lid for lid, _ in cents_sorted], dtype=np.int64)
    k, dim = C.shape
    # centroid norms: left-to-right fold per centroid (same
    # sequential-across-dims discipline as seq_norm)
    nc = np.zeros(k)
    for j in range(dim):
        nc = nc + C[:, j] * C[:, j]
    nc = np.sqrt(nc)

    def fold_rows(Vc):
        """The PARITY-DEFINING dot fold: left-to-right across dims
        (vectorized across rows — bit-identical to aggregate/
        zip_with, list_sum, and the oracle's list arithmetic),
        cache-blocked across rows only (BENCH_NOTES
        §r12-ivfpq-attrib: L2-sized accumulator, same IEEE adds in
        the same per-row order)."""
        R = max(64, 131072 // (2 * k + dim))
        m = len(Vc)
        acc = np.empty((m, k))
        tmp = np.empty((min(R, m), k))
        for s0 in range(0, m, R):
            Vb = Vc[s0 : s0 + R]
            mb = len(Vb)
            ab = acc[s0 : s0 + mb]
            ab[:] = 0.0
            tb = tmp[:mb]
            for j in range(dim):
                np.multiply(Vb[:, j : j + 1], C[None, :, j], out=tb)
                ab += tb
        return acc

    V = np.array(list(vecs), dtype=np.float64)
    n = len(V)
    nv = np.zeros(n)
    for j in range(dim):
        nv += V[:, j] * V[:, j]
    np.sqrt(nv, out=nv)
    acc = V @ C.T
    denom = nv[:, None] * nc[None, :]
    rows = np.arange(n)
    with np.errstate(invalid="ignore", divide="ignore"):
        x = acc / denom
        top = np.argmax(x, axis=1)
        xm = x[rows, top]
        x[rows, top] = -np.inf
        x2 = x.max(axis=1)
        unsafe = ~((xm - x2) > 2e-6)
    lab = ids_arr[top]
    if unsafe.any():
        with np.errstate(invalid="ignore", divide="ignore"):
            xu = fold_rows(V[unsafe]) / denom[unsafe]
            su = round6_np(xu)
        lab[unsafe] = ids_arr[np.argmax(su, axis=1)]
    lab[nv == 0.0] = ids_arr[0]  # zero-norm → smallest id
    return lab.astype(np.int32)


def lloyd(ids, vecs, order, k, iters, score, sign):
    """THE driver-local Lloyd loop behind both trainers: IVF's
    spherical k-means (:func:`_ivf_lloyd_numpy`: rounded cosine,
    ``sign=+1``) and PQ's per-subspace L2 k-means
    (``pq._pq_lloyd_numpy``: rounded squared L2, ``sign=-1``). ``order``
    ranks the rows of ``vecs`` for seeding (id j starts at row
    ``order[j]``); ``score(A, C)`` is the (|A|, |C|) rounded score
    matrix.

    Each pass labels every row with the first argmax of ``sign *
    score`` (ties to the smaller id) and rounds member means to 6
    decimals HALF-UP. Empty ids re-seed from the largest list's (ties:
    smaller id) members by ``(sign * score, vec_id)`` ascending — least
    similar first; the i-th missing id takes the i-th member, and ids
    beyond the members are dropped (the corpus-smaller-than-k case).
    The DuckDB oracle CTEs replay the same rules.

    Yields the ``{id: centroid}`` map once seeded and after each pass,
    so a caller can police every pass (IVF's zero-centroid check); the
    last map is the trained model."""
    import numpy as np

    from stream_processing_test_spark.llm.hashing import round6_np as round6

    cents = {j: vecs[order[j]].copy() for j in range(min(k, len(order)))}
    yield cents
    for _ in range(iters):
        clist = sorted(cents)
        S = sign * score(vecs, np.array([cents[j] for j in clist]))
        lab = np.array(clist, dtype=np.int64)[np.argmax(S, axis=1)]
        new = {}
        for j in clist:
            members = vecs[lab == j]
            if len(members):
                new[j] = round6(np.add.reduce(members, axis=0) / len(members))
        missing = [j for j in range(k) if j not in new]
        if missing:
            big = min(new, key=lambda j: (-int(np.sum(lab == j)), j))
            sel = np.flatnonzero(lab == big)
            s = sign * score(vecs[sel], new[big][None, :])[:, 0]
            far = sorted(zip(s.tolist(), ids[sel].tolist(), sel.tolist()))
            for r, j in enumerate(missing):
                if r < len(far):
                    new[j] = vecs[far[r][2]].copy()
        cents = new
        yield cents


def _ivf_lloyd_numpy(
    id_vecs: list[tuple[int, list[float]]], k: int, iters: int
) -> list[tuple[int, list[float]]]:
    """Driver-local spherical k-means over the (bounded) training
    sample, float-compatible with the distributed/DuckDB twins: the
    :func:`lloyd` loop under rounded cosine.

    Fold-order contract: every dot product and norm accumulates
    left-to-right across dimensions (the ``for j in range(dim)`` loops
    below — vectorized across ROWS, sequential across DIMS), making
    each similarity bit-identical to Spark's
    ``aggregate(zip_with(v, c, (x,y) -> x*y), 0D, +)`` and DuckDB's
    left-to-right ``list_sum``; similarities and means are rounded to
    6 decimals HALF-UP before any comparison, so all engines feed
    identical doubles into every argmax."""
    import numpy as np

    from stream_processing_test_spark.llm.hashing import phash_py

    if not id_vecs:  # empty corpus: no lists (assign of nothing follows)
        return []
    ids = np.array([i for i, _ in id_vecs], dtype=np.int64)
    vecs = np.array([v for _, v in id_vecs], dtype=np.float64)
    # Zero-norm vectors carry no direction, so spherical k-means can
    # neither seed from them nor meaningfully pull a mean toward them —
    # and a zero-norm CENTROID would make every cosine in its column
    # NaN/NULL, a cross-engine ordering case no oracle pins (ADVICE
    # r10). Excluded from TRAINING by construction here and by the
    # twin ``ctrain`` CTE in :func:`_ivf_lloyd_ctes`; they remain in
    # the INDEX via the assignment pass's NULL-sim rule (smallest
    # trained list — pytest-pinned). The ``> 0`` test is
    # order-independent (sum of squares is zero iff every term is).
    keep = np.add.reduce(vecs * vecs, axis=1) > 0
    ids, vecs = ids[keep], vecs[keep]
    if not len(ids):  # all-zero training sample: no trainable lists
        return []
    dim = vecs.shape[1]

    from stream_processing_test_spark.llm.hashing import round6_np as round6

    def seq_dot(A: "np.ndarray", B: "np.ndarray") -> "np.ndarray":
        # (ma,d) x (mb,d) -> (ma,mb), accumulated left-to-right over d
        acc = np.zeros((A.shape[0], B.shape[0]))
        for j in range(dim):
            acc = acc + A[:, j : j + 1] * B[None, :, j]
        return acc

    def seq_norm(A: "np.ndarray") -> "np.ndarray":
        acc = np.zeros(A.shape[0])
        for j in range(dim):
            acc = acc + A[:, j] * A[:, j]
        return np.sqrt(acc)

    def cosine(A: "np.ndarray", C: "np.ndarray") -> "np.ndarray":
        # dot / (norm_a * norm_b): norms multiplied FIRST, then one
        # divide — the exact expression shape of cosine()/the oracle
        return round6(
            seq_dot(A, C) / (seq_norm(A)[:, None] * seq_norm(C)[None, :])
        )

    # seeds: the k smallest (portable hash, id) training vectors
    order = sorted(
        range(len(ids)), key=lambda i: (phash_py(str(int(ids[i]))), int(ids[i]))
    )
    for cents in lloyd(ids, vecs, order, k, iters, cosine, 1):
        # Mean-of-members cancellation (opposed vectors averaging to
        # the rounded zero vector) is the one remaining zero-centroid
        # path; fail LOUDLY rather than hand a NaN-similarity column
        # to the NEXT pass's argmax (numpy's first-NaN argmax would
        # silently diverge from the oracle's -1.0 ordering, and a
        # centroid that later drifted off zero would mask the episode
        # entirely — so the check runs on EVERY pass's state, not on
        # the final one). Seeds/reseeds are corpus vectors, made
        # non-zero by the training filter above.
        for j, c in cents.items():
            if not np.any(c):
                raise ValueError(
                    f"spherical k-means produced a zero-norm centroid "
                    f"for list {j}: member directions cancelled; this "
                    f"corpus needs a different k or a non-cosine metric"
                )
    return [(j, [float(x) for x in c]) for j, c in sorted(cents.items())]


def route_queries(
    queries: DataFrame,
    centroids: DataFrame,
    n_probe: int,
    carry_qv: bool = False,
) -> DataFrame:
    """Query→list routing shared by :func:`ivf_topk` and the IVF-PQ
    composition (pq.ivfpq_topk): each query keeps its ``n_probe`` most-similar coarse
    centroids (round-6 cosine desc, list_id asc — the exact tie-break
    ``params.probed_cte`` replays). ``centroids`` is the k-row
    driver-held relation from :func:`kmeans_lists`, so the crossJoin
    is |queries|×k broadcast rows. Returns (query_id, list_id) plus
    ``qv`` when ``carry_qv`` (the probed-search form)."""
    keep = ["query_id", "qv", "list_id"] if carry_qv else ["query_id", "list_id"]
    w_route = Window.partitionBy("query_id").orderBy(
        F.col("c_sim").desc(), F.col("list_id").asc()
    )
    return (
        queries.crossJoin(F.broadcast(centroids))
        .select(
            *keep,
            F.round(cosine(F.col("qv"), F.col("centroid")), 6).alias("c_sim"),
        )
        .withColumn("pr", F.row_number().over(w_route))
        .filter(F.col("pr") <= n_probe)
        .select(*keep)
    )


def ivf_topk(
    emb: DataFrame,
    queries: DataFrame,
    n_lists: int = IVF_LISTS,
    n_probe: int = N_PROBE,
    top_k: int = TOP_K,
    large_batch: bool = False,
) -> DataFrame:
    """IVF search core: k-means lists + probed-list exact scoring.
    ``emb`` is (vec_id, v); ``queries`` is (query_id, qv).

    ``large_batch`` adapts the plan for big query batches, where
    |queries| x probed-list size makes the scored relation huge (the
    r13 ann_index_append rung: 20k queries x 180k base = 113M scored
    rows). Two lossless changes: (1) the assignment is round-robin
    repartitioned to 2x parallelism before the probe join — the
    broadcast join doesn't care about partitioning, but per-LIST task
    skew does (queries probe popular lists in proportion to their
    size, so per-list work grows ~|list|x|probers| and a handful of
    tasks otherwise carry the whole scoring fold — measured as a
    4-task straggler holding the rung at 470 s); (2) the final
    per-query top-k runs as a two-phase salted window (the
    ``vocab_top_ngrams`` pattern): local top-k within (query_id,
    hash(neighbor_id) % 32) buckets, then the global window over
    <= 32*k rows per query — any global top-k row ranks <= k in its
    own bucket under the identical (cos DESC, neighbor_id ASC)
    ordering, so results and oracle are unchanged. Default off: at
    interactive batch sizes the extra exchanges cost more than the
    skew they relieve."""
    assign, centroids = kmeans_lists(emb, k=n_lists)
    # centroids is a driver-held broadcast LocalRelation (k rows — see
    # kmeans_lists), so query routing no longer hangs off the
    # assignment lineage: the assignment is consumed exactly once (the
    # probed-list search below) and stays pipelined — no persist, no
    # second materialization.
    lists = assign

    probed = route_queries(queries, centroids, n_probe, carry_qv=True)

    if large_batch:
        # break per-list scoring skew: round-robin the assignment so
        # the probe join's fold work spreads over every core (the
        # broadcast hash join is partitioning-agnostic; values and
        # row set are untouched)
        lists = lists.repartition(
            2 * emb.sparkSession.sparkContext.defaultParallelism
        )

    # Exact cosine over the probed lists only (equi-join on list id).
    sims = (
        lists.join(F.broadcast(probed), "list_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(cosine(F.col("qv"), F.col("v")), 4).alias("cos_sim"),
        )
    )
    if large_batch:
        wl = Window.partitionBy("query_id", "salt").orderBy(*tie_break())
        sims = (
            sims.withColumn(
                "salt", F.pmod(F.hash("neighbor_id"), F.lit(32))
            )
            .withColumn("rk1", F.row_number().over(wl))
            .filter(F.col("rk1") <= top_k)
            .drop("salt", "rk1")
        )
    return finish_with(rank_top_k(sims, "query_id", top_k))


def _ivf_lloyd_ctes(n_lists: int | None = IVF_LISTS) -> tuple[str, str]:
    """The spherical-k-means CTE chain shared by the IVF oracle and
    the IVF-PQ composition's oracle: ``seeds`` → ``IVF_ITERS`` ×
    (assign → recompute → reseed) over the ``train`` CTE →
    ``assign_final`` over the full ``esig``. Returns ``(sql,
    final_cents_name)``. ``n_lists=None`` (the composition's mode)
    bounds the list count DYNAMICALLY from the ``nl(lists)`` CTE
    (:func:`auto_lists_ctes`, which the caller must include): the
    seed window and the reseed id range are generated out to
    IVF_LISTS_MAX and filtered by ``nl`` — the oracle replays
    whatever list count the Spark side's count probe implies.
    Float/ordering contract documented at :func:`kmeans_lists`."""
    if n_lists is None:
        seed_bound = "(SELECT lists FROM nl)"
        range_lists = IVF_LISTS_MAX
        range_bound = f" AND t.list_id < {seed_bound}"
    else:
        seed_bound = str(n_lists)
        range_lists = n_lists
        range_bound = ""

    def assign(name: str, cents: str, src: str = "ctrain") -> str:
        return f"""{name} AS (
    SELECT vec_id, v, list_id FROM (
        SELECT e.vec_id, e.v, c.list_id,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                   ORDER BY ROUND(list_cosine_similarity(e.v, c.centroid), 6) DESC,
                            c.list_id ASC) AS rn
        FROM {src} e CROSS JOIN {cents} c) WHERE rn = 1
)"""

    def recompute(name: str, assigned: str) -> str:
        return f"""{name} AS (
    SELECT list_id, list(m ORDER BY pos) AS centroid FROM (
        SELECT list_id, pos, ROUND(AVG(v[pos+1]), 6) AS m
        FROM {assigned}, range({EMBED_DIM}) rr(pos)
        GROUP BY list_id, pos)
    GROUP BY list_id
)"""

    def reseed(name: str, assigned: str, raw: str) -> str:
        # empty-list re-seed, mirroring kmeans_lists.reseed_missing:
        # the i-th missing list id takes the i-th farthest member of
        # the largest list (rounded cosine asc, vec_id asc).
        return f"""{name}_rs AS (
    SELECT m.list_id, f.v AS centroid
    FROM (SELECT t.list_id, ROW_NUMBER() OVER (ORDER BY t.list_id) AS r
          FROM range({range_lists}) t(list_id)
          WHERE t.list_id NOT IN (SELECT list_id FROM {raw}){range_bound}) m
    JOIN (SELECT a.vec_id, a.v, ROW_NUMBER() OVER (
              ORDER BY ROUND(list_cosine_similarity(a.v, c.centroid), 6) ASC,
                       a.vec_id ASC) AS r
          FROM {assigned} a
          JOIN (SELECT list_id FROM (SELECT list_id, COUNT(*) AS n
                                     FROM {assigned} GROUP BY list_id)
                ORDER BY n DESC, list_id ASC LIMIT 1) big
            ON a.list_id = big.list_id
          JOIN {raw} c ON c.list_id = a.list_id) f
      ON m.r = f.r
),
{name} AS (SELECT * FROM {raw} UNION ALL SELECT * FROM {name}_rs)"""

    steps = [
        # ctrain: the zero-norm training filter — the SQL twin of
        # _ivf_lloyd_numpy's `keep` mask (docstring there carries the
        # rationale; sum-of-squares > 0 is order-independent).
        """ctrain AS (
    SELECT vec_id, v FROM train
    WHERE list_sum(list_transform(v, x -> x * x)) > 0
)""",
        f"""seeds AS (
    SELECT list_id, centroid FROM (
        SELECT (ROW_NUMBER() OVER (ORDER BY h, vec_id) - 1) AS list_id,
               v AS centroid
        FROM (SELECT vec_id, v,
                     CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15) AS BIGINT) AS h
              FROM ctrain))
    WHERE list_id < {seed_bound}
)"""
    ]
    cents = "seeds"
    for i in range(IVF_ITERS):
        steps.append(assign(f"assign{i}", cents))
        cents = f"cent{i + 1}"
        steps.append(recompute(f"{cents}_raw", f"assign{i}"))
        steps.append(reseed(cents, f"assign{i}", f"{cents}_raw"))
    steps.append(assign("assign_final", cents, src="esig"))
    return ",\n".join(steps), cents


def _ivf_oracle() -> str:
    """DuckDB oracle replaying the WHOLE IVF pipeline — including the
    iterative k-means quantizer, unrolled into ``IVF_ITERS`` assign/recompute
    CTE pairs (:func:`_ivf_lloyd_ctes`). Possible because every
    cross-engine float hazard is rounded away at the source (see
    :func:`kmeans_lists`): seed choice is the portable hash,
    assignment sims round to 6 decimals before the argmax, centroid
    means round to 6 decimals, so both engines iterate over
    bit-identical doubles. Since r9 the Lloyd CTEs run over the
    ``train`` CTE — the same integer-rule hash sample the Spark side
    gates (:func:`_train_shift_ctes` recomputes
    :func:`auto_train_shift` from the oracle's own COUNT(*)) — and
    only ``assign_final`` scans the full ``esig``."""
    lloyd, cents = _ivf_lloyd_ctes()

    return f"""
WITH esig AS (
    {VECTORS_SQL}
),
{_train_shift_ctes()},
{lloyd},
{query_cte("esig")},
{probed_cte(cents, N_PROBE, carry_qv=True)},
{probed_sims_cte("sims")},
{ranked_cte("ranked", "sims", "query_id")}
{topk_select("ranked", "query_id", TOP_K)}
"""


@register(
    "ann_ivf_topk", oracle=_ivf_oracle(), survey_ops="§7-similarity,IVF", tier=1
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: the corpus is partitioned into IVF_LISTS inverted lists
    by a real (deterministic, Spark-native) k-means pass
    (:func:`kmeans_lists`), each list summarized by its centroid. A
    query probes only the N_PROBE nearest centroids and exact-scores
    just those lists.

    Scale shape (the part that matters at 100 TB): quantizer training
    runs on a deterministic hash sample capped at IVF_TRAIN_TARGET
    rows (see :func:`kmeans_lists` — training cost no longer grows
    with the corpus), then ONE full-corpus assignment scan with
    broadcast centroids (the shuffle carries |corpus| assignment rows
    and k*dim centroid rows — never vector pairs); per-query search
    work is |corpus| x nprobe / |lists| instead of |corpus|, and
    candidate generation is an equi-join on the list id, not a
    crossJoin. All vector math stays JVM-side (aggregate/zip_with).

    Oracle-checked END TO END, k-means included: the quantizer is
    deterministic and float-stable (rounded sims/means — see
    :func:`kmeans_lists`), so the DuckDB oracle (:func:`_ivf_oracle`)
    unrolls the Lloyd iterations into CTE pairs and replays seeds →
    assignments → centroids → routing → probed search bit-for-bit.
    pytest additionally validates the recall floor on this corpus AND
    real routing gain (recall@10 well above nprobe/n_lists) on a
    clustered corpus where structure exists — see
    test_ivf_routing_gain_on_clustered_corpus. On the driver's
    near-orthogonal random vectors no routing structure exists, so
    recall sits at the fraction-searched floor by construction.

    N_PROBE=2 is a DECLARED CONSTANT here, not an auto-rule (the r10
    decision closing VERDICT r9 item 1's IVF half): unstructured-
    corpus recall is floored at the fraction searched BY GEOMETRY, so
    no corpus-size rule can hold a recall floor without paying probed
    work for it — the full decision record is in REGISTRY.md
    §parameter-policies. Since r14 the AUTO-SIZED operating point has
    its own registered escalation dial, ``ann_ivf_auto_probe``
    (:func:`auto_probe` — fraction searched held at 1/PROBE_DIV, the
    linear-work price stated and ladder-measured); n_probe also stays
    a plain parameter of :func:`ivf_topk` / :func:`pq.ivfpq_topk` for
    deployments that choose differently.
    """
    emb = load_vectors(spark, sf_dir)
    return ivf_topk(emb, query_set(emb))


def _ivf_auto_probe_oracle() -> str:
    """DuckDB oracle for the auto-scaled IVF operating point: the
    dynamic-list Lloyd chain (``_ivf_lloyd_ctes(n_lists=None)``
    bounded by the ``nl`` CTE) plus the ``npr`` CTE replaying
    :func:`auto_probe` — both integer rules recomputed from the
    oracle's own COUNT(*), so the replay holds at any corpus size."""
    lloyd, cents = _ivf_lloyd_ctes(n_lists=None)
    return f"""
WITH esig AS (
    {VECTORS_SQL}
),
{_train_shift_ctes()},
{auto_lists_ctes()},
{auto_probe_ctes()},
{lloyd},
{query_cte("esig")},
{probed_cte(cents, "(SELECT probes FROM npr)", carry_qv=True)},
{probed_sims_cte("sims")},
{ranked_cte("ranked", "sims", "query_id")}
{topk_select("ranked", "query_id", TOP_K)}
"""


@register(
    "ann_ivf_auto_probe",
    oracle=_ivf_auto_probe_oracle(),
    survey_ops="§7-similarity,IVF",
    tier=0,  # new in r14
)
def ann_ivf_auto_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN at the AUTO-SCALED operating point: lists from
    :func:`auto_lists` (probed work ~ sqrt(n) at fixed n_probe) and
    probes from :func:`auto_probe` (searched fraction held at
    >= 1/PROBE_DIV) — the hold-recall escalation dial the fixed-probe
    ``ann_ivf_topk`` deliberately lacks (VERDICT r13 item 3; the r10
    'N_PROBE is a constant' decision record still governs the FIXED-
    list registered query — this one is the measured answer for
    deployments that size lists automatically and need the recall
    floor held while doing it). Both integer rules replay in the
    DuckDB oracle from its own COUNT(*); recall-vs-wall is priced on
    the vec ladder's ``ivfprobe`` arm. At fixture sizes auto_lists
    resolves to 16 and auto_probe(16) = N_PROBE = 2, so the selection
    and hashes coincide with ``ann_ivf_topk`` — the rules, not the
    fixture plans, are what this query registers."""
    emb = load_vectors(spark, sf_dir)
    lists = auto_lists(emb.select("vec_id").count())
    return ivf_topk(
        emb, query_set(emb), n_lists=lists, n_probe=auto_probe(lists)
    )


# --------------------------------------------------------------------
# Measured ANN path selection (VERDICT r12 item 3; surface re-measured
# r14 after the encode kernel + gather rewired the PQ path; r15 adds
# the AUTO-PROBE ivf arm — the operating point the dispatcher's IVF
# branch now runs — and re-prices the surface with it)
#
# The qbatch experiment (BENCH_NOTES §r15-qbatch) times brute / PQ /
# IVF END-TO-END per call (train + encode + search, nothing
# amortized) on the same query sets at B = 5/64/512 over 50k-, 200k-
# and 2M-vector corpora. QBATCH_MEASURED holds those walls verbatim;
# the selector's thresholds are read off them, and the pytest asserts
# the selector picks each measured cell's winner (among its
# admissible paths), so a re-measure that moves a crossover FAILS the
# test until the thresholds are re-derived.

#: end-to-end walls in seconds from BENCH_NOTES §r15-qbatch,
#: keyed (n_rows, n_queries) -> {path: wall}; None = the arm was
#: capped (candidate/gather volume), recorded as a skip, never
#: silent. "ivfauto" is the arm the dispatcher's IVF branch RUNS
#: (auto_lists + auto_probe — the recall-holding operating point);
#: "ivf" is the fixed-N_PROBE arm at the same auto lists, kept as
#: the reference the recall evidence prices against. The 2M brute/pq
#: cells are CARRIED from the r14 surface (labeled in BENCH_NOTES —
#: every fresh-vs-carried comparison there has a >=2x margin, beyond
#: observed session drift; the B=512 skips are deterministic caps).
QBATCH_MEASURED: dict[tuple[int, int], dict[str, float | None]] = {
    (50_000, 5): {"brute": 0.86, "pq": 2.83, "ivf": 2.06, "ivfauto": 2.23},
    (50_000, 64): {"brute": 2.86, "pq": 2.57, "ivf": 2.05, "ivfauto": 2.25},
    (50_000, 512): {"brute": 16.24, "pq": 5.36, "ivf": 2.91, "ivfauto": 3.66},
    (200_000, 5): {"brute": 1.15, "pq": 2.98, "ivf": 2.07, "ivfauto": 2.02},
    (200_000, 64): {"brute": 7.75, "pq": 4.34, "ivf": 2.34, "ivfauto": 2.91},
    (200_000, 512): {
        "brute": 77.4, "pq": 30.13, "ivf": 4.11, "ivfauto": 9.52,
    },
    (2_000_000, 5): {
        "brute": 9.11, "pq": 11.64, "ivf": 7.88, "ivfauto": 18.87,
    },
    (2_000_000, 64): {
        "brute": 129.21, "pq": 78.17, "ivf": 9.27, "ivfauto": 24.47,
    },
    (2_000_000, 512): {
        "brute": None, "pq": None, "ivf": 16.3, "ivfauto": 105.23,
    },
}

#: arms the default dispatcher can actually run, mapped to their
#: measured column: the IVF branch executes the auto-probe operating
#: point since r15.
DISPATCH_ARMS: dict[str, str] = {
    "brute": "brute",
    "pq": "pq",
    "ivf": "ivfauto",
}

#: the r14 surface's headline: brute wins EVERY measured B=5 cell —
#: for a one-shot call both paths pay ~one corpus scan (the index
#: build's assignment pass IS a scan) and brute's scan skips training,
#: so within the measured range the brute region is BATCH-bounded,
#: not corpus-bounded. This ceiling marks where the measurements end:
#: past 2M the one-shot argument still extrapolates (both sides
#: linear in n), but it is unmeasured, and a corpus that size implies
#: repeated use — route to the index and amortize (the standing-index
#: shape ann_index_append/ivfpq_search serve).
BRUTE_MAX_ROWS = 2_000_000
APPEND_ADC_ROWS = 12_000_000  # probed exact-score rows (|batch| ×
# n_probe × ⌈base/lists⌉) above which the append dispatches to the
# ADC path — the measured crossover (BENCH_NOTES §r14-append-adc):
# at 14.1M probed rows (vec_x1 rung) exact costs 14.0 s vs ADC
# 10.8 s at recall 1.0, and the gap widens with volume (121.3 s vs
# 67.9 s at 113M, recall 1.0); below fixture-scale estimates (~2.9k
# at sf0.01) exact is both cheaper (no PQ training to pay) and,
# being exact, preferred at parity — the same tie-break-toward-exact
# the BRUTE_MAX_ROWS decision recorded.
#
# SHARED since r15 (BENCH_NOTES §r15-ivfexec): the one-shot auto
# dispatcher's ivf branch uses the SAME integer as its exact-vs-ADC
# exec crossover — re-measured on that surface at the auto-probe
# operating point: ADC wins 5.44 vs 10.78 s at 12.8M probed rows
# (200k x 512), 11.32 vs 15.9 at 16M (2M x 64), 57.1 vs 105.2 at
# 128M (2M x 512, recall 0.996 vs the exact arm); at 3.2M
# (50k x 512) the arms tie within spread (3.84 vs 4.27) and the
# rule's exact side keeps the tie-toward-exact convention. One
# integer, two surfaces, both replayed in their oracles.
#: the batch size where an index's build repays brute's per-query
#: scan, re-derived r15 against the arm the dispatcher RUNS
#: (ivfauto). Brute is linear in B with a per-corpus slope (B=5→64:
#: 0.034/0.112/2.04 s·query at 50k/200k/2M) against ivfauto's
#: near-flat-to-shallow wall (slope 0.0003/0.015/0.095), so the true
#: crossover is corpus-dependent — interpolated B≈46/14/10, FALLING
#: with corpus size. One integer must serve the rule: 10 is the
#: 2M-corpus truth (the scale-binding cell, where a wrong brute pick
#: costs ~2 s/query) and errs toward the index at smaller corpora,
#: where the error is bounded by ivfauto's flat wall (≤1.4 s at
#: 50k×B=10 — brute 1.03 vs ivfauto 2.23).
INDEX_MIN_QUERIES = 10


def auto_path(
    n_rows: int, n_queries: int, need_recall_floor: bool = False
) -> str:
    """Pick the ANN execution path from corpus size and batch size —
    the measured decision surface of BENCH_NOTES §r15-qbatch as a
    rule.

    - Inside the brute region (``n_queries < INDEX_MIN_QUERIES`` and
      ``n_rows <= BRUTE_MAX_ROWS``): **brute** — exact, and the
      surface shows it winning every measured B=5 cell up to 2M
      vectors: a one-shot call pays ~one corpus scan either way (the
      index build's assignment pass IS a scan) and brute's scan
      skips training. The region is batch-bounded; the corpus bound
      marks where the measurements end (see the constants).
    - Outside it, ``need_recall_floor=False`` -> **ivf**, executed at
      the AUTO-PROBE operating point since r15 (VERDICT r14 item 2:
      auto_lists + :func:`auto_probe`, fraction searched pinned at
      1/PROBE_DIV — the registered ``ann_ivf_auto_probe``). The r15
      surface prices it winning every measured B>=64 cell among the
      dispatcher's arms (2.25/2.91/9.52 s at 50k/200k/2M x 512-ish
      vs pq 2.57/4.34/30.1, brute 2.86/7.75/77.4; at 2M x 64 it runs
      24.5 s vs pq's 78.2) while holding the recall the fixed-probe
      arm forfeits at scale (ivfprobe rung: 0.08 -> 0.50 at 200k,
      0.14 -> 0.68 at 2M). The wall price vs the fixed arm is stated
      in the same surface (ivf column: 2.4-6.5x at 2M) — a
      deployment that accepts geometry-floored recall calls
      :func:`ann_ivf_topk` / :func:`ivf_topk` directly.
    - ``need_recall_floor=True`` -> **pq**: auto_rerank's exact
      re-rank holds recall@10 >= 0.75 on the ladder corpora at any
      corpus structure (measured 0.98 at 2M), and PQ beat brute at
      every measured cell outside the brute region where it ran
      (78.2 vs 129.2 s at 2M x 64 — a cell the r12 path had to
      skip; the r14 gather removed its 16x pre-agg amplification).
      Its gather stream is linear in B (n x B rows); past the
      measured cap (5e8 rows — the shortlist sort is the binding
      cost) batch the query set.
    """
    if n_rows <= BRUTE_MAX_ROWS and n_queries < INDEX_MIN_QUERIES:
        return "brute"
    return "pq" if need_recall_floor else "ivf"


# --------------------------------------------------------------------
# The IVF execution ladder: how a routed batch's probed lists are
# scored — exact, probed ADC, or windowed ADC — shared by the one-shot
# dispatcher's ivf arm and the standing-index append.

APPEND_RERANK_CAP = 100_000_000  # |batch| × auto_rerank(base) rows the
# ADC branch's shortlist may materialize; past it the rerank drops to
# the PQ_RERANK floor (at vec_x40 the policy value would be 200k ×
# 15625 = 3.1G shortlist rows)

APPEND_SPILL_ROWS = 500_000_000  # probed gather rows above which the
# MONOLITHIC ADC composition is disk-bound and the dispatch windows
# the batch instead (VERDICT r14 item 3). Measured bracket
# (BENCH_NOTES §r14-append-adc): 1.13e8 gather rows complete in
# 67.9 s; the vec_x40 monolithic arm's 2.8e9 rows spill past this
# host's local disk (recorded skip). The cap sits at the same 5e8
# value the qbatch harness's PQ_GATHER_CAP uses for the identical
# shortlist-sort regime — inside the measured-completing side of the
# bracket with ~4x headroom, far under the measured-spilling side.
APPEND_WINDOW_QUERIES = 10_000  # queries per window above the spill
# ceiling — the MEASURED steady shape (BENCH_SCALE vec_x40
# append_windowed: ~1.4e8 probed rows/window, ~37 s/window steady
# against the standing index)


class Crossovers(NamedTuple):
    """The ladder's crossovers as one value. :func:`ivf_ladder` and
    its oracle replay (:func:`_ladder_ctes`) take the same tuple, so a
    test that lowers one to force an arm at fixture scale gates the
    arm it ran. The defaults are the measured constants above."""

    adc_rows: int = APPEND_ADC_ROWS
    spill_rows: int = APPEND_SPILL_ROWS
    window_queries: int = APPEND_WINDOW_QUERIES


def append_rerank(n_base: int, n_batch: int) -> int:
    """The ADC arms' shortlist rule: ``pq.auto_rerank`` over the BASE
    count (the hold-recall policy), floored to PQ_RERANK when
    |batch| × rerank would materialize more than APPEND_RERANK_CAP
    shortlist rows — the policy was priced per interactive query, and
    an ingest window multiplies it by the batch. Integer-exact;
    replayed by :func:`_ladder_ctes`."""
    from stream_processing_test_spark.llm.pq import PQ_RERANK, auto_rerank

    r = auto_rerank(n_base)
    return PQ_RERANK if n_batch * r > APPEND_RERANK_CAP else r


def ivf_ladder(
    base: DataFrame,
    q: DataFrame,
    n_base: int,
    n_batch: int,
    n_probe: int,
    large_batch: bool,
    crossovers: Crossovers = Crossovers(),
) -> DataFrame:
    """Search the ``n_batch`` queries ``q`` (query_id, qv) against the
    ``n_base`` vectors ``base`` (vec_id, v) through the scoring engine
    the probed volume calls for. Routing is the caller's — auto lists
    over the base, ``n_probe`` probes per query — and no arm changes
    it: the ladder picks how the probed lists are SCORED, never which
    candidates they hold. The estimate is the probed exact-score rows
    |batch| × n_probe × ⌈base/lists⌉, from counts already paid:

    - up to ``adc_rows`` (APPEND_ADC_ROWS): exact scoring,
      :func:`ivf_topk` — cheaper there (no PQ training to pay) and
      exact, the tie-toward-exact convention BRUTE_MAX_ROWS keeps too.
      ``large_batch`` is this arm's plan: off for an interactive query
      set, on for an ingest batch.
    - above it: the monolithic IVF-PQ composition
      (:func:`pq.ivfpq_topk`) — integer ADC over the probed lists'
      codes, an :func:`append_rerank` shortlist re-ranked exactly,
      always on the large-batch plan (it only fires at ingest-scale
      probed volume).
    - above ``spill_rows`` (APPEND_SPILL_ROWS), where that
      composition's one shortlist sort spills past local disk:
      :func:`_append_windowed` — the same ADC against an index built
      once, the batch streamed ``window_queries`` at a time.

    Queries score independently, so the windowed arm returns what the
    ADC arm would under the same rerank; the rule sees one window's
    batch, and wherever |batch| × auto_rerank is under
    APPEND_RERANK_CAP (the registered 5-query set always is) both
    equal auto_rerank. Each crossover's measurement sits at its
    constant. The DuckDB oracles replay the decision and the rerank
    from their own counts (:func:`_ladder_ctes`) and guard each arm's
    SELECT with it; the registered crossovers never leave the exact
    arm below ladder scale, so forced-crossover pytests gate the ADC
    and windowed arms cross-engine at fixture scale."""
    lists = auto_lists(n_base)
    probed_rows = n_batch * n_probe * ((n_base + lists - 1) // lists)
    if probed_rows > crossovers.spill_rows:
        return _append_windowed(
            base, q, n_base, n_batch, crossovers.window_queries, n_probe
        )
    if probed_rows > crossovers.adc_rows:
        from stream_processing_test_spark.llm.pq import ivfpq_topk

        return ivfpq_topk(
            base,
            q,
            n_probe=n_probe,
            rerank=append_rerank(n_base, n_batch),
            large_batch=True,
            n_rows=n_base,
        ).select("query_id", "neighbor_id", "cos_sim", "rk")
    return ivf_topk(
        base, q, n_lists=lists, n_probe=n_probe, large_batch=large_batch
    )


def _append_windowed(
    base: DataFrame,
    q: DataFrame,
    n_base: int,
    n_batch: int,
    window_queries: int,
    n_probe: int,
) -> DataFrame:
    """The ladder's windowed arm: build the IVFADC index ONCE
    (:func:`pq.ivfadc_index`, localCheckpointed), then stream the
    batch in ``window_queries``-sized windows through
    :func:`pq.ivfpq_search`, materializing each window's
    (|window| × top_k)-row result eagerly before starting the next so
    only ONE window's probed gather stream (~1.4e8 rows at the
    measured shape) holds shuffle disk at a time — the monolithic sort
    of all windows at once is exactly the measured disk-spill skip
    this path exists to avoid. A driver GC nudge per window lets the
    ContextCleaner release the finished window's shuffle files instead
    of letting them accumulate across the batch (periodic-GC default
    is 30 min — longer than the whole batch).

    Window membership is ``(query_id / INGEST_MOD) % n_chunks`` — the
    ingest ordinal under the registered split; for ANY id set it is a
    deterministic total partition (queries score independently, so
    membership never changes results)."""
    from stream_processing_test_spark.llm.pq import (
        _empty_topk,
        ivfadc_index,
        ivfpq_search,
    )
    from stream_processing_test_spark.session import (
        release_local_checkpoint,
    )

    spark = base.sparkSession
    index = ivfadc_index(base, n_base, auto_lists(n_base))
    if index is None:
        return _empty_topk(spark).select(
            "query_id", "neighbor_id", "cos_sim", "rk"
        )
    enc, centroids, rows = index
    enc = enc.localCheckpoint()
    n_chunks = max(1, (n_batch + window_queries - 1) // window_queries)
    rerank = append_rerank(n_base, min(n_batch, window_queries))
    parts: list[DataFrame] = []
    for i in range(n_chunks):
        win = q.filter(
            (F.col("query_id") / INGEST_MOD).cast("long") % n_chunks == i
        )
        parts.append(
            ivfpq_search(
                enc, centroids, rows, base, win,
                n_probe=n_probe, rerank=rerank, large_batch=True,
            )
            .select("query_id", "neighbor_id", "cos_sim", "rk")
            .localCheckpoint()  # eager: drives THIS window now
        )
        spark.sparkContext._jvm.System.gc()
    release_local_checkpoint(enc)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _ladder_ctes(crossovers: Crossovers) -> str:
    """DuckDB replay of :func:`ivf_ladder`'s decision and rerank over
    the oracle's ``nv(n)`` base count, ``nl(lists)`` and a one-row
    ``nb(b, probes)`` batch: ``ladder(path, rerank)``, path one of
    'exact' / 'adc' / 'windowed', rerank the :func:`append_rerank` of
    the batch — of one window on the windowed path. Each ladder
    oracle guards its exact SELECT with path 'exact' and its ADC tail
    with 'adc' or 'windowed' (one chain: see :func:`ivf_ladder`)."""
    from stream_processing_test_spark.llm.pq import PQ_RERANK, _rerank_cte

    rows = "b * probes * ((n + lists - 1) // lists)"
    return f"""{_rerank_cte()},
ladder AS (
    SELECT path,
           CASE WHEN CASE path WHEN 'windowed'
                          THEN LEAST(b, {crossovers.window_queries})
                          ELSE b END * rr.rerank > {APPEND_RERANK_CAP}
                THEN {PQ_RERANK} ELSE rr.rerank END AS rerank
    FROM (SELECT b, CASE WHEN {rows} > {crossovers.spill_rows} THEN 'windowed'
                         WHEN {rows} > {crossovers.adc_rows} THEN 'adc'
                         ELSE 'exact' END AS path
          FROM nv, nl, nb), rr
)"""


def _auto_oracle(
    crossovers: Crossovers = Crossovers(),
    brute_max: int = BRUTE_MAX_ROWS,
) -> str:
    """DuckDB oracle replaying :func:`auto_path` and, past the brute
    region, :func:`ivf_ladder` at the AUTO-PROBE operating point
    (dynamic lists via ``nl``, probes via ``npr``, the registered
    query set as the batch). Every reachable branch is computed and
    guarded by ``decision`` — brute, else the ladder's path — so at
    any corpus size the gate compares the SAME path the Spark side
    chose. ``crossovers``/``brute_max`` let the forced-arm pytest
    regenerate the oracle with a zero brute region and forced
    crossovers (the registered constants never reach ADC below ~19M
    vectors). Brute CTEs are prefixed ``b_`` to coexist with the
    ladder chain's."""
    from stream_processing_test_spark.llm.pq import (
        _adc_tail_sql,
        _probed_adc_ctes,
    )

    lloyd, cents = _ivf_lloyd_ctes(n_lists=None)
    adc_tail = _adc_tail_sql(
        "(SELECT rerank FROM ladder)",
        TOP_K,
        with_approx=False,
        guard=" AND (SELECT path FROM decision) IN ('adc', 'windowed')",
    )
    return f"""
WITH esig AS (
    {VECTORS_SQL}
),
{_train_shift_ctes()},
{auto_lists_ctes()},
{auto_probe_ctes()},
nb AS (SELECT {N_QUERIES} AS b, probes FROM npr),
{_ladder_ctes(crossovers)},
decision AS (
    SELECT CASE WHEN n <= {brute_max} AND {N_QUERIES} < {INDEX_MIN_QUERIES}
           THEN 'brute' ELSE path END AS path
    FROM nv, ladder
),
{lloyd},
{query_cte("esig")},
{probed_cte(cents, "(SELECT probes FROM npr)", carry_qv=True)},
{probed_sims_cte("e_sims")},
{ranked_cte("e_ranked", "e_sims", "query_id")},
{_probed_adc_ctes()},
b_sims AS (
    SELECT q.query_id, e.vec_id AS neighbor_id,
           ROUND(list_cosine_similarity(q.qv, e.v), 4) AS cos_sim
    FROM q, esig e WHERE e.vec_id <> q.query_id
),
{ranked_cte("b_ranked", "b_sims", "query_id")},
{adc_tail}
UNION ALL
{topk_select("e_ranked", "query_id", TOP_K)}
  AND (SELECT path FROM decision) = 'exact'
UNION ALL
{topk_select("b_ranked", "query_id", TOP_K)}
  AND (SELECT path FROM decision) = 'brute'
"""


@register(
    "ann_auto_topk",
    oracle=_auto_oracle(),
    survey_ops="§7-similarity,⊘rank",
    tier=0,  # new in r13
)
def ann_auto_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-k with the execution path CHOSEN by the measured
    decision surface (:func:`auto_path`): one corpus row count, then
    dispatch to the brute / IVF implementation the r12 qbatch pricing
    says wins at this (corpus, batch) point. The DuckDB oracle
    replays the rule from its own COUNT(*) and computes every branch
    behind the same guard, so the driver's gate follows the decision
    at any sf. ``need_recall_floor`` deployments call
    :func:`auto_path` with the flag and get the PQ path
    (:func:`stream_processing_test_spark.llm.pq.pq_topk`); the
    registered query prices the default contract.

    The ivf arm runs :func:`ivf_ladder` at the AUTO-PROBE operating
    point (auto_lists + :func:`auto_probe`, fraction searched pinned
    at 1/PROBE_DIV — r15, VERDICT r14 item 2), not the fixed-N_PROBE
    registered-IVF contract: the r15 surface prices it winning every
    measured B>=64 cell it is admissible in, and the ivfprobe rung
    shows the recall the fixed arm forfeits at scale (0.08->0.50 at
    200k x 4, flat wall). The batch is the registered query set, so
    the exact arm keeps the interactive plan (``large_batch`` off).

    Scale: the selector itself costs one parquet COUNT (metadata-
    bounded) — path cost dominates everything and is exactly what the
    decision surface minimizes.
    """
    emb = load(spark, sf_dir, "embeddings")
    n = emb.count()
    path = auto_path(n, N_QUERIES)
    if path == "brute":
        return ann_cosine_topk(spark, sf_dir)
    if path == "ivf":
        emb = load_vectors(spark, sf_dir)
        return ivf_ladder(
            emb,
            query_set(emb),
            n,
            N_QUERIES,
            auto_probe(auto_lists(n)),
            large_batch=False,
        )
    from stream_processing_test_spark.llm.pq import ann_pq_topk

    return ann_pq_topk(spark, sf_dir)


# --------------------------------------------------------------------
# Incremental index ingest (r13): search a standing IVF index with a
# NEW batch — train-once, serve-a-growing-corpus, the ANN twin of
# dedup_incremental's continuous-crawl shape.

INGEST_MOD = 10  # "new batch" = vec_id % INGEST_MOD == 0 (~10% of the
# fixture — in production the batch is an ingest window, tiny vs base)


def _append_oracle(crossovers: Crossovers = Crossovers()) -> str:
    """The append oracle: :func:`ivf_ladder`'s branches trained on the
    STANDING BASE only — ``esig`` is the base split, the train-shift
    count comes from it (``count_from='esig'`` — matching
    ``kmeans_lists(base)``'s own count), lists are DYNAMIC via
    ``auto_lists_ctes`` over the same base count, and the query set
    is the new batch (``qsrc``, also the LUT source) instead of the
    ``vec_id < N_QUERIES`` constant. ``nb`` is the batch count at
    N_PROBE probes; :func:`_ladder_ctes` replays the decision and
    guards the exact and ADC branches. ``crossovers`` lets the
    forced-arm pytests regenerate the oracle with lowered
    crossovers."""
    from stream_processing_test_spark.llm.pq import (
        _adc_tail_sql,
        _probed_adc_ctes,
    )

    lloyd, cents = _ivf_lloyd_ctes(n_lists=None)
    adc_tail = _adc_tail_sql(
        "(SELECT rerank FROM ladder)",
        TOP_K,
        q_rel="qsrc",
        with_approx=False,
        guard=" AND (SELECT path FROM ladder) IN ('adc', 'windowed')",
    )
    return f"""
WITH esig AS (
    {VECTORS_SQL} WHERE vec_id % {INGEST_MOD} <> 0
),
{_train_shift_ctes(count_from="esig")},
{auto_lists_ctes()},
nb AS (
    SELECT COUNT(*) AS b, {N_PROBE} AS probes
    FROM embeddings WHERE vec_id % {INGEST_MOD} = 0
),
{_ladder_ctes(crossovers)},
{lloyd},
qsrc AS (
    {VECTORS_SQL} WHERE vec_id % {INGEST_MOD} = 0
),
q AS (SELECT vec_id AS query_id, v AS qv FROM qsrc),
{probed_cte(cents, N_PROBE, carry_qv=True)},
{probed_sims_cte("e_sims")},
{ranked_cte("e_ranked", "e_sims", "query_id")},
{_probed_adc_ctes(q_src="qsrc")},
{adc_tail}
UNION ALL
{topk_select("e_ranked", "query_id", TOP_K)}
  AND (SELECT path FROM ladder) = 'exact'
"""


@register(
    "ann_index_append",
    oracle=_append_oracle(),
    survey_ops="§7-similarity,IVF",
    tier=0,  # new in r13
)
def ann_index_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ANN ingest against a STANDING index: the quantizer
    trains on the base split only, the base is assigned once (the
    standing inverted lists), and every NEW-batch vector is routed and
    searched against it — top-k existing neighbors per arriving
    vector, the lookup a continuous-ingest pipeline runs per batch
    (near-dup gating, recommendation backfill) WITHOUT retraining or
    re-assigning the corpus.

    Split rule mirrors ``dedup_incremental`` (``vec_id % INGEST_MOD ==
    0`` is the new batch; in production the batch is an ingest window,
    tiny vs base — the fixture's 10% keeps the driver check
    substantial). Train + assign touch only the base, per-batch work
    is |batch| routing probes plus the probed-fraction scores — linear
    in the batch, never corpus-scale. ``route_queries`` broadcasts the
    (query x n_probe) relation, so batch size is bounded by the
    broadcast budget exactly like ``bm25_multi_topk``'s query
    relation; a deployment streams bigger ingest windows through in
    broadcastable chunks. Lists come from ``auto_lists`` over the BASE
    count — the fixed-16 registered-IVF default makes each query scan
    base/8 at n_probe=2, and the r13 rung measured that straggling for
    minutes at a 20k-query batch on a 180k base; sqrt-scaled lists
    keep per-query probed work sublinear in the base.

    The batch runs through :func:`ivf_ladder` at N_PROBE probes with
    the ingest-batch plan: exact below APPEND_ADC_ROWS probed rows
    (r13), the IVF-PQ composition above it (r14, VERDICT r13 item 4 —
    the vec_x40 exact arm was a recorded skip at 2.8G exact scores),
    and the windowed standing-index search above APPEND_SPILL_ROWS
    (r15, VERDICT r14 item 3). Completion at vec_x40 is priced in
    BENCH_NOTES §r15-append.
    """
    emb = load_vectors(spark, sf_dir)
    is_new = F.col("vec_id") % INGEST_MOD == 0
    base = emb.filter(~is_new)
    q = emb.filter(is_new).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    n_total = emb.count()
    n_base = base.count()
    return ivf_ladder(
        base, q, n_base, n_total - n_base, N_PROBE, large_batch=True
    )
