"""Product-quantization ANN (Jégou, Douze, Schmid, "Product
Quantization for Nearest Neighbor Search", TPAMI 2011) — the
memory-bandwidth scale path for similarity search.

Where IVF (llm/similarity.py) prunes WHICH vectors a query scores,
PQ shrinks WHAT is scored: each EMBED_DIM-float vector compresses to
PQ_SUBS small codes (here 16 × 4-bit codes = 8 bytes vs 256 bytes of
float32 — 32×), and queries score candidates from per-subspace
lookup tables over the codes alone (asymmetric distance computation,
ADC) without ever touching the original vectors; an exact re-rank
stage then rescores only the ADC shortlist (ADC+R, the paper's §VII —
measured on the isotropic fixture: pure ADC recall@10 ≈ 0.34, +rerank
0.98). At 100 TB the codes for a 100 B-vector corpus fit in ~800 GB —
RAM-resident on a modest cluster where the raw vectors (25 TB) are
not; production systems compose the two (IVF-PQ), which this engine
supports by construction (both stages are plain DataFrames keyed on
vec_id).

Everything is oracle-replayable with the same machinery the IVF path
established: codebook training is driver-local numpy over the
deterministic hash-sampled training set (bounded model state, not
data), every cross-engine float hazard is rounded at the source
(6-decimal half-up distances and means), and the ADC accumulation is
INTEGER (lookup-table entries quantized to 1e-6 units before the
per-pair sum) — integer addition is associative, so Spark's
arbitrary-order aggregation and DuckDB's scan-order SUM cannot
diverge even in the last bit.

The reference has no vector operators at all (SURVEY.md §2.9); this
extends the §7 north-star similarity family alongside
ann_cosine_topk / ann_lsh_topk / ann_ivf_topk.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# constants from the LEAF params module, NOT from similarity: pq and
# similarity need each other's helpers at registration time (both
# directions), so a top-level import either way makes executor-side
# module init order-dependent — see params.py's docstring (r14). The
# function-shaped needs (_dot/_norm/_train_shift_ctes and the CTE
# builders) are imported lazily inside the functions that use them,
# all of which run only after both modules' own names are defined.
from stream_processing_test_spark.llm.params import (
    EMBED_DIM,
    N_QUERIES,
    TOP_K,
    VECTORS_SQL,
    probed_cte,
    query_cte,
    ranked_cte,
)
from stream_processing_test_spark.registry import register

PQ_SUBS = 16  # subspaces (M in the paper)
PQ_DSUB = EMBED_DIM // PQ_SUBS  # dims per subspace
PQ_CODES = 16  # codewords per subspace (4-bit codes)
PQ_ITERS = 2  # Lloyd passes per subspace (fixed — deterministic unroll)
PQ_RERANK = 100  # ADC shortlist FLOOR (the fixture regime's size)
PQ_RERANK_SHIFT = 7  # auto_rerank: shortlist = n >> 7 (≈0.78% of corpus)
PQ_RERANK_MAX = 65536  # auto_rerank clamp; past this (n > ~8.4 M), route
#                        ADC through IVF lists first (ann_ivfpq_topk) —
#                        growing a global shortlist further means the
#                        broadcast re-rank join carries |queries| × 64 k+
#                        rows and the ADC still scans every code row.
_MICRO = 1_000_000  # LUT quantum: 1e-6 units


# Squared-L2 convention, shared by ALL THREE replays (Spark encode,
# numpy trainer, DuckDB oracle): the FACTORED form
#
#     dist(x, c) = (xsq - 2.0 * dot) + csq
#
# where xsq = Σ x_i², dot = Σ x_i·c_i, csq = Σ c_i² each accumulate
# left-to-right across dims. Why factored instead of Σ(x-c)²: the 2.0
# multiply is exact in binary (no rounding), the three folds are the
# engines' shared left-to-right contract, AND on the Spark side xsq is
# computed ONCE per subspace and shared across all PQ_CODES candidate
# expressions — with the naive form every (x_i - c_i) subtree is
# duplicated per code and the literal codebook tree grows to ~9 000
# expression nodes, whose Catalyst ANALYSIS (not execution — the
# stage runs warm in 1.6 s at 200 k vectors) dominated the whole
# query's wall at fixture scale.


def auto_rerank(n_rows: int) -> int:
    """Hold-recall shortlist policy for ADC+R (VERDICT r9 item 1) —
    the PQ twin of ``similarity.auto_tables``: with a FIXED shortlist
    the re-ranked fraction rerank/n shrinks as the corpus grows and
    measured recall@10 decays 0.98 → 0.40 up the ladder, while the
    dial that buys it back is free at the wall (the exact re-rank
    touches only |queries| × rerank raw vectors — BENCH_NOTES.md
    §r9-pq-dial: rerank 1600 at 200 k = 0.92 recall at FLAT wall).

    The rule holds the fraction instead: ``rerank = n >> 7``
    (PQ_RERANK_SHIFT; ≈ 0.78% of the corpus — the measured 0.92-recall
    operating point at 200 k vectors, well above the declared 0.75
    floor), floored at the fixture regime's PQ_RERANK and clamped at
    PQ_RERANK_MAX (where the IVF-PQ composition takes over — see the
    constant's comment). Integer-exact (shift, max, min — no float),
    so the DuckDB oracle recomputes the identical rule from its own
    COUNT(*) (:func:`_rerank_cte`) and shortlists the identical rows
    at any corpus size. At fixture sizes (n <= 12 800) this resolves
    to the PQ_RERANK floor — fixture plans and hashes unchanged."""
    return min(max(PQ_RERANK, n_rows >> PQ_RERANK_SHIFT), PQ_RERANK_MAX)


def _rerank_cte() -> str:
    """DuckDB CTE ``rr(rerank)`` replaying :func:`auto_rerank` over the
    ``nv(n)`` corpus-count CTE that ``_train_shift_ctes`` already
    defines — same integer rule, same count, no float crosses the
    engine boundary."""
    return f"""rr AS (
    SELECT LEAST(GREATEST({PQ_RERANK}, n >> {PQ_RERANK_SHIFT}), {PQ_RERANK_MAX}) AS rerank FROM nv
)"""


def _pq_lloyd_numpy(
    id_vecs: list[tuple[int, list[float]]],
    n_subs: int = PQ_SUBS,
    n_codes: int = PQ_CODES,
    iters: int = PQ_ITERS,
) -> list[tuple[int, int, list[float]]]:
    """Driver-local PQ codebook training: an independent L2 k-means
    per subspace over the (bounded) training sample's subvectors.
    Returns rows (s, code, centroid[PQ_DSUB]).

    Each subspace runs the shared :func:`similarity.lloyd` loop with
    ``sign=-1`` over squared distances in the module's factored form
    (three left-to-right folds — see the convention comment above),
    rounded to 6 decimals HALF-UP: labels are the argmin (ties to the
    smaller code id), and empty codes re-seed from the largest code's
    farthest members (rounded distance DESC, vec_id ASC). Seeds are
    the n_codes training vectors with the smallest (portable-hash, id)
    — the SAME ids in every subspace, since the hash is of the id. The
    DuckDB oracle (:func:`_pq_oracle`) replays all of it as unrolled
    CTEs.
    """
    import numpy as np

    from stream_processing_test_spark.llm.hashing import phash_py
    from stream_processing_test_spark.llm.hashing import round6_np as round6
    from stream_processing_test_spark.llm.similarity import lloyd

    if not id_vecs:
        return []
    ids = np.array([i for i, _ in id_vecs], dtype=np.int64)
    vecs = np.array([v for _, v in id_vecs], dtype=np.float64)

    def sq_l2(A: "np.ndarray", C: "np.ndarray") -> "np.ndarray":
        # (ma,d) x (mc,d) -> (ma,mc) rounded squared L2 in the module's
        # shared FACTORED form: (xsq - 2.0*dot) + csq, each fold
        # left-to-right over d (vectorized across rows)
        d = A.shape[1]
        xsq = np.zeros(A.shape[0])
        dot = np.zeros((A.shape[0], C.shape[0]))
        csq = np.zeros(C.shape[0])
        for j in range(d):
            xsq = xsq + A[:, j] * A[:, j]
            dot = dot + A[:, j : j + 1] * C[None, :, j]
            csq = csq + C[:, j] * C[:, j]
        # clamp at 0: enforce the nonnegativity invariant the half-up
        # rounding bridges rely on (identical in encode + oracle)
        return round6(np.maximum((xsq[:, None] - 2.0 * dot) + csq[None, :], 0.0))

    order = sorted(
        range(len(ids)), key=lambda i: (phash_py(str(int(ids[i]))), int(ids[i]))
    )
    out: list[tuple[int, int, list[float]]] = []
    for s in range(n_subs):
        sub = vecs[:, s * PQ_DSUB : (s + 1) * PQ_DSUB]
        *_, cents = lloyd(ids, sub, order, n_codes, iters, sq_l2, -1)
        out.extend(
            (s, c, [float(x) for x in v]) for c, v in sorted(cents.items())
        )
    return out


def pq_codebooks(
    emb: DataFrame, n_rows: int | None = None
) -> list[tuple[int, int, list[float]]]:
    """Train the PQ codebooks on the deterministic hash sample
    (same ``auto_train_shift`` gate as the IVF quantizer — training
    cost is capped regardless of corpus size) and return the rows
    (s, code, centroid) driver-side: like the IVF centroids, the
    codebook is bounded model state, not data — it is embedded as
    literal expressions by :func:`pq_encode` and shipped as a small
    local relation for the query LUTs. ``n_rows`` forwards a corpus
    count the caller already probed (``pq_topk``'s auto_rerank probe)
    so the training gate does not re-count."""
    from stream_processing_test_spark.llm.similarity import train_sample

    train = train_sample(emb.select("vec_id", "v"), n_rows=n_rows)
    return _pq_lloyd_numpy([(r["vec_id"], r["v"]) for r in train.collect()])


def encode_codes_np(vecs, rows):
    """The guarded-BLAS PQ-encode kernel, one Arrow batch's worth:
    ``vecs`` is a sequence of dim-length vectors, ``rows`` the
    (s, code, centroid) codebook; returns an int32 (n, n_subs) code
    matrix, subspaces in sorted order. Module-level and Spark-free on
    purpose — the property suite drives THIS function (the exact code
    every Arrow batch runs) against the pure parity fold, the same
    discipline as :func:`similarity.assign_labels_np`.

    Selection contract (the oracle's): per subspace, min integer key
    ``floor(dist·1e6 + 0.5) · PQ_CODES + code`` — min micro-distance
    first, ties to the smaller code — where dist is the factored
    ``greatest((xsq - 2·dot) + csq, 0)`` with LEFT-TO-RIGHT folds.
    Here the cross-dot runs as ONE BLAS matmul per subspace; xsq and
    csq keep the exact sequential fold (dsub adds — cheap). BLAS sums
    in an unspecified order, so |dot_b - dot_fold| <= 2·γ_d·Σ|x_i·c_i|
    (standard bound, both differ from the true dot by γ_d·Σ|x·c|),
    hence |dist_b - dist_fold| <= 4·γ_d·Σ|x·c| (dist is 2-Lipschitz
    in dot, max() 1-Lipschitz). A row whose BLAS top-2 distance gap
    exceeds ``1e-6 + 16·γ_d·max_j Σ|x·c_j|`` therefore selects a code
    whose exact micro key is STRICTLY below every rival — floor
    monotonicity gives key_fold(top) < key_fold(j) for all j, so the
    code tiebreak never fires and the BLAS winner is provably the
    fold winner. Every row inside the band (micro ties, duplicate
    centroids, non-finite inputs — NaN compares False into
    ``unsafe``) is recomputed with the verbatim fold + integer-key
    argmin. Net: 16 tiny dgemms + one abs-matmul replace the
    per-row expression arithmetic; worst case degrades to the fold
    plus the matmuls, never to wrong codes."""
    import numpy as np

    by_sub: dict[int, list[tuple[int, list[float]]]] = {}
    for s, code, centroid in rows:
        by_sub.setdefault(s, []).append((code, centroid))
    subs = sorted(by_sub)
    V = np.array(list(vecs), dtype=np.float64)
    n = len(V)
    out = np.empty((n, len(subs)), dtype=np.int32)
    ar = np.arange(n)
    for si, s in enumerate(subs):
        entries = sorted(by_sub[s])
        codes_arr = np.array([c for c, _ in entries], dtype=np.int64)
        C = np.array([cent for _, cent in entries], dtype=np.float64)
        k, dsub = C.shape
        o = s * dsub
        Xs = V[:, o : o + dsub]
        # exact left-to-right folds (the parity-defining order) for
        # the squared norms; only the cross-dot is BLAS
        xsq = np.zeros(n)
        csq = np.zeros(k)
        for j in range(dsub):
            xsq += Xs[:, j] * Xs[:, j]
            csq += C[:, j] * C[:, j]
        dot_b = Xs @ C.T
        dist_b = (xsq[:, None] - 2.0 * dot_b) + csq[None, :]
        np.maximum(dist_b, 0.0, out=dist_b)
        absdot = np.abs(Xs) @ np.abs(C).T
        gamma = (2 * dsub) * 2.0**-53  # >= γ_dsub, with headroom
        thr = 1e-6 + 16.0 * gamma * absdot.max(axis=1)
        bot = np.argmin(dist_b, axis=1)
        dm = dist_b[ar, bot]
        dist_b[ar, bot] = np.inf
        d2 = dist_b.min(axis=1)
        with np.errstate(invalid="ignore"):
            unsafe = ~((d2 - dm) > thr)
        lab = codes_arr[bot]
        if unsafe.any():
            Xu = Xs[unsafe]
            acc = np.zeros((len(Xu), k))
            for j in range(dsub):
                acc += Xu[:, j : j + 1] * C[None, :, j]
            dist_e = (xsq[unsafe][:, None] - 2.0 * acc) + csq[None, :]
            np.maximum(dist_e, 0.0, out=dist_e)
            keys = (
                np.floor(dist_e * float(_MICRO) + 0.5).astype(np.int64)
                * PQ_CODES
                + codes_arr[None, :]
            )
            lab[unsafe] = keys.min(axis=1) % PQ_CODES
        out[:, si] = lab.astype(np.int32)
    return out


def pq_encode_arrow(
    base: DataFrame,
    rows: list[tuple[int, int, list[float]]],
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """(vec_id, *carry, c0..c{M-1}): the registered encode pass —
    :func:`encode_codes_np` fanned out over Arrow batches via
    ``mapInPandas`` (the §2.9 vectorized-Python path), dropping the
    raw vector on the way out so downstream relations carry 8-byte
    codes, not 512-byte payloads.

    Why Arrow and not Catalyst expressions (r14, VERDICT r13 item 2):
    the inline-literal form spelled PQ_SUBS × PQ_CODES argmin keys as
    one collapsed Project whose generated consume method janino
    rejects (>64 KB) — every fused stage silently ran interpreted —
    and the HOF rewrite that fixed compilation evaluated its lambdas
    interpreted per (row × code): measured 17.4 -> 40.2 s
    (ann_pq_topk wall, 2M × dim-64). This is the identical trade the
    r11/r13 assignment-kernel decision table already priced
    (similarity.py: arrow won EVERY cell), now applied to the encode:
    one Arrow round-trip of the corpus per index build, dgemm
    arithmetic, parity guarded per batch. The SQL twin
    (:func:`pq_encode`) remains the parity reference the property
    tests and the DuckDB oracles replay."""
    subs = sorted({s for s, _, _ in rows})
    keep = [f for f in base.schema.fields if f.name != "v"]
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in keep
    ) + ", " + ", ".join(f"c{s} int" for s in subs)

    def enc_batches(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            codes = encode_codes_np(pdf["v"].tolist(), rows)
            yield pdf.drop(columns=["v"]).assign(
                **{f"c{s}": codes[:, i] for i, s in enumerate(subs)}
            )

    return base.mapInPandas(enc_batches, out_schema)


def pq_assign_encode_arrow(
    base: DataFrame,
    cents: list[tuple[int, list[float]]],
    rows: list[tuple[int, int, list[float]]],
) -> DataFrame:
    """(vec_id, list_id, c0..c{M-1}) in ONE Arrow pass: the IVF coarse
    assignment (:func:`similarity.assign_labels_np`) and the PQ encode
    (:func:`encode_codes_np`) run back-to-back on the SAME in-worker
    batch, and the raw vector never returns to the JVM.

    Why fused (r14): wiring the Arrow encode AFTER ``kmeans_lists``'s
    separate Arrow assignment chained two mapInPandas stages — the
    corpus (vec_id + dim doubles) crossed the JVM↔Python boundary
    twice, and the vec_x40 ivfpq wall REGRESSED 11.7 -> 32.9 s. One
    pass restores a single corpus round-trip whose output rows are
    bare ids + codes (~72 B vs ~550 B), which is also exactly the
    100 TB index shape: build-time scan emits the compact IVFADC
    index, never re-materializing vectors. Parity of each kernel is
    pinned independently (the two property suites + the Spark-side
    twin tests); fusing composes them without touching either
    selection."""
    import pandas as pd

    from stream_processing_test_spark.llm.similarity import (
        assign_labels_np,
    )

    cs = sorted(cents)
    subs = sorted({s for s, _, _ in rows})
    out_schema = "vec_id bigint, list_id int, " + ", ".join(
        f"c{s} int" for s in subs
    )

    def batches(it):
        for pdf in it:
            if not len(pdf):
                continue
            vecs = pdf["v"].tolist()
            lab = assign_labels_np(vecs, cs)
            codes = encode_codes_np(vecs, rows)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "list_id": lab,
                    **{f"c{s}": codes[:, i] for i, s in enumerate(subs)},
                }
            )

    return base.select("vec_id", "v").mapInPandas(batches, out_schema)


def pq_encode(
    base: DataFrame,
    rows: list[tuple[int, int, list[float]]],
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Assign every vector its PQ_SUBS codes in a single MAP-ONLY pass
    of pure Catalyst expressions — since r14 the PARITY-REFERENCE TWIN
    of the registered :func:`pq_encode_arrow` kernel (the property
    suite pins kernel == this form == the DuckDB CTE chain; the
    registered queries ship the kernel — see its docstring for the
    measured why). Each subspace's argmin is a min over integer keys
    ``micro_distance * PQ_CODES + code`` — min distance first, ties to
    the smaller code, as pure long arithmetic (distances are exact
    integer micro-units, the same quantum the ADC lookup tables use). The
    oracle and the numpy trainer order by ``ROUND(dist, 6)`` — the
    same selection, since dividing the micro integer by 1e6 is
    monotone and collision-free at these magnitudes (spacing 1e-6 vs
    ulp ~1e-14), and both integers are the identical half-up rounding
    of the identical double product ``dist * 1e6``. Zero
    shuffle, zero row amplification: the first registered form
    crossJoined the corpus against the 256-row codebook (256× rows,
    each carrying the 512-byte vector) and re-aggregated by vec_id —
    measured 30 s at 200 k vectors for arithmetic this pass runs
    inside the scan stage. The key packing is exact while
    micro-distance × PQ_CODES stays inside int64 — distances up to
    ~5.7e11, far beyond any normalized-embedding geometry.
    Output: (vec_id, *carry, c0..c{M-1}) — ``carry`` names extra
    ``base`` columns projected through untouched (the IVF-PQ
    composition threads ``list_id`` through the encode so codes come
    out list-tagged without a corpus-scale join)."""
    by_sub: dict[int, list[tuple[int, list[float]]]] = {}
    for s, code, centroid in rows:
        by_sub.setdefault(s, []).append((code, centroid))

    # Per-subspace argmin as ONE higher-order-function expression over
    # constant-folded literal codebook arrays — the same shape as the
    # LSH signature fold (similarity.hyperplane_tables), for the same
    # two reasons plus a third learned in r14:
    # (1) SQL strings, not Column objects: one JVM parse instead of a
    #     py4j round-trip per operator (~8.7 s of driver Python for
    #     this codebook in the operator form). Double literals use
    #     repr() + 'D' (shortest round-trip repr parses back to the
    #     identical IEEE double; bare decimals would parse as DECIMAL).
    # (2) the sub{s}/xsq{s} aliases are non-trivial and multi-use, so
    #     CollapseProject keeps them SHARED instead of duplicating the
    #     slice/fold per reference.
    # (3) codegen SIZE (VERDICT r13 item 2): the previous form spelled
    #     all PQ_SUBS × PQ_CODES argmin keys as inline literal
    #     arithmetic; CollapseProject merged them into one Project
    #     whose single generated consume method was ~13k lines —
    #     janino rejected it ("Code grows beyond 64 KB") and EVERY
    #     stage this encode fused into silently ran interpreted
    #     (measured: the failure was intrinsic, it reproduced even
    #     scan-adjacent where expression-splitting is available). The
    #     HOF form generates a compact eval call per c{s}; the
    #     codebook/csq literals constant-fold to array references.
    #     Fold order is unchanged — aggregate(zip_with(...)) is the
    #     same left-to-right sum as the inline chain and as DuckDB's
    #     list_sum, so the integer micro keys are bit-identical.
    # floor(y + 0.5), not round(): round() evaluates through
    # BigDecimal (256 per row at this fan-out); floor is a plain
    # double op AND the literal twin of the numpy trainer's half-up
    # (distances are >= 0). The engines' half-up implementations
    # differ only at sub-ulp .5 boundaries — the same accepted bridge
    # as round6. greatest(·, 0): the factored form can go sub-ulp
    # negative via cancellation when x equals a centroid; the half-up
    # floor relies on nonnegativity, so the invariant is ENFORCED
    # identically in all three engines (numpy trainer, this encode,
    # the oracle's GREATEST).
    subs = sorted(by_sub)
    l1 = base.selectExpr(
        "vec_id",
        *carry,
        *[
            f"slice(v, {s * PQ_DSUB + 1}, {PQ_DSUB}) AS sub{s}"
            for s in subs
        ],
    )
    l2 = l1.selectExpr(
        "*",
        *[
            f"aggregate(sub{s}, 0D, (a, x) -> a + x * x) AS xsq{s}"
            for s in subs
        ],
    )

    out_exprs = []
    for s in subs:
        entries = sorted(by_sub[s])
        cb = "array(" + ", ".join(
            "array(" + ", ".join(f"{ci!r}D" for ci in centroid) + ")"
            for _, centroid in entries
        ) + ")"
        csqs = []
        for _, centroid in entries:
            csq = None
            for ci in centroid:  # python-float fold == the engines'
                csq = ci * ci if csq is None else csq + ci * ci
            csqs.append(csq)
        csq_arr = "array(" + ", ".join(f"{c!r}D" for c in csqs) + ")"
        code_arr = "array(" + ", ".join(str(c) for c, _ in entries) + ")"
        dot = (
            f"aggregate(zip_with(sub{s}, {cb}[i], (x, y) -> x * y), "
            "0D, (a, x) -> a + x)"
        )
        dist = f"greatest((xsq{s} - 2.0D * {dot}) + {csq_arr}[i], 0D)"
        # min over packed keys = min distance first, ties to the
        # smaller code (code_arr ascending), as pure long arithmetic
        key = (
            f"CAST(floor({dist} * {_MICRO}.0D + 0.5D) AS BIGINT)"
            f" * {PQ_CODES} + {code_arr}[i]"
        )
        out_exprs.append(
            f"CAST(array_min(transform(sequence(0, {len(entries) - 1}), "
            f"i -> {key})) % {PQ_CODES} AS INT) AS c{s}"
        )
    return l2.selectExpr("vec_id", *carry, *out_exprs)


def _seq_dot_sql(a: str, b: str, d: int) -> str:
    return (
        f"list_sum(list_transform(range({d}), i -> {a}[i+1] * {b}[i+1]))"
    )


def _seq_sq_l2_sql(a: str, b: str, d: int) -> str:
    """Squared L2 in the module's shared FACTORED form (see the
    convention comment at the top): (xsq - 2.0*dot) + csq, each a
    left-to-right list_sum fold; GREATEST-clamped at 0 like the numpy
    trainer and the Spark encode (nonnegativity enforced, not
    assumed)."""
    xsq = _seq_dot_sql(a, a, d)
    dot = _seq_dot_sql(a, b, d)
    csq = _seq_dot_sql(b, b, d)
    return f"GREATEST((({xsq} - 2.0 * {dot}) + {csq}), 0)"


def _pq_train_ctes(q_src: str | None = None) -> tuple[str, str, str]:
    """The per-subspace PQ training/encode/LUT CTE chain shared by the
    pure-PQ oracle and the IVF-PQ composition's oracle: for each
    subspace, subtrain → seeds → ``PQ_ITERS`` × (assign → recompute →
    reseed) Lloyd over the ``train`` CTE → full-corpus ``enc{s}`` →
    per-query ``qlut{s}``. Returns ``(pieces_sql, codes_union,
    lut_union)`` — the UNIONs flatten the per-subspace relations into
    the (vec_id, s, code) code stream and the (query_id, s, code,
    ipart, cnsq) integer LUT the ADC stage consumes. The L2/argmin
    and integer-LUT specifics are documented at their Spark twins
    (:func:`pq_encode`, :func:`pq_topk`). ``q_src`` overrides the
    query relation the per-subspace LUTs are built from (a CTE name
    or inline relation yielding (vec_id, v)); the default is the
    registered contract's ``vec_id < N_QUERIES`` slice of ``esig`` —
    the append dispatch's ADC branch passes its batch CTE."""
    d = PQ_DSUB
    if q_src is None:
        q_src = f"esig\n          WHERE vec_id < {N_QUERIES}"

    def assign(name: str, sub_src: str, cents: str) -> str:
        dist = _seq_sq_l2_sql("e.sub", "c.centroid", d)
        return f"""{name} AS MATERIALIZED (
    SELECT vec_id, sub, code FROM (
        SELECT e.vec_id, e.sub, c.code,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                   ORDER BY ROUND({dist}, 6) ASC, c.code ASC) AS rn
        FROM {sub_src} e CROSS JOIN {cents} c) WHERE rn = 1
)"""

    def recompute(name: str, assigned: str) -> str:
        return f"""{name} AS MATERIALIZED (
    SELECT code, list(m ORDER BY pos) AS centroid FROM (
        SELECT code, pos, ROUND(AVG(sub[pos+1]), 6) AS m
        FROM {assigned}, range({d}) rr(pos)
        GROUP BY code, pos)
    GROUP BY code
)"""

    def reseed(name: str, assigned: str, raw: str) -> str:
        dist = _seq_sq_l2_sql("a.sub", "c.centroid", d)
        return f"""{name}_rs AS (
    SELECT m.code, f.sub AS centroid
    FROM (SELECT t.code, ROW_NUMBER() OVER (ORDER BY t.code) AS r
          FROM range({PQ_CODES}) t(code)
          WHERE t.code NOT IN (SELECT code FROM {raw})) m
    JOIN (SELECT a.vec_id, a.sub, ROW_NUMBER() OVER (
              ORDER BY ROUND({dist}, 6) DESC, a.vec_id ASC) AS r
          FROM {assigned} a
          JOIN (SELECT code FROM (SELECT code, COUNT(*) AS n
                                  FROM {assigned} GROUP BY code)
                ORDER BY n DESC, code ASC LIMIT 1) big
            ON a.code = big.code
          JOIN {raw} c ON c.code = a.code) f
      ON m.r = f.r
),
{name} AS MATERIALIZED (SELECT * FROM {raw} UNION ALL SELECT * FROM {name}_rs)"""

    pieces = []
    enc_names, lut_names = [], []
    for s in range(PQ_SUBS):
        lo, hi = s * d + 1, (s + 1) * d
        pieces.append(
            f"subtrain{s} AS MATERIALIZED (SELECT vec_id, v[{lo}:{hi}] AS sub FROM train)"
        )
        pieces.append(f"""seeds{s} AS (
    SELECT (ROW_NUMBER() OVER (ORDER BY h, vec_id) - 1) AS code, sub AS centroid
    FROM (SELECT vec_id, sub,
                 CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15) AS BIGINT) AS h
          FROM subtrain{s} ORDER BY h, vec_id LIMIT {PQ_CODES})
)""")
        cents = f"seeds{s}"
        for i in range(PQ_ITERS):
            pieces.append(assign(f"assign{s}_{i}", f"subtrain{s}", cents))
            cents = f"cent{s}_{i + 1}"
            pieces.append(recompute(f"{cents}_raw", f"assign{s}_{i}"))
            pieces.append(reseed(cents, f"assign{s}_{i}", f"{cents}_raw"))
        pieces.append(
            f"subfull{s} AS MATERIALIZED (SELECT vec_id, v[{lo}:{hi}] AS sub FROM esig)"
        )
        pieces.append(assign(f"enc{s}", f"subfull{s}", cents))
        dot = _seq_dot_sql("q.sub", "c.centroid", d)
        nsq = _seq_dot_sql("c.centroid", "c.centroid", d)
        pieces.append(f"""qlut{s} AS (
    SELECT q.query_id, c.code,
           CAST(ROUND({dot} * {_MICRO}, 0) AS BIGINT) AS ipart,
           CAST(ROUND({nsq} * {_MICRO}, 0) AS BIGINT) AS cnsq
    FROM (SELECT vec_id AS query_id, v[{lo}:{hi}] AS sub FROM {q_src}) q
    CROSS JOIN {cents} c
)""")
        enc_names.append(f"enc{s}")
        lut_names.append(f"qlut{s}")

    codes_union = "\nUNION ALL ".join(
        f"SELECT vec_id, {s} AS s, code FROM {enc_names[s]}"
        for s in range(PQ_SUBS)
    )
    lut_union = "\nUNION ALL ".join(
        f"SELECT query_id, {s} AS s, code, ipart, cnsq FROM {lut_names[s]}"
        for s in range(PQ_SUBS)
    )
    return ",\n".join(pieces), codes_union, lut_union


def _adc_tail_sql(
    rerank_bound: str,
    top_k: int,
    q_rel: str | None = None,
    with_approx: bool = True,
    guard: str = "",
) -> str:
    """The shared oracle tail after the ``adc(query_id, vec_id, idot,
    insq)`` CTE: approx-cosine reconstruction from the integer sums,
    shortlist (bounded by ``rerank_bound`` — a literal or a scalar
    subquery over the ``rr`` policy CTE), exact re-rank, final top-k
    projection. One definition for the pure-PQ and IVF-PQ oracles —
    and, parameterized, the append dispatch's ADC branch: ``q_rel``
    overrides the query relation (default: the registered
    ``vec_id < N_QUERIES`` slice of ``esig``), ``with_approx=False``
    drops approx_cos from the projection (the dispatch's two branches
    must project IDENTICAL columns), ``guard`` appends a predicate to
    the final WHERE (the dispatch's decision gate)."""
    if q_rel is None:
        q_rel = f"esig WHERE vec_id < {N_QUERIES}"
    qn_fold = _seq_dot_sql("v", "v", EMBED_DIM)
    approx_col = "\n       approx_cos," if with_approx else ""
    return f"""qn AS (
    SELECT vec_id AS query_id, sqrt({qn_fold}) AS n
    FROM {q_rel}
),
sims AS (
    SELECT a.query_id, a.vec_id AS neighbor_id,
           ROUND((a.idot / {_MICRO}.0)
                 / (qn.n * sqrt(a.insq / {_MICRO}.0)), 4) AS approx_cos
    FROM adc a JOIN qn USING (query_id)
),
shortlist AS (
    SELECT query_id, neighbor_id, approx_cos FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY query_id
            ORDER BY approx_cos DESC, neighbor_id ASC) AS ar
        FROM sims) WHERE ar <= {rerank_bound}
),
exact AS (
    SELECT s.query_id, s.neighbor_id, s.approx_cos,
           ROUND(list_cosine_similarity(q.v, e.v), 4) AS cos_sim
    FROM shortlist s
    JOIN esig e ON e.vec_id = s.neighbor_id
    JOIN (SELECT vec_id, v FROM {q_rel}) q
      ON q.vec_id = s.query_id
),
{ranked_cte("ranked", "exact", "query_id")}
SELECT CAST(query_id AS BIGINT) AS query_id,
       CAST(neighbor_id AS BIGINT) AS neighbor_id,
       cos_sim,{approx_col}
       CAST(rk AS BIGINT) AS rk
FROM ranked WHERE rk <= {top_k}{guard}"""


def _pq_oracle() -> str:
    """DuckDB oracle replaying the WHOLE PQ pipeline — per-subspace
    codebook training (Lloyd unrolled into CTE pairs over the same
    hash-gated ``train`` CTE the Spark side samples:
    :func:`_pq_train_ctes`), full-corpus encoding, integer LUT
    construction, ADC scoring, top-k. Follows
    :func:`similarity._ivf_oracle`'s construction; the L2/argmin and
    integer-LUT specifics are documented at their Spark twins. The
    shortlist bound recomputes :func:`auto_rerank` from the oracle's
    own COUNT(*) via :func:`_rerank_cte` — a scalar subquery over that
    CTE, so the oracle replays the hold-recall policy at any corpus
    size."""
    from stream_processing_test_spark.llm.similarity import (
        _train_shift_ctes,
    )

    pieces_sql, codes_union, lut_union = _pq_train_ctes()

    return f"""
WITH esig AS (
    {VECTORS_SQL}
),
{_train_shift_ctes()},
{_rerank_cte()},
{pieces_sql},
codes AS ({codes_union}),
lut AS ({lut_union}),
adc AS (
    SELECT l.query_id, codes.vec_id,
           SUM(l.ipart) AS idot, SUM(l.cnsq) AS insq
    FROM codes JOIN lut l USING (s, code)
    WHERE codes.vec_id <> l.query_id
    GROUP BY 1, 2
),
{_adc_tail_sql("(SELECT rerank FROM rr)", TOP_K)}
"""


def pq_topk(emb: DataFrame, queries: DataFrame) -> DataFrame:
    """ADC search core with exact re-ranking (ADC+R, Jégou et al.
    2011 §VII): codes + per-query integer lookup tables shortlist
    ``rerank`` candidates per query, then the original vectors score
    JUST the shortlist exactly. The shortlist is sized from a corpus
    count probe via :func:`auto_rerank` — the r10 hold-recall policy.

    ``emb`` is (vec_id, v); ``queries`` is (query_id, qv). The
    codebook trains on the hash-capped sample, the corpus encodes in
    one MAP-ONLY pass (:func:`pq_encode`), then ADC scoring touches
    ONLY the code stream: one broadcast join against the
    (queries × PQ_SUBS × PQ_CODES) integer lookup table and one keyed
    integer sum per (query, vector) — associative int64 addition, so
    aggregation order is immaterial to parity. (An earlier form
    chained PQ_SUBS separate broadcast joins via a withColumn loop:
    execution-equivalent, but each step re-analyzed a plan containing
    the full literal codebook tree — quadratic driver-side analysis
    that dominated the wall at fixture scale.) The re-rank stage is a
    BROADCAST semi-join of the (queries × rerank)-row shortlist back
    onto the corpus — the only stage that touches raw vectors after
    encoding, and it reads exactly |shortlist| of them. Exchanges
    after encoding: the ADC group-sum and the two per-query top-k
    windows."""
    # one metadata-cheap count probe feeds BOTH integer rules: the
    # auto_rerank shortlist policy and the training gate's
    # auto_train_shift (pq_codebooks forwards it to train_sample)
    n_rows = emb.select("vec_id").count()
    rerank = auto_rerank(n_rows)
    rows = pq_codebooks(emb, n_rows=n_rows)
    if not rows:
        return _empty_topk(emb.sparkSession)
    enc = pq_encode_arrow(emb.select("vec_id", "v"), rows)
    lutw = _lut_wide(queries, rows)

    # ONE broadcast crossJoin of the |queries|-row wide LUT against
    # the encoded corpus, ADC gathered in-row (:func:`_adc_gather`) —
    # no explode, no keyed sum, the whole score rides the encode's
    # map-only stage
    scored = _adc_gather(enc.crossJoin(F.broadcast(lutw)))
    return _adc_rank(scored, emb, queries, rerank, TOP_K)


def _empty_topk(spark: SparkSession) -> DataFrame:
    """The contract's empty result for an empty corpus (or a training
    gate that kept no rows): no codebook means no c{s} columns to
    project — return this instead of failing analysis (the same guard
    the IVF twin's _ivf_lloyd_numpy carries)."""
    return spark.createDataFrame(
        [],
        "query_id long, neighbor_id long, cos_sim double, "
        "approx_cos double, rk long",
    )


def _lut_wide(
    queries: DataFrame, rows: list[tuple[int, int, list[float]]]
) -> DataFrame:
    """(query_id, iparts, cnsqs): the per-query integer ADC lookup
    table regrouped into two (PQ_SUBS × PQ_CODES)-element long arrays
    indexed by ``s * PQ_CODES + code`` — the shape
    :func:`_adc_gather` reads with one GetArrayItem per subspace.

    Why wide (r14, VERDICT r13 item 2): the row-form LUT forced an
    explode (16× row amplification) + broadcast join + keyed
    group-sum, and that partial hash-agg FUSED with
    :func:`pq_encode`'s 256 argmin-key expressions into one
    whole-stage-codegen method — janino rejected the >64 KB
    ``hashAgg_doAggregateWithKeys_0`` and Spark silently ran the
    stage interpreted (two ERROR CodeGenerator events per sweep).
    Gathering from a wide array needs NO aggregate at all, so the
    encode stage stays map-only and compiles. The arrays are built by
    EXPLICIT key scatter — ``map_from_entries`` keyed on
    ``s * PQ_CODES + code``, then a dense ``sequence(0, 255)`` probe
    with 0-fill — NOT by array_sort position: ``_pq_lloyd_numpy`` can
    legitimately emit fewer than PQ_CODES codes in a subspace
    (duplicate-heavy training samples exhaust the reseed donors, and
    samples smaller than PQ_CODES start sparse), and a positional
    build against a sparse codebook would shift every later slot and
    silently corrupt the gathered ADC scores. The 0-filled slots are
    never read — the encoder argmins over the SAME rows list, so every
    emitted c{s} has a real LUT entry — they only keep the gather
    indices honest. This regroup runs on |queries| × ≤256 rows,
    driver-adjacent scale."""
    lut = _query_luts(queries, rows)
    n_slots = PQ_SUBS * PQ_CODES
    return (
        lut.groupBy("query_id")
        .agg(
            F.map_from_entries(
                F.collect_list(
                    F.struct(
                        (F.col("s") * PQ_CODES + F.col("code")).alias("k"),
                        F.struct("ipart", "cnsq").alias("v"),
                    )
                )
            ).alias("m")
        )
        .select(
            "query_id",
            F.expr(
                f"transform(sequence(0, {n_slots - 1}),"
                " i -> coalesce(m[i].ipart, 0L))"
            ).alias("iparts"),
            F.expr(
                f"transform(sequence(0, {n_slots - 1}),"
                " i -> coalesce(m[i].cnsq, 0L))"
            ).alias("cnsqs"),
        )
    )


def _adc_gather(pairs: DataFrame) -> DataFrame:
    """(query_id, vec_id, idot, insq) from a wide (c0..c{M-1},
    iparts, cnsqs) row: the ADC sums as PQ_SUBS GetArrayItem gathers
    each, pure fixed-order int64 addition — associative and
    commutative, so it equals the DuckDB oracle's any-order
    ``SUM(ipart)``/``SUM(cnsq)`` over the identical 16 integers
    exactly. Replaces the explode + broadcast-LUT join + keyed
    group-sum (see :func:`_lut_wide` for why): 16× fewer rows into
    the stage, zero shuffle, zero aggregate — the scoring rides the
    same map-only stage as the encode."""
    idot = " + ".join(
        f"iparts[{s * PQ_CODES} + c{s}]" for s in range(PQ_SUBS)
    )
    insq = " + ".join(
        f"cnsqs[{s * PQ_CODES} + c{s}]" for s in range(PQ_SUBS)
    )
    return pairs.filter(F.col("vec_id") != F.col("query_id")).selectExpr(
        "query_id",
        "vec_id",
        f"({idot}) AS idot",
        f"({insq}) AS insq",
    )


def _query_luts(
    queries: DataFrame, rows: list[tuple[int, int, list[float]]]
) -> DataFrame:
    """The per-query integer ADC lookup table (query_id, s, code,
    ipart, cnsq): one broadcast crossJoin of the query set against the
    (PQ_SUBS × PQ_CODES)-row codebook relation. Consumed through
    :func:`_lut_wide`'s array regroup since r14."""
    from stream_processing_test_spark.llm.similarity import _dot

    codebook = queries.sparkSession.createDataFrame(
        rows, "s int, code int, centroid array<double>"
    )
    qsub = F.slice("qv", F.col("s") * PQ_DSUB + 1, PQ_DSUB)
    return queries.crossJoin(F.broadcast(codebook)).select(
        "query_id",
        "s",
        "code",
        F.round(_dot(qsub, F.col("centroid")) * _MICRO, 0)
        .cast("long")
        .alias("ipart"),
        F.round(_dot(F.col("centroid"), F.col("centroid")) * _MICRO, 0)
        .cast("long")
        .alias("cnsq"),
    )


def _adc_rank(
    scored: DataFrame,
    emb: DataFrame,
    queries: DataFrame,
    rerank: int,
    top_k: int,
    large_batch: bool = False,
) -> DataFrame:
    """The shared ADC+R tail (Spark twin of :func:`_adc_tail_sql`):
    ``scored`` is the gathered (query_id, vec_id, idot, insq) stream
    from :func:`_adc_gather` — the pure-PQ path feeds every
    (vec, query) pair, the IVF-PQ path only the probed-list pairs.
    Approx-cos reconstruction, per-query shortlist of ``rerank``,
    exact re-rank touching only |queries| × rerank raw vectors,
    top-k. (The keyed integer sum that used to live here moved into
    the gather — see :func:`_lut_wide` for the codegen story; the
    oracle's GROUP BY form sums the same int64s, exactly.)

    ``large_batch`` (r14, VERDICT r13 item 4): at interactive batch
    sizes the shortlist (|queries| × rerank rows) and the query
    relation are broadcast — the registered 5-query contract. At
    INGEST-WINDOW batch sizes both are batch-scaled (20k queries ×
    rerank can be millions of rows), so the flag drops those two
    hints and lets the planner shuffle the equi-joins; values, row
    sets, and the oracle are untouched. The per-query-norm join stays
    broadcast either way (16 B/query)."""
    from pyspark.sql import Window

    from stream_processing_test_spark.llm.similarity import (
        _norm,
        cosine,
        rank_top_k,
    )

    def maybe_b(df: DataFrame) -> DataFrame:
        return df if large_batch else F.broadcast(df)

    qn = queries.select("query_id", _norm(F.col("qv")).alias("qn"))
    adc = scored.join(F.broadcast(qn), "query_id").select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(
            (F.col("idot") / F.lit(float(_MICRO)))
            / (F.col("qn") * F.sqrt(F.col("insq") / F.lit(float(_MICRO)))),
            4,
        ).alias("approx_cos"),
    )
    w_adc = Window.partitionBy("query_id").orderBy(
        F.col("approx_cos").desc(), F.col("neighbor_id").asc()
    )
    shortlist = (
        adc.withColumn("ar", F.row_number().over(w_adc))
        .filter(F.col("ar") <= rerank)
        .select("query_id", "neighbor_id", "approx_cos")
    )
    exact = (
        emb.select(F.col("vec_id").alias("neighbor_id"), "v")
        .join(maybe_b(shortlist), "neighbor_id")
        .join(maybe_b(queries), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            "approx_cos",
            F.round(cosine(F.col("qv"), F.col("v")), 4).alias("cos_sim"),
        )
    )
    return rank_top_k(exact, "query_id", top_k).select(
        "query_id", "neighbor_id", "cos_sim", "approx_cos", "rk"
    )


def ivfadc_index(
    emb: DataFrame, n_rows: int, n_lists: int
) -> tuple[DataFrame, DataFrame, list[tuple[int, int, list[float]]]] | None:
    """Build an IVFADC index over ``emb`` (vec_id, v) of ``n_rows``
    rows: PQ codebooks, then an ``n_lists`` coarse quantizer, both
    trained driver-local on the shared hash-capped sample, then ONE
    fused corpus pass (:func:`pq_assign_encode_arrow`) — no separate
    assignment pass, no checkpoint (the r12 attribution measured the
    wide-row materialization as dead weight). Returns ``(enc,
    centroids, rows)`` for :func:`ivfpq_search`, or None when either
    model trained empty (an empty corpus, or a sample with no nonzero
    vector: the quantizer skips zero norms, the codebooks do not) —
    callers answer with :func:`_empty_topk`."""
    from stream_processing_test_spark.llm.similarity import train_ivf_cents

    rows = pq_codebooks(emb, n_rows=n_rows)
    if not rows:
        return None
    cents, centroids = train_ivf_cents(emb, k=n_lists, n_rows=n_rows)
    if not cents:
        return None
    return pq_assign_encode_arrow(emb, cents, rows), centroids, rows


def ivfpq_topk(
    emb: DataFrame,
    queries: DataFrame,
    n_probe: int | None = None,
    top_k: int = TOP_K,
    rerank: int | None = None,
    n_lists: int | None = None,
    large_batch: bool = False,
    n_rows: int | None = None,
) -> DataFrame:
    """IVF-PQ composition (Jégou et al. 2011 §V — IVFADC): the
    ≥100 M-vector architecture both module docstrings name. The IVF
    coarse quantizer routes each query to its n_probe nearest lists,
    ADC scores ONLY those lists' CODES (never raw vectors), and the
    exact re-rank reads only |queries| × rerank raw rows — so the two
    unbounded costs of the constituent operators are both bounded:
    pure PQ's ADC scan of every code row shrinks to the probed
    fraction, and pure IVF's raw-vector read of probed lists shrinks
    to 8-byte code rows plus the shortlist.

    Defaults are the policy rules: ``n_lists`` from
    :func:`similarity.auto_lists` (lists ≈ sqrt(n/C), so probed code
    rows grow as sqrt(n) — the sublinearity the ladder measures),
    ``rerank`` from :func:`auto_rerank` (the r10 hold-recall
    shortlist), ``n_probe`` = similarity.N_PROBE (the documented
    constant — recall on structureless corpora is floored at the
    fraction searched, exactly as ``ann_ivf_topk`` documents; routing
    gain needs corpus structure and is pytest-pinned there).
    ``n_rows`` is the corpus size when the caller already counted it
    (``similarity.ivf_ladder``); otherwise one count job pays for it.

    Scale shape: ONE fused corpus pass (assignment + encode in the
    same Arrow batch — :func:`pq_assign_encode_arrow`, list_id rides
    the encode so there is no corpus-scale code⋈list join and the raw
    vector never returns to the JVM), then the probed-list restriction
    (broadcast (query, list) pairs), the in-row ADC gather, and the
    two per-query top-k windows. Both trainers run driver-local on
    the shared hash-capped sample."""
    from stream_processing_test_spark.llm.similarity import (
        N_PROBE,
        auto_lists,
    )

    if n_probe is None:
        n_probe = N_PROBE
    if n_rows is None:
        n_rows = emb.select("vec_id").count()
    if rerank is None:
        rerank = auto_rerank(n_rows)
    if n_lists is None:
        n_lists = auto_lists(n_rows)
    index = ivfadc_index(emb, n_rows, n_lists)
    if index is None:
        return _empty_topk(emb.sparkSession)
    enc, centroids, rows = index
    return ivfpq_search(
        enc,
        centroids,
        rows,
        emb,
        queries,
        n_probe=n_probe,
        top_k=top_k,
        rerank=rerank,
        large_batch=large_batch,
    )


def ivfpq_search(
    enc: DataFrame,
    centroids: DataFrame,
    rows: list[tuple[int, int, list[float]]],
    emb: DataFrame,
    queries: DataFrame,
    n_probe: int,
    rerank: int,
    large_batch: bool,
    top_k: int = TOP_K,
) -> DataFrame:
    """Search a STANDING IVFADC index: ``enc`` is the encoded index
    relation (vec_id, list_id, c0..c{M-1}) from
    :func:`pq_assign_encode_arrow`, ``centroids``/``rows`` the frozen
    coarse quantizer and codebooks it was built with, ``emb`` the raw
    vectors the exact re-rank fans back into. Split out of
    :func:`ivfpq_topk` in r14 so a continuous-ingest deployment (and
    the windowed-append ladder rung) can build the index ONCE —
    localCheckpoint/persist it as the standing inverted lists — and
    stream query windows through this search without re-paying
    training, assignment, or encode per window: exactly the 100 TB
    shape, where the index is a materialized table and searches are
    the recurring cost."""
    from stream_processing_test_spark.llm.similarity import route_queries

    lutw = _lut_wide(queries, rows)
    probed = route_queries(queries, centroids, n_probe)
    if large_batch:
        # the ivf_topk large_batch skew fix, same reasoning: queries
        # probe popular lists in proportion to their size, so per-list
        # gather work grows ~|list| x |probers| — round-robin the
        # encoded index so the probe join's tasks spread. The wide LUT
        # (~4 KB/query) is batch-scaled here, so its join is left to
        # the planner instead of force-broadcast.
        enc = enc.repartition(
            2 * emb.sparkSession.sparkContext.defaultParallelism
        )
        lut_join = enc.join(F.broadcast(probed), "list_id").join(
            lutw, "query_id"
        )
    else:
        # list restriction FIRST (broadcast (query, list) pairs), then
        # the |queries|-row wide LUT broadcast on query_id
        lut_join = enc.join(F.broadcast(probed), "list_id").join(
            F.broadcast(lutw), "query_id"
        )
    # ADC gathered in-row (:func:`_adc_gather`) — the gather input is
    # the probed fraction of the encoded corpus, no explode, no keyed
    # sum
    scored = _adc_gather(lut_join)
    return _adc_rank(
        scored, emb, queries, rerank, top_k, large_batch=large_batch
    )


def _probed_adc_ctes(q_src: str | None = None) -> str:
    """The probed-ADC oracle chain shared by every IVF-PQ replay: the
    PQ training/encode/LUT CTEs (:func:`_pq_train_ctes`, ``q_src`` as
    there), each code row tagged with its ``assign_final`` list, and
    ``adc(query_id, vec_id, idot, insq)`` — the integer ADC sums over
    the lists the ``probed`` CTE routes each query to, self-pairs
    excluded (the SQL twin of :func:`ivfpq_search`'s gather).
    :func:`_adc_tail_sql` takes it from there."""
    pieces_sql, codes_union, lut_union = _pq_train_ctes(q_src)
    return f"""{pieces_sql},
pcodes AS ({codes_union}),
codes AS (
    SELECT p.vec_id, a.list_id, p.s, p.code
    FROM pcodes p JOIN assign_final a USING (vec_id)
),
lut AS ({lut_union}),
adc AS (
    SELECT l.query_id, codes.vec_id,
           SUM(l.ipart) AS idot, SUM(l.cnsq) AS insq
    FROM codes
    JOIN probed p ON p.list_id = codes.list_id
    JOIN lut l ON l.query_id = p.query_id
              AND l.s = codes.s AND l.code = codes.code
    WHERE codes.vec_id <> l.query_id
    GROUP BY 1, 2
)"""


def _ivfpq_oracle() -> str:
    """DuckDB oracle for the IVF-PQ composition: the IVF Lloyd chain
    in DYNAMIC-list mode (``_ivf_lloyd_ctes(n_lists=None)`` bounded by
    the ``nl`` CTE replaying :func:`similarity.auto_lists`), the
    N_PROBE routing, the probed ADC (:func:`_probed_adc_ctes`) and the
    shared shortlist/re-rank tail with the ``rr`` auto_rerank bound.
    Both policy rules and the training gate are recomputed from the
    oracle's own COUNT(*) — the whole composition replays at any
    corpus size."""
    from stream_processing_test_spark.llm.similarity import (
        N_PROBE,
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
{_rerank_cte()},
{auto_lists_ctes()},
{lloyd},
{query_cte("esig")},
{probed_cte(cents, N_PROBE, carry_qv=False)},
{_probed_adc_ctes()},
{_adc_tail_sql("(SELECT rerank FROM rr)", TOP_K)}
"""


@register(
    "ann_ivfpq_topk",
    oracle=_ivfpq_oracle(),
    survey_ops="§7-similarity,IVF,PQ",
    tier=0,  # new in r10
)
def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN over the embeddings table: auto-sized coarse lists
    route each query to N_PROBE lists, 16×4-bit PQ codes ADC-score
    only those lists, and the auto_rerank shortlist is exactly
    re-ranked. See :func:`ivfpq_topk` for the composition's scale
    story and the policy defaults."""
    from stream_processing_test_spark.llm.similarity import (
        load_vectors,
        query_set,
    )

    emb = load_vectors(spark, sf_dir)
    return ivfpq_topk(emb, query_set(emb))


@register(
    "ann_pq_topk",
    oracle=_pq_oracle(),
    survey_ops="§7-similarity,PQ",
    tier=0,  # r9-new (was inconsistently 1 — ADVICE r9 #5)
)
def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN over the embeddings table: 16×4-bit
    codes per vector, asymmetric-distance (ADC) cosine scoring from
    integer lookup tables, per-query top-k with the shortlist sized by
    the :func:`auto_rerank` hold-recall policy (declared floor:
    recall@10 >= 0.75 on the ladder corpora; the oracle replays the
    rule from its own COUNT(*)). See the module docstring for the
    compression/scale story and the oracle-parity design (driver-local
    bounded training, 6-decimal rounding bridges, associative integer
    ADC)."""
    from stream_processing_test_spark.llm.similarity import (
        load_vectors,
        query_set,
    )

    emb = load_vectors(spark, sf_dir)
    return pq_topk(emb, query_set(emb))
