"""Property-based tests (hypothesis) for the pure-Python layers: the
stdlib codecs, the portable hash family, and the day-close predicate.
These run without a SparkSession, so hypothesis can afford hundreds of
examples per property."""

from __future__ import annotations

import sys
from datetime import datetime, timedelta
from pathlib import Path

from hypothesis import given, settings
from hypothesis import strategies as st

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from stream_processing_test_spark.functions.scalars import (
    crosses_next_utc_midnight,
)
from stream_processing_test_spark.llm import codecs
from stream_processing_test_spark.llm.hashing import minfam_coeffs, phash_py


@settings(max_examples=60, deadline=None)
@given(
    w=st.integers(1, 24),
    h=st.integers(1, 24),
    ch=st.sampled_from([1, 2, 3, 4]),
    data=st.data(),
)
def test_png_roundtrip_property(w, h, ch, data):
    px = bytes(
        data.draw(
            st.lists(
                st.integers(0, 255), min_size=w * h * ch, max_size=w * h * ch
            )
        )
    )
    blob = codecs.encode_png(w, h, ch, px)
    gw, gh, gch, gpx = codecs.decode_png(blob)
    assert (gw, gh, gch) == (w, h, ch)
    assert bytes(gpx) == px


@settings(max_examples=60, deadline=None)
@given(
    w=st.integers(1, 16),
    h=st.integers(1, 16),
    rw=st.integers(1, 16),
    rh=st.integers(1, 16),
    ch=st.sampled_from([1, 3]),
    data=st.data(),
)
def test_resize_nearest_properties(w, h, rw, rh, ch, data):
    px = bytes(
        data.draw(
            st.lists(
                st.integers(0, 255), min_size=w * h * ch, max_size=w * h * ch
            )
        )
    )
    out = codecs.resize_nearest(w, h, ch, px, rw, rh)
    # exact output geometry
    assert len(out) == rw * rh * ch
    # every output pixel is an input pixel (nearest-neighbor never blends)
    src_pixels = {px[i : i + ch] for i in range(0, len(px), ch)}
    for i in range(0, len(out), ch):
        assert out[i : i + ch] in src_pixels
    # identity resize is a no-op
    assert codecs.resize_nearest(w, h, ch, px, w, h) == px


@settings(max_examples=200, deadline=None)
@given(st.text(max_size=80))
def test_phash_range_and_stability(s):
    v = phash_py(s)
    assert 0 <= v < (1 << 60)  # 60-bit, non-negative in a signed long
    assert phash_py(s) == v  # deterministic
    assert phash_py(s, seed=1) != v or s == s  # seeded family differs... usually


@settings(max_examples=50, deadline=None)
@given(st.integers(1, 64))
def test_minfam_coeffs_valid(n):
    from stream_processing_test_spark.llm.hashing import MINFAM_P

    coeffs = minfam_coeffs(n)
    assert len(coeffs) == n
    # mod-prime affine family: a in [1, P-1] (never 0 mod P), b in [0, P);
    # regenerating gives the identical family (oracle replay)
    for a, b in coeffs:
        assert 1 <= a < MINFAM_P
        assert 0 <= b < MINFAM_P
    assert minfam_coeffs(n) == coeffs


@settings(max_examples=200, deadline=None)
@given(
    ts=st.datetimes(
        min_value=datetime(2020, 1, 1), max_value=datetime(2030, 1, 1)
    ),
    wait=st.integers(1, 24 * 60),
)
def test_day_close_predicate_property(ts, wait):
    """crosses_next_utc_midnight(t, w) is true iff t + w minutes lands
    on or past the next UTC midnight — checked against a direct
    date-arithmetic reformulation."""
    got = crosses_next_utc_midnight(ts, wait)
    next_midnight = (ts + timedelta(days=1)).replace(
        hour=0, minute=0, second=0, microsecond=0
    )
    want = ts + timedelta(minutes=wait) >= next_midnight
    assert got == want


def test_phash_three_twins_agree(spark):
    """The portability contract every LSH oracle rests on: the Spark
    expression, the DuckDB SQL fragment, and driver Python compute the
    IDENTICAL 60-bit hash for the same string — including unicode,
    quotes, backslashes and whitespace (UTF-8 md5 in all three)."""
    import duckdb

    from stream_processing_test_spark.llm.hashing import phash, phash_py

    samples = [
        "",
        "a",
        "hello world",
        "shingle one two three four five",
        "流质量检测评分",
        "emoji 🎬🎥",
        "it's \"quoted\" and back\\slashed",
        "line\nbreak\ttab",
        "0x0",
        "1920x1080",
        "x" * 500,
    ]
    py = [phash_py(s) for s in samples]

    sdf = spark.createDataFrame([(s,) for s in samples], "s STRING")
    from pyspark.sql import functions as F

    got_spark = [
        r["h"] for r in sdf.select(phash(F.col("s")).alias("h")).collect()
    ]
    assert got_spark == py

    con = duckdb.connect()
    # execute the SHIPPED fragment (phash_sql), not a re-derivation —
    # a drift in the twin breaks this test, not a distant oracle
    from stream_processing_test_spark.llm.hashing import phash_sql

    got_duck = [
        con.execute(f"SELECT {phash_sql('?')}", [s]).fetchone()[0]
        for s in samples
    ]
    assert got_duck == py


@settings(max_examples=300, deadline=None)
@given(
    n=st.integers(min_value=0, max_value=10**14),
    target=st.integers(min_value=1, max_value=1 << 20),
)
def test_auto_planes_occupancy_invariant(n, target):
    """The whole point of auto_planes as a property: for every corpus
    size and occupancy target, either the expected bucket occupancy
    n / 2^planes is at or under target, or the result is pinned at the
    clamp (floor when n is small, ceiling when even max_planes cannot
    reach the target). Plus monotonicity in n — more rows can never
    mean fewer planes."""
    from stream_processing_test_spark.llm.similarity import (
        MAX_PLANES,
        N_PLANES,
        auto_planes,
    )

    p = auto_planes(n, target_occupancy=target)
    assert N_PLANES <= p <= MAX_PLANES
    if n <= target:
        assert p == N_PLANES
    elif p < MAX_PLANES:
        # target met, and p is MINIMAL (p-1 would overflow the target)
        assert target * (1 << p) >= n
        if p > N_PLANES:
            assert target * (1 << (p - 1)) < n
    else:
        # at the ceiling: either it just meets the target or nothing can
        assert p == MAX_PLANES
    assert auto_planes(n + 1, target_occupancy=target) >= p


def test_embedding_lsh_float_payload_is_bit_identical(spark):
    """embedding_lsh_pairs accepts the source array<float> column (half
    the verify-join shuffle bytes) with every fold widening to double
    at the expression — so a float-payload run and a pre-widened
    double-payload run must produce EXACTLY the same pairs and
    cosines, not merely close ones."""
    from pyspark.sql import functions as F

    from stream_processing_test_spark.llm.dedup import embedding_lsh_pairs
    from stream_processing_test_spark.tables import load

    sf = "/root/testdata/sf0.001"
    base = load(spark, sf, "embeddings")
    as_float = base.select("vec_id", F.col("embedding").alias("v"))
    as_double = base.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    got_f = {
        (r["doc_a"], r["doc_b"]): r["cos_sim"]
        for r in embedding_lsh_pairs(as_float).collect()
    }
    got_d = {
        (r["doc_a"], r["doc_b"]): r["cos_sim"]
        for r in embedding_lsh_pairs(as_double).collect()
    }
    assert got_f == got_d
    assert got_f  # non-vacuous


def test_scale_stress_marker_invalidates_on_gen_change(tmp_path):
    """_reuse_or_gen must regenerate when ANY generation parameter
    (including the constants folded in by _doc_params/_vec_params)
    changes, and reuse only on an exact match — the staleness contract
    that keeps ladder corpora honest across code edits."""
    import sys as _sys

    _sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
    import scale_stress as ss

    calls = []

    def gen():
        calls.append(1)
        p = tmp_path / "documents.parquet"
        p.write_bytes(b"x")
        return {"path": str(p)}

    params = ss._doc_params(100, 0.4)
    s1 = ss._reuse_or_gen(str(tmp_path), params, gen)
    assert calls == [1] and s1.get("reused") is None
    # identical params -> reused, generator NOT called
    s2 = ss._reuse_or_gen(str(tmp_path), params, gen)
    assert calls == [1] and s2.get("reused") is True
    # any changed generation constant -> regenerated
    changed = {**params, "gen_version": params["gen_version"] + 1}
    s3 = ss._reuse_or_gen(str(tmp_path), changed, gen)
    assert calls == [1, 1] and s3.get("reused") is None


def test_scale_stress_merge_keeps_previous_keys():
    """A rerun of one tier or query must lose nothing the previous
    artifact recorded: tiers and tier keys it did not run, queries it
    did not time, and top-level keys it did not recompute (the retired
    fixed-4 contrast ratios). A key the run produced takes the new
    value."""
    import sys as _sys

    _sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
    import scale_stress as ss

    prev = {
        "metric": "dedup_ladder_scale_stress",
        "calibration_runs": [{"tiers": "vec_fixed4"}],
        "tiers": {
            "vec_fixed4": {"fixed4": {"wall_sec": 3.1}},
            "x1": {
                "corpus": {"n_docs": 5_000},
                "queries": {"dup_clusters": {"wall_sec": 2.0}},
                "keep_canonical_staged": {"total_sec": 4.0},
            },
        },
        "vec_fixed4_ratio_2x": 3.94,
        "scaling_ratio_x10_over_x1": {"dup_clusters": 9.0},
    }
    result = {
        "metric": "dedup_ladder_scale_stress",
        "calibration_runs": [{"tiers": "x1"}],
        "tiers": {
            "x1": {
                "corpus": {"n_docs": 5_000, "reused": True},
                "queries": {"dedup_ngram_jaccard": {"wall_sec": 1.0}},
            },
        },
        "scaling_ratio_x10_over_x1": {"dup_clusters": 8.0},
    }
    ss._merge_previous(result, prev)

    assert result["tiers"]["vec_fixed4"] == {"fixed4": {"wall_sec": 3.1}}
    x1 = result["tiers"]["x1"]
    assert x1["keep_canonical_staged"] == {"total_sec": 4.0}
    assert set(x1["queries"]) == {"dup_clusters", "dedup_ngram_jaccard"}
    assert x1["corpus"] == {"n_docs": 5_000, "reused": True}
    assert result["vec_fixed4_ratio_2x"] == 3.94
    assert result["scaling_ratio_x10_over_x1"] == {"dup_clusters": 8.0}
    assert result["calibration_runs"] == [{"tiers": "vec_fixed4"}, {"tiers": "x1"}]


def test_scale_stress_kept_runners_complete(spark, tmp_path):
    """Every runner the scale ladder keeps completes on tiny corpora
    made by the tool's own generators, so a signature drift in the
    package calls it makes (events_stream, click_purchase_pairs,
    embedding_lsh_pairs, the keep-verdict gate) fails here instead of
    on the next multi-hour rerun."""
    import sys as _sys

    _sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
    import scale_stress as ss

    docs, vecs, events = (str(tmp_path / d) for d in ("docs", "vecs", "events"))
    for d in (docs, vecs, events):
        Path(d).mkdir()
    ss.gen_corpus(docs, 300, 0.4)
    ss.gen_vectors(vecs, 2_000, 0.2)
    ss.gen_events(events, 5_000)

    q = ss.time_query(spark, "dedup_ngram_jaccard", docs, 1)
    assert q["rows"] > 0 and len(q["samples"]) == 1

    staged = ss.overbudget_staged(spark, docs)
    gate = staged["gate"]
    assert staged["pairs_rows"] > 0 and gate["clustered_nodes"] > 0
    # a tiny node set fits the broadcast budget, so the hint applies
    assert 0 < gate["est_bytes"] <= gate["threshold_bytes"]
    assert gate["broadcast_hint_applied"] is True
    assert staged["verdict_rows_total"] == 300
    assert 0 < staged["verdict_rows_kept"] < 300
    assert staged["verdict_join_node"] != "unknown"

    lsh = ss.vector_lsh_run(spark, vecs, 1)
    assert lsh["n_vecs"] == 2_000 and lsh["tables"] == ss.VEC_TABLES
    assert lsh["target_occupancy"] == ss.VEC_OCCUPANCY
    assert lsh["pairs"] > 0 and lsh["planted_recall"] > 0

    for which in ss.STREAM_ARMS:
        run = ss.streaming_run(spark, events, which, 1)
        assert run["n_events"] == 5_000, which
        assert run["n_batches"] > 0 and run["events_per_sec"] > 0, which
        assert run["state_rows_total"] is not None, which


def _fold_reference_labels(V, cents_sorted):
    """Pure pre-r13 parity chain, re-derived independently: dots and
    norms fold left-to-right across dims, sims round half-up to 6
    decimals, first-max argmax, zero-norm rows take the smallest id."""
    import numpy as np

    from stream_processing_test_spark.llm.hashing import round6_np

    C = np.array([c for _, c in cents_sorted], dtype=np.float64)
    ids = np.array([i for i, _ in cents_sorted], dtype=np.int64)
    k, dim = C.shape
    acc = np.zeros((len(V), k))
    nc = np.zeros(k)
    nv = np.zeros(len(V))
    for j in range(dim):
        acc += V[:, j : j + 1] * C[None, :, j]
        nc += C[:, j] * C[:, j]
        nv += V[:, j] * V[:, j]
    nc, nv = np.sqrt(nc), np.sqrt(nv)
    import numpy as _np

    with _np.errstate(invalid="ignore", divide="ignore"):
        sims = round6_np(acc / (nv[:, None] * nc[None, :]))
    lab = ids[_np.argmax(sims, axis=1)]
    lab[nv == 0.0] = ids[0]
    return lab


@settings(max_examples=120, deadline=None)
@given(data=st.data())
def test_assign_labels_blas_equals_parity_fold(data):
    """Property: the guarded-BLAS kernel (the exact code every Arrow
    batch of the assignment runs) selects BIT-IDENTICALLY to the pure
    parity fold on adversarial inputs — near-ties (scaled copies of
    centroids, convex blends of two centroids that force rounded-sim
    ties), zero vectors, tiny/huge magnitudes, and random noise."""
    import numpy as np

    from stream_processing_test_spark.llm.similarity import assign_labels_np

    dim = data.draw(st.integers(2, 12), label="dim")
    k = data.draw(st.integers(1, 9), label="k")
    rng = np.random.default_rng(data.draw(st.integers(0, 2**31), label="seed"))
    cents = [(i, rng.normal(size=dim).tolist()) for i in range(k)]
    C = np.array([c for _, c in cents])

    n_noise = data.draw(st.integers(0, 30), label="n_noise")
    scale = 10.0 ** data.draw(st.integers(-6, 6), label="scale")
    rowsets = [rng.normal(size=(n_noise, dim)) * scale]
    # adversarial rows: scaled centroid copies (exact cos=1 ties) and
    # pairwise centroid blends (rounded sims frequently tie)
    for i in range(k):
        rowsets.append(C[i : i + 1] * 2.5)
    if k >= 2:
        a, b = data.draw(st.integers(0, k - 1)), data.draw(st.integers(0, k - 1))
        t = data.draw(st.floats(0.0, 1.0, allow_nan=False))
        rowsets.append((t * C[a] + (1 - t) * C[b])[None, :])
    rowsets.append(np.zeros((1, dim)))
    V = np.vstack(rowsets)

    got = assign_labels_np([r.tolist() for r in V], sorted(cents))
    want = _fold_reference_labels(V, sorted(cents))
    assert (got == want).all()


def _fold_reference_codes(V, rows):
    """Pure PQ-encode parity chain, re-derived independently of the
    kernel: per subspace, dist = greatest((xsq - 2·dot) + csq, 0) with
    every fold LEFT-TO-RIGHT across dims, integer keys
    floor(dist·1e6 + 0.5)·PQ_CODES + code, min key wins (min distance
    first, ties to the smaller code) — the exact selection
    pq.pq_encode spells as Catalyst expressions and the DuckDB oracle
    replays as CTEs."""
    import numpy as np

    from stream_processing_test_spark.llm.pq import PQ_CODES

    by_sub = {}
    for s, code, centroid in rows:
        by_sub.setdefault(s, []).append((code, centroid))
    subs = sorted(by_sub)
    out = np.empty((len(V), len(subs)), dtype=np.int32)
    for si, s in enumerate(subs):
        entries = sorted(by_sub[s])
        codes_arr = np.array([c for c, _ in entries], dtype=np.int64)
        C = np.array([cent for _, cent in entries], dtype=np.float64)
        k, dsub = C.shape
        Xs = V[:, s * dsub : (s + 1) * dsub]
        acc = np.zeros((len(V), k))
        xsq = np.zeros(len(V))
        csq = np.zeros(k)
        for j in range(dsub):
            acc += Xs[:, j : j + 1] * C[None, :, j]
            xsq += Xs[:, j] * Xs[:, j]
            csq += C[:, j] * C[:, j]
        dist = np.maximum((xsq[:, None] - 2.0 * acc) + csq[None, :], 0.0)
        keys = (
            np.floor(dist * 1000000.0 + 0.5).astype(np.int64) * PQ_CODES
            + codes_arr[None, :]
        )
        out[:, si] = (keys.min(axis=1) % PQ_CODES).astype(np.int32)
    return out


@settings(max_examples=120, deadline=None)
@given(data=st.data())
def test_encode_codes_blas_equals_parity_fold(data):
    """Property (r14, the encode twin of the r13 assignment-kernel
    pin): the guarded-BLAS PQ-encode kernel — the exact code every
    Arrow batch of pq_encode_arrow runs — selects BIT-IDENTICALLY to
    the pure micro-key parity fold on adversarial inputs: rows equal
    to codewords (zero distance, key ties broken by code), convex
    codeword blends (micro-distance ties), zero rows, tiny/huge
    magnitudes, and random noise."""
    import numpy as np

    from stream_processing_test_spark.llm.pq import encode_codes_np

    n_subs = data.draw(st.integers(1, 4), label="n_subs")
    dsub = data.draw(st.integers(1, 6), label="dsub")
    k = data.draw(st.integers(1, 8), label="k")
    dim = n_subs * dsub
    rng = np.random.default_rng(data.draw(st.integers(0, 2**31), label="seed"))
    rows = [
        (s, code, rng.normal(size=dsub).tolist())
        for s in range(n_subs)
        for code in range(k)
    ]

    n_noise = data.draw(st.integers(0, 30), label="n_noise")
    scale = 10.0 ** data.draw(st.integers(-4, 4), label="scale")
    rowsets = [rng.normal(size=(n_noise, dim)) * scale]
    # adversarial rows: full vectors stitched from per-subspace
    # codewords (dist exactly 0 in every subspace -> pure code
    # tiebreak), and stitched blends of two codewords (micro ties)
    by_sub = {}
    for s, code, centroid in rows:
        by_sub.setdefault(s, {})[code] = np.array(centroid)
    pick = data.draw(st.integers(0, k - 1), label="pick")
    rowsets.append(
        np.concatenate([by_sub[s][pick] for s in range(n_subs)])[None, :]
    )
    if k >= 2:
        a = data.draw(st.integers(0, k - 1), label="blend_a")
        b = data.draw(st.integers(0, k - 1), label="blend_b")
        t = data.draw(st.floats(0.0, 1.0, allow_nan=False), label="t")
        rowsets.append(
            np.concatenate(
                [t * by_sub[s][a] + (1 - t) * by_sub[s][b] for s in range(n_subs)]
            )[None, :]
        )
    rowsets.append(np.zeros((1, dim)))
    V = np.vstack(rowsets)

    got = encode_codes_np([r.tolist() for r in V], rows)
    want = _fold_reference_codes(V, rows)
    assert (got == want).all()


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.lists(
            st.text(alphabet="ab@", min_size=1, max_size=3),
            min_size=1,
            max_size=8,
        ),
        min_size=1,
        max_size=12,
    )
)
def test_bpe_string_encoding_matches_token_merge(corpus):
    """The BPE trainer's double-space string encoding + one-pass
    literal replace (the semantics Spark's and DuckDB's ``replace``
    share with Python's ``str.replace``) must merge exactly what the
    token-list reference merges, round after round, on arbitrary
    corpora — '@'-bearing tokens (joiner collisions), overlap chains
    (``a a a``), count ties, single-token docs. The fixture test
    (tests/test_llm_ops.py) pins Spark == reference end-to-end and the
    oracle gate pins Spark == DuckDB; this property closes the
    encoding itself over the adversarial input space."""
    from collections import Counter

    from stream_processing_test_spark.llm.corpus import _BPE_JOIN

    docs_tok = [list(t) for t in corpus]
    strs = [" " + "  ".join(t) + " " for t in corpus]

    for _ in range(3):
        counts = Counter()
        for t in docs_tok:
            for i in range(len(t) - 1):
                counts[(t[i], t[i + 1])] += 1
        if not counts:
            break
        (w1, w2), _n = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merged = []
        for t in docs_tok:
            out, i = [], 0
            while i < len(t):
                if i + 1 < len(t) and t[i] == w1 and t[i + 1] == w2:
                    out.append(t[i] + _BPE_JOIN + t[i + 1])
                    i += 2
                else:
                    out.append(t[i])
                    i += 1
            merged.append(out)
        docs_tok = merged
        pat, rep = f" {w1}  {w2} ", f" {w1}{_BPE_JOIN}{w2} "
        strs = [s.replace(pat, rep) for s in strs]
        decoded = [s.strip(" ").split("  ") for s in strs]
        assert decoded == docs_tok
