"""Quality tests for the LLM-data-pipeline operators: the approximate
paths (MinHash LSH, SimHash, hyperplane-LSH ANN) validated against
their exact counterparts.
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

import pandas as pd
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from stream_processing_test_spark.registry import all_queries

SF = "/root/testdata/sf0.01"


def _q(name):
    return all_queries()[name]


def test_minhash_recall_against_exact_jaccard(spark):
    """Banded MinHash must recover (almost) every exact-Jaccard>=0.8
    pair — at the 8x4 banding s-curve, pairs at j>=0.9 collide with
    probability >1-1e-4."""
    exact = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in _q("dedup_ngram_jaccard").fn(spark, SF).collect()
    }
    approx = {
        (r["doc_a"], r["doc_b"]): r["est_jaccard"]
        for r in _q("dedup_minhash_lsh").fn(spark, SF).collect()
    }
    high = {p for p, j in exact.items() if j >= 0.9}
    assert high, "fixture should contain planted near-duplicates"
    recall = len(high & set(approx)) / len(high)
    assert recall >= 0.9, f"minhash recall {recall:.2f} over {len(high)} pairs"


def test_minhash_estimates_close_to_exact(spark):
    exact = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in _q("dedup_ngram_jaccard").fn(spark, SF).collect()
    }
    approx = {
        (r["doc_a"], r["doc_b"]): r["est_jaccard"]
        for r in _q("dedup_minhash_lsh").fn(spark, SF).collect()
    }
    common = set(exact) & set(approx)
    assert common
    for p in common:
        assert abs(exact[p] - approx[p]) < 0.25, (p, exact[p], approx[p])


def test_simhash_finds_near_duplicates(spark):
    """SimHash (hamming<=3) pairs should be a plausible near-dup set:
    non-empty on the planted-dup fixture and strongly overlapping the
    exact-Jaccard high-similarity pairs."""
    sim = {(r["doc_a"], r["doc_b"]) for r in _q("dedup_simhash").fn(spark, SF).collect()}
    exact = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in _q("dedup_ngram_jaccard").fn(spark, SF).collect()
    }
    assert sim
    overlap = sum(1 for p in sim if exact.get(p, 0) >= 0.5)
    assert overlap / len(sim) >= 0.8


def test_embedding_lsh_candidate_verify(spark):
    """The candidate/verify composition must emit a SUBSET of the exact
    quadratic pairs (the verify stage applies the identical predicate —
    precision 1.0 by construction) with recall on the LSH collision
    curve (≈0.91 at cos 0.35 for 16 tables × 4 planes; floor 0.75
    leaves ~5 sigma of binomial slack on a few-hundred-pair fixture)."""
    exact = {
        (r["doc_a"], r["doc_b"]): r["cos_sim"]
        for r in _q("dedup_embedding_cosine").fn(spark, SF).collect()
    }
    approx = {
        (r["doc_a"], r["doc_b"]): r["cos_sim"]
        for r in _q("dedup_embedding_lsh").fn(spark, SF).collect()
    }
    assert exact, "fixture should contain above-threshold pairs"
    assert set(approx) <= set(exact)  # precision 1.0
    for p, c in approx.items():
        assert c == exact[p]  # verify stage scores exactly
    recall = len(approx) / len(exact)
    assert recall >= 0.75, f"embedding-LSH recall {recall:.2f} over {len(exact)} pairs"


def test_embedding_knn_graph(spark):
    """The k-NN graph is the per-node top-k of the verified candidate
    relation: ranks contiguous from 1 and capped at KNN_GRAPH_K, rows
    ordered by (cos DESC, neighbor ASC) within a node, the underlying
    pair relation symmetric (a missing reverse edge is only legal when
    the reverse node's list is full of strictly better keys), and
    every above-threshold edge scoring exactly as the quadratic twin."""
    from stream_processing_test_spark.llm.dedup import (
        EMBED_COSINE_THRESHOLD,
    )
    from stream_processing_test_spark.llm.embeddings import KNN_GRAPH_K

    rows = _q("embedding_knn_graph").fn(spark, SF).collect()
    assert rows
    by_node: dict = {}
    for r in rows:
        by_node.setdefault(r["vec_id"], []).append(r)
    for vid, nbrs in by_node.items():
        nbrs.sort(key=lambda r: r["rk"])
        assert [r["rk"] for r in nbrs] == list(range(1, len(nbrs) + 1))
        assert len(nbrs) <= KNN_GRAPH_K
        keys = [(-r["cos_sim"], r["neighbor_id"]) for r in nbrs]
        assert keys == sorted(keys)
        assert vid not in {r["neighbor_id"] for r in nbrs}

    edge = {(r["vec_id"], r["neighbor_id"]): r["cos_sim"] for r in rows}
    for (a, b), c in edge.items():
        if (b, a) in edge:
            assert edge[(b, a)] == c
        else:
            back = by_node[b]
            assert len(back) == KNN_GRAPH_K
            worst = back[-1]
            assert (-worst["cos_sim"], worst["neighbor_id"]) < (-c, a)

    exact = {
        (r["doc_a"], r["doc_b"]): r["cos_sim"]
        for r in _q("dedup_embedding_cosine").fn(spark, SF).collect()
    }
    checked = 0
    for (a, b), c in edge.items():
        # margin keeps raw-vs-rounded threshold straddles out of scope
        if c >= EMBED_COSINE_THRESHOLD + 0.001:
            key = (min(a, b), max(a, b))
            assert key in exact and exact[key] == c
            checked += 1
    assert checked, "fixture should put above-threshold pairs in the graph"


def test_ann_lsh_recall_at_k(spark):
    brute = _q("ann_cosine_topk").fn(spark, SF).collect()
    lsh = _q("ann_lsh_topk").fn(spark, SF).collect()
    top3 = {
        (r["query_id"], r["neighbor_id"]) for r in brute if r["rk"] <= 3
    }
    got = {(r["query_id"], r["neighbor_id"]) for r in lsh}
    recall = len(top3 & got) / len(top3)
    assert recall >= 0.6, f"ANN recall@3 {recall:.2f}"


def test_auto_planes_sql_twin_matches_python():
    """The registered LSH queries size planes from a corpus-count probe
    (Python ``auto_planes``) while their oracles recompute the rule in
    SQL (``auto_planes_ctes``) — the two must agree EXACTLY, including
    at power-of-two boundaries, or the driver gate would compare
    different bucketings. Integer arithmetic on both sides makes this a
    hard equality, probed across the boundary counts."""
    import duckdb

    from stream_processing_test_spark.llm.similarity import (
        auto_planes,
        auto_planes_ctes,
    )

    con = duckdb.connect()
    for n in [1, 500, 1024, 1025, 2000, 16384, 16385, 10**5, 10**6,
              5 * 10**7, 10**9]:
        con.execute(
            f"CREATE OR REPLACE VIEW embeddings AS "
            f"SELECT range AS vec_id FROM range({n})"
        )
        got = con.sql(
            f"WITH {auto_planes_ctes()} SELECT planes FROM np"
        ).fetchone()[0]
        assert got == auto_planes(n), (n, got, auto_planes(n))


def test_embedding_lsh_dynamic_planes_cross_engine_parity(spark):
    """End-to-end cross-engine replay at a NON-DEFAULT plane count: the
    parameterized pipeline (``embedding_lsh_pairs`` at a small target
    occupancy, which auto-sizes to 5 planes on the 500-vector fixture)
    must emit exactly the pairs a DuckDB replay with the same explicit
    plane count computes. Pins that the oracle machinery replays ANY
    parameterization, not just the 4-plane floor the driver fixtures
    resolve to."""
    from pyspark.sql import functions as F

    from stream_processing_test_spark.llm.dedup import (
        EMBED_COSINE_THRESHOLD,
        embedding_lsh_pairs,
    )
    from stream_processing_test_spark.llm.similarity import (
        auto_planes,
        bucket_ctes,
    )
    from stream_processing_test_spark.oracle import duckdb_connection
    from stream_processing_test_spark.tables import load

    sf = "/root/testdata/sf0.001"
    n = 500
    target = 16
    planes = auto_planes(n, target_occupancy=target)
    assert planes == 5  # 16 * 2^4 = 256 < 500 <= 512 = 16 * 2^5

    emb = load(spark, sf, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    got = {
        (r["doc_a"], r["doc_b"]): r["cos_sim"]
        for r in embedding_lsh_pairs(
            emb, target_occupancy=target
        ).collect()
    }

    con = duckdb_connection(sf)
    sql = f"""
WITH {bucket_ctes(n_planes=planes)},
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
SELECT doc_a, doc_b, ROUND(raw, 4) AS cos_sim
FROM verified WHERE raw >= {EMBED_COSINE_THRESHOLD}
"""
    want = {
        (a, b): c for a, b, c in con.sql(sql).fetchall()
    }
    assert got == want


def test_multimodal_features_deterministic(spark):
    a = _q("multimodal_features").fn(spark, SF).collect()
    b = _q("multimodal_features").fn(spark, SF).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    assert {r["media_type"] for r in a} == {"image", "audio", "video"}


def test_resize_geometry_invariants(spark):
    from pyspark.sql import functions as F

    from stream_processing_test_spark.llm.multimodal import resize_images
    from stream_processing_test_spark.tables import load

    docs = load(spark, SF, "documents").limit(50)
    media = docs.select(
        "doc_id", F.lit("image").alias("media_type"),
        F.encode("text", "UTF-8").alias("payload"),
    )
    out = resize_images(media, target=224).collect()
    assert len(out) == 50
    for r in out:
        # shorter side <= 224, aspect ratio preserved within rounding
        assert min(r["resized_width"], r["resized_height"]) <= 224
        if min(r["width"], r["height"]) > 224:
            ar_in = r["width"] / r["height"]
            ar_out = r["resized_width"] / r["resized_height"]
            assert abs(ar_in - ar_out) / ar_in < 0.1
        else:  # small images pass through
            assert (r["resized_width"], r["resized_height"]) == (
                r["width"], r["height"],
            )


def test_frame_sampling_explodes_rows(spark):
    from pyspark.sql import functions as F

    from stream_processing_test_spark.llm.multimodal import sample_frames
    from stream_processing_test_spark.tables import load

    docs = load(spark, SF, "documents").limit(30)
    media = docs.select(
        "doc_id", F.lit("video").alias("media_type"),
        F.encode("text", "UTF-8").alias("payload"),
    )
    out = sample_frames(media, n_frames=4)
    rows = out.collect()
    assert len(rows) == 30 * 4
    per_doc = {}
    for r in rows:
        per_doc.setdefault(r["doc_id"], []).append(r)
    for frames in per_doc.values():
        ts = [f["frame_ts_ms"] for f in sorted(frames, key=lambda f: f["frame_index"])]
        assert ts == sorted(ts)  # evenly-spaced, monotonically increasing
        assert all(len(f["frame_payload"]) > 0 for f in frames)


def test_ann_ivf_recall_at_k(spark):
    """The synthetic embeddings are near-orthogonal random vectors and
    ``label`` is not a geometric cluster, so IVF routing cannot beat
    the fraction of corpus searched on THIS corpus (see llm/similarity
    docstring). The testable invariants: (a) recall is at least the
    statistical floor nprobe/n_lists (no candidates silently dropped),
    (b) every pair IVF returns carries the exact brute-force cosine —
    search within probed lists is exact, misses come only from
    routing, (c) full top-k cardinality."""
    from stream_processing_test_spark.llm.similarity import (
        N_PROBE,
        N_QUERIES,
        TOP_K,
    )
    from stream_processing_test_spark.tables import load

    brute = _q("ann_cosine_topk").fn(spark, SF).collect()
    ivf = _q("ann_ivf_topk").fn(spark, SF).collect()
    n_lists = load(spark, SF, "embeddings").select("label").distinct().count()
    assert n_lists > N_PROBE  # otherwise IVF degenerates to brute force

    top3 = {(r["query_id"], r["neighbor_id"]) for r in brute if r["rk"] <= 3}
    got = {(r["query_id"], r["neighbor_id"]) for r in ivf}
    recall = len(top3 & got) / len(top3)
    floor = 0.5 * N_PROBE / n_lists
    assert recall >= floor, f"IVF recall@3 {recall:.2f} < floor {floor:.2f}"

    brute_sim = {
        (r["query_id"], r["neighbor_id"]): r["cos_sim"] for r in brute
    }
    for r in ivf:
        key = (r["query_id"], r["neighbor_id"])
        if key in brute_sim:
            assert r["cos_sim"] == brute_sim[key]

    assert len(ivf) == N_QUERIES * TOP_K


# ---------------------------------------------------------------------------
# Connected-components clustering (llm/cluster.py)
# ---------------------------------------------------------------------------


def _union_find_components(pairs):
    """Ground truth: classic union-find over the same edge list."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def test_connected_components_matches_union_find(spark):
    """Chain + clique + isolated pair: the chain (0-1-2-3-4) has
    diameter 4, forcing multiple propagation rounds — exactly the shape
    a per-round bug would mislabel."""
    from stream_processing_test_spark.llm.cluster import connected_components

    edges = [(0, 1), (1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)]
    df = spark.createDataFrame(pd.DataFrame(edges, columns=["src", "dst"]))
    got = {
        r["node"]: r["component"]
        for r in connected_components(df).collect()
    }
    assert got == _union_find_components(edges)


def test_connected_components_nonconvergence_is_loud(spark):
    """Explicitly-pinned minlabel raises past max_iter (the default
    'auto' mode instead falls back to the star path — covered in
    test_scale_layout)."""
    from stream_processing_test_spark.llm.cluster import connected_components

    chain = [(i, i + 1) for i in range(6)]  # diameter 6 > max_iter
    df = spark.createDataFrame(pd.DataFrame(chain, columns=["src", "dst"]))
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(df, max_iter=2, algorithm="minlabel")


def test_dup_clusters_transitive(spark):
    """Every pair's endpoints land in the same cluster, and every
    cluster id is the min doc_id of its members (canonical keeper)."""
    from stream_processing_test_spark.llm.cluster import dup_clusters
    from stream_processing_test_spark.llm.dedup import dedup_ngram_jaccard

    sf = "/root/testdata/sf0.001"
    comp = {r["doc_id"]: r["component"] for r in dup_clusters(spark, sf).collect()}
    pairs = [
        (r["doc_a"], r["doc_b"])
        for r in dedup_ngram_jaccard(spark, sf).collect()
    ]
    assert pairs, "fixture must produce dup pairs or the test is vacuous"
    for a, b in pairs:
        assert comp[a] == comp[b]
    members: dict = {}
    for node, c in comp.items():
        members.setdefault(c, []).append(node)
    for c, nodes in members.items():
        assert c == min(nodes)


# ---------------------------------------------------------------------------
# Chunking edges (llm/corpus.py)
# ---------------------------------------------------------------------------


def test_chunking_reconstructs_text_and_bounds(spark, tmp_path):
    """Short doc -> one partial chunk; exact-window doc -> one full
    chunk; long doc -> overlapping chunks whose stride-prefix concat
    reconstructs the original text (no token lost or duplicated)."""
    from stream_processing_test_spark.llm.corpus import (
        CHUNK_STRIDE,
        CHUNK_TOKENS,
        doc_chunking,
    )

    texts = {
        1: "a b c",
        2: " ".join(f"t{i}" for i in range(CHUNK_TOKENS)),
        3: " ".join(f"w{i}" for i in range(137)),
    }
    pdf = pd.DataFrame(
        {
            "doc_id": list(texts),
            "text": list(texts.values()),
            "lang": ["en"] * 3,
            "source": ["s"] * 3,
            "n_chars": [len(t) for t in texts.values()],
        }
    )
    sf = str(tmp_path)
    spark.createDataFrame(pdf).write.parquet(f"{sf}/documents.parquet")
    out = doc_chunking(spark, sf).collect()
    by_doc: dict = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert [c["chunk_text"] for c in by_doc[1]] == ["a b c"]
    assert len(by_doc[2]) == 2  # window 50 stride 40: starts 0 and 40
    chunks3 = sorted(by_doc[3], key=lambda r: r["chunk_id"])
    toks = []
    for c in chunks3[:-1]:
        toks.extend(c["chunk_text"].split(" ")[:CHUNK_STRIDE])
    toks.extend(chunks3[-1]["chunk_text"].split(" "))
    assert " ".join(toks) == texts[3]
    assert all(c["n_tokens"] == len(c["chunk_text"].split(" ")) for c in out)


def test_ivf_routing_gain_on_clustered_corpus(spark):
    """On a corpus WITH geometric structure (8 well-separated centers,
    tight noise), the k-means quantizer must deliver real routing gain:
    recall@10 far above the nprobe/n_lists fraction-searched floor.
    Deterministic numpy construction (fixed seed), exact top-k computed
    in-test."""
    import numpy as np
    import pandas as pd

    from stream_processing_test_spark.llm.similarity import ivf_topk

    rng = np.random.RandomState(7)
    dim, n_centers, per = 16, 8, 50
    centers = rng.standard_normal((n_centers, dim)) * 10.0
    pts = np.concatenate(
        [c + rng.standard_normal((per, dim)) for c in centers]
    )
    n = len(pts)  # 400
    pdf = pd.DataFrame({"vec_id": range(n), "v": [list(map(float, p)) for p in pts]})
    emb = spark.createDataFrame(pdf, "vec_id BIGINT, v ARRAY<DOUBLE>")
    n_queries, top_k = 5, 10
    q = emb.filter(f"vec_id < {n_queries}").selectExpr(
        "vec_id AS query_id", "v AS qv"
    )

    n_lists, n_probe = 8, 2
    got_rows = ivf_topk(emb, q, n_lists=n_lists, n_probe=n_probe, top_k=top_k).collect()
    got = {(r["query_id"], r["neighbor_id"]) for r in got_rows}

    # exact top-k per query (numpy)
    norms = np.linalg.norm(pts, axis=1)
    expect = set()
    for qi in range(n_queries):
        cos = (pts @ pts[qi]) / (norms * norms[qi])
        cos[qi] = -np.inf
        # match the engine's 4-decimal-round + neighbor_id tiebreak
        order = sorted(range(n), key=lambda j: (-round(cos[j], 4), j))
        expect |= {(qi, j) for j in order[:top_k]}

    recall = len(expect & got) / len(expect)
    floor = n_probe / n_lists  # fraction of corpus a blind router searches
    assert recall >= 0.9, f"clustered-corpus recall@10 {recall:.2f}"
    assert recall > floor + 0.3  # genuine routing gain, not floor luck


def test_ivfpq_routing_gain_on_clustered_corpus(spark):
    """The composition twin of the IVF routing-gain pin: IVF-PQ's
    registered recall on ISOTROPIC ladder corpora sits at the
    fraction-searched floor BY GEOMETRY (the declared n_probe
    decision, REGISTRY.md) — this test pins the other half of that
    contract: on a corpus WITH structure (8 well-separated centers,
    64-dim so the real PQ_SUBS×4 sub-quantizers apply), coarse
    routing + 4-bit ADC + exact re-rank must recover recall@10 far
    above the floor. Exact top-k computed in-test (round-4 +
    neighbor-id tie-break, matching the engine)."""
    import numpy as np
    import pandas as pd

    from stream_processing_test_spark.llm.pq import ivfpq_topk

    rng = np.random.RandomState(7)
    dim, n_centers, per = 64, 8, 50
    centers = rng.standard_normal((n_centers, dim)) * 10.0
    pts = np.concatenate(
        [c + rng.standard_normal((per, dim)) for c in centers]
    )
    n = len(pts)  # 400
    pdf = pd.DataFrame({"vec_id": range(n), "v": [list(map(float, p)) for p in pts]})
    emb = spark.createDataFrame(pdf, "vec_id BIGINT, v ARRAY<DOUBLE>")
    n_queries, top_k = 5, 10
    q = emb.filter(f"vec_id < {n_queries}").selectExpr(
        "vec_id AS query_id", "v AS qv"
    )

    n_lists, n_probe = 8, 2
    got = {
        (r["query_id"], r["neighbor_id"])
        for r in ivfpq_topk(
            emb, q, n_probe=n_probe, top_k=top_k, n_lists=n_lists
        ).collect()
    }

    norms = np.linalg.norm(pts, axis=1)
    expect = set()
    for qi in range(n_queries):
        cos = (pts @ pts[qi]) / (norms * norms[qi])
        cos[qi] = -np.inf
        order = sorted(range(n), key=lambda j: (-round(cos[j], 4), j))
        expect |= {(qi, j) for j in order[:top_k]}

    recall = len(expect & got) / len(expect)
    floor = n_probe / n_lists
    assert recall >= 0.9, f"clustered-corpus IVF-PQ recall@10 {recall:.2f}"
    assert recall > floor + 0.3  # routing + ADC + re-rank, not floor luck


def test_keep_canonical_partitions_corpus(spark):
    """Every doc appears exactly once; keep == (doc is its cluster's
    min id); each cluster keeps exactly one doc; kept + dropped
    reconstruct the corpus."""
    rows = _q("dedup_keep_canonical").fn(spark, SF).collect()
    assert len(rows) == 500 and len({r["doc_id"] for r in rows}) == 500
    by_comp = {}
    for r in rows:
        by_comp.setdefault(r["component"], []).append(r)
    for comp, members in by_comp.items():
        assert comp == min(m["doc_id"] for m in members)
        keepers = [m for m in members if m["keep"]]
        assert len(keepers) == 1 and keepers[0]["doc_id"] == comp
    # clusters agree with dup_clusters on clustered nodes
    clusters = {
        r["doc_id"]: r["component"]
        for r in _q("dup_clusters").fn(spark, SF).collect()
    }
    for r in rows:
        if r["doc_id"] in clusters:
            assert r["component"] == clusters[r["doc_id"]]
        else:
            assert r["component"] == r["doc_id"] and r["keep"]


def test_decontaminate_never_flags_eval_docs_and_counts_match(spark):
    """Flagged docs are all train-side; per-doc counts match a
    brute-force recomputation from the shingle sets."""
    from stream_processing_test_spark.llm.dedup import (
        CONTAM_DF_MAX,
        CONTAM_N,
        EVAL_MOD,
        shingles,
    )
    from stream_processing_test_spark.tables import load
    import collections

    out = {r["doc_id"]: r for r in _q("decontaminate_overlap").fn(spark, SF).collect()}
    assert out and all(d % EVAL_MOD != 0 for d in out)

    sh = shingles(load(spark, SF, "documents"), n=CONTAM_N).collect()
    df = collections.Counter(r["shingle"] for r in sh)
    rare = [(r["doc_id"], r["shingle"]) for r in sh if df[r["shingle"]] <= CONTAM_DF_MAX]
    ev = collections.defaultdict(set)
    tr = collections.defaultdict(set)
    for d, s in rare:
        (ev if d % EVAL_MOD == 0 else tr)[d].add(s)
    for d, toks in tr.items():
        hits = {e: len(toks & etoks) for e, etoks in ev.items() if toks & etoks}
        if hits:
            assert d in out
            assert out[d]["n_eval_docs"] == len(hits)
            assert out[d]["max_shared"] == max(hits.values())
    assert len(out) == sum(
        1 for d, toks in tr.items() if any(toks & e for e in ev.values())
    )


def test_embedding_cosine_quadratic_guard(spark, monkeypatch):
    """The exact all-pairs twin must refuse to run past its size guard
    and point at the LSH scale path."""
    from stream_processing_test_spark.llm import dedup

    monkeypatch.setattr(dedup, "EMBED_COSINE_MAX_ROWS", 10)
    with pytest.raises(ValueError, match="dedup_embedding_lsh"):
        dedup.dedup_embedding_cosine(spark, SF)


def test_curation_pipeline_composes_its_stages(spark):
    """The pipeline's totals must equal recomputing the intersection of
    its three stage outputs — composition adds nothing and drops
    nothing."""
    q = {r["doc_id"]: r["n_tokens"]
         for r in _q("doc_quality_score").fn(spark, SF).collect()
         if r["passes_quality"]}
    keep = {r["doc_id"] for r in _q("dedup_keep_canonical").fn(spark, SF).collect()
            if r["keep"]}
    sample = {(r["doc_id"], r["source"], r["lang"])
              for r in _q("stratified_sample").fn(spark, SF).collect()}
    want = {}
    for doc_id, source, lang in sample:
        if doc_id in q and doc_id in keep:
            n, tot = want.get((source, lang), (0, 0))
            want[(source, lang)] = (n + 1, tot + q[doc_id])
    got = {(r["source"], r["lang"]): (r["n_docs"], r["total_tokens"])
           for r in _q("corpus_curation_pipeline").fn(spark, SF).collect()}
    assert got == want and got


def test_kmeans_reseeds_empty_lists(spark):
    """Force an empty list: two identical vectors both chosen as seeds
    (the smaller list_id wins every tied assignment, starving the
    other), then assert the quantizer re-seeds the starved list from
    the largest list's farthest member instead of shrinking k."""
    import numpy as np

    from stream_processing_test_spark.llm.hashing import phash_py
    from stream_processing_test_spark.llm.similarity import kmeans_lists

    k, dim, n = 4, 8, 8
    seed_ids = sorted(range(n), key=lambda i: (phash_py(str(i)), i))[:k]
    dup_a, dup_b = seed_ids[0], seed_ids[1]
    rng = np.random.RandomState(11)
    vecs = {}
    for i in range(n):
        if i in (dup_a, dup_b):
            vecs[i] = [1.0] + [0.0] * (dim - 1)  # identical pair of seeds
        else:
            # a distinct cluster: e2 + jitter, so the largest list has
            # genuinely different members to re-seed from
            v = np.array([0.0, 1.0] + [0.0] * (dim - 2))
            v = v + rng.uniform(-0.05, 0.05, dim)
            vecs[i] = [float(x) for x in v]
    emb = spark.createDataFrame(
        pd.DataFrame({"vec_id": list(range(n)), "v": [vecs[i] for i in range(n)]})
    )
    assign, centroids = kmeans_lists(emb, k=k, iters=2)
    cents = {r["list_id"]: list(r["centroid"]) for r in centroids.collect()}
    # every list id exists — the starved list was re-seeded, k never shrank
    assert sorted(cents) == list(range(k))
    # and re-running is bit-identical (the re-seed rule is deterministic)
    _, again = kmeans_lists(emb, k=k, iters=2)
    assert {r["list_id"]: list(r["centroid"]) for r in again.collect()} == cents
    # assignments only reference existing lists
    assert {r["list_id"] for r in assign.collect()} <= set(range(k))


def test_kmeans_assigns_zero_norm_vector_to_smallest_list(spark):
    """A zero-norm vector's cosine against every centroid is NaN (the
    Arrow assignment's all-NaN sim row) — it must not vanish from the
    index. Contract (the oracle's all-tied ROW_NUMBER over DuckDB's
    exact -1.0 zero-norm cosines): it lands in the smallest trained
    list."""
    from stream_processing_test_spark.llm import similarity
    emb = spark.createDataFrame(
        pd.DataFrame(
            {
                "vec_id": [0, 1, 2, 3],
                "v": [
                    [0.0, 0.0, 0.0],  # zero-norm: every sim NULL
                    [1.0, 0.0, 0.0],
                    [0.0, 1.0, 0.0],
                    [0.9, 0.1, 0.0],
                ],
            }
        )
    )
    assign, cents = similarity.kmeans_lists(emb, k=2, iters=2)
    rows = {r["vec_id"]: r["list_id"] for r in assign.collect()}
    assert set(rows) == {0, 1, 2, 3}, "zero-norm vector dropped from index"
    assert rows[0] == min(r["list_id"] for r in cents.collect())
    # ... and the zero vector never becomes a CENTROID (ADVICE r10):
    # it is filtered from the training sample by construction, so no
    # trained centroid is zero-norm and no NaN-similarity column ever
    # reaches the cross-engine ordering.
    for r in cents.collect():
        assert any(x != 0.0 for x in r["centroid"])


def test_connected_components_empty_and_kmeans_tiny(spark):
    """Degenerate inputs must not wedge the iterative operators: an
    empty edge set converges immediately to an empty labeling, and a
    corpus smaller than k yields one list per vector."""
    from stream_processing_test_spark.llm.cluster import connected_components
    from stream_processing_test_spark.llm.similarity import kmeans_lists

    empty = spark.createDataFrame([], "src LONG, dst LONG")
    assert connected_components(empty).count() == 0

    emb = spark.createDataFrame(
        pd.DataFrame({"vec_id": [1, 2], "v": [[1.0, 0.0], [0.0, 1.0]]})
    )
    assign, cents = kmeans_lists(emb, k=8, iters=1)
    assert assign.count() == 2
    # no more lists than vectors; every assignment references a list
    lists = {r["list_id"] for r in cents.collect()}
    assert {r["list_id"] for r in assign.collect()} <= lists


def test_leakage_safe_split_component_coherence(spark):
    """The whole point of the leakage-safe split: every member of a
    duplicate component is on the SAME side, the gate is deterministic
    across runs, and the train share is near TRAIN_PCT."""
    from stream_processing_test_spark.llm.cluster import (
        TRAIN_PCT,
        leakage_safe_split,
    )
    from tests.conftest import SF_SMALL

    rows = leakage_safe_split(spark, SF_SMALL).collect()
    assert len(rows) > 0
    by_comp = {}
    for r in rows:
        by_comp.setdefault(r["component"], set()).add(r["split"])
    assert all(len(s) == 1 for s in by_comp.values()), "split leaked a cluster"
    train = sum(1 for r in rows if r["split"] == "train")
    share = 100.0 * train / len(rows)
    assert abs(share - TRAIN_PCT) < 10  # md5 gate ≈ uniform
    again = leakage_safe_split(spark, SF_SMALL).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_auto_tables_sql_twin_matches_python():
    """The r9 hold-recall policy sizes the table count from the plane
    count (Python ``auto_tables``) while the oracles recompute it via a
    generated CASE (``auto_tables_ctes``) chained off the same
    ``np.planes`` CTE — the two must agree exactly at every corpus
    count, or the driver gate would compare different table sets."""
    import duckdb

    from stream_processing_test_spark.llm.similarity import (
        auto_planes,
        auto_planes_ctes,
        auto_tables,
        auto_tables_ctes,
    )

    con = duckdb.connect()
    for n in [1, 500, 1024, 16385, 10**5, 10**6, 5 * 10**7, 10**9,
              10**10, 10**11]:
        # probe the rule at synthetic counts without materializing 1e11
        # rows: nv is COUNT(*)-shaped, so substitute the count directly
        got = con.sql(
            f"WITH nv AS (SELECT {n} AS n), "
            + auto_planes_ctes().split(",\n", 1)[1]
            + f", {auto_tables_ctes()} SELECT tables FROM nt"
        ).fetchone()[0]
        assert got == auto_tables(auto_planes(n)), (n, got)


def test_auto_tables_policy_curve():
    """The AUTO_TABLES lookup IS the hold-recall guarantee: at every
    plane count where the clamp allows it, design-point recall
    1-(1-p)^tables must be >= RECALL_DESIGN (> RECALL_FLOOR); the
    curve must be monotone (more planes never fewer tables) and both
    clamps respected. Pure math over the shipped dict — if someone
    edits a constant, this pins the declared floor."""
    import math

    from stream_processing_test_spark.llm.similarity import (
        AUTO_TABLES,
        COS_DESIGN,
        MAX_PLANES,
        MAX_TABLES,
        N_PLANES,
        N_TABLES,
        RECALL_DESIGN,
        RECALL_FLOOR,
    )

    assert RECALL_DESIGN > RECALL_FLOOR
    prev = 0
    for planes in range(N_PLANES, MAX_PLANES + 1):
        t = AUTO_TABLES[planes]
        assert N_TABLES <= t <= MAX_TABLES
        assert t >= prev, "auto_tables must be monotone in planes"
        prev = t
        p = (1.0 - math.acos(COS_DESIGN) / math.pi) ** planes
        recall = 1.0 - (1.0 - p) ** t
        if t < MAX_TABLES:
            assert recall >= RECALL_DESIGN, (planes, t, recall)
    # the clamp saturates only past planes 22 (occupancy-1024 corpora
    # beyond ~4.3e12/1024 rows) — the documented IVF-handoff regime
    assert AUTO_TABLES[22] < MAX_TABLES


def test_auto_tables_holds_recall_on_planted_corpus(spark):
    """The policy's BEHAVIOR, end to end on the registered pipeline: a
    synthetic corpus with planted near-dups at cos ~0.894 (the ladder
    generator's regime), forced to planes=16 — the operating point the
    registered occupancy-1024 rule reaches at ~33 M rows. With the old
    fixed 16 tables, planted recall erodes well below the floor; with
    auto_tables(16)=22 the same pipeline holds recall >= RECALL_FLOOR.
    Deterministic (seeded numpy + md5 hyperplanes)."""
    import numpy as np
    from pyspark.sql import functions as F

    from stream_processing_test_spark.llm.dedup import embedding_lsh_pairs
    from stream_processing_test_spark.llm.similarity import (
        RECALL_FLOOR,
        auto_tables,
    )

    rng = np.random.default_rng(20260814)
    n_base, n_dup, dim, noise = 1600, 400, 64, 0.5
    base = rng.standard_normal((n_base, dim))
    picks = rng.integers(0, n_base, size=n_dup)
    dups = base[picks] + noise * rng.standard_normal((n_dup, dim))
    vecs = np.vstack([base, dups])
    emb = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(n_base + n_dup)],
        "vec_id: long, v: array<double>",
    )
    # planted pairs whose exact cosine clears the verify threshold —
    # the only ones the candidate/verify contract can ever emit
    thr = 0.8
    planted = set()
    for j in range(n_dup):
        a, b = int(picks[j]), n_base + j
        cos = float(
            vecs[a] @ vecs[b] / (np.linalg.norm(vecs[a]) * np.linalg.norm(vecs[b]))
        )
        if cos >= thr:
            planted.add((min(a, b), max(a, b)))
    assert len(planted) > 300

    def recall(n_tables: int) -> float:
        got = {
            (r["doc_a"], r["doc_b"])
            for r in embedding_lsh_pairs(
                emb, n_tables=n_tables, n_planes=16, threshold=thr
            ).collect()
        }
        return len(planted & got) / len(planted)

    t_auto = auto_tables(16)
    assert t_auto == 22
    r_fixed, r_auto = recall(16), recall(t_auto)
    assert r_auto >= RECALL_FLOOR, f"policy recall {r_auto:.3f}"
    assert r_auto > r_fixed + 0.05, (r_auto, r_fixed)


def test_ivf_sampled_training_cross_engine_parity(spark, tmp_path):
    """The r9 training gate, exercised where it is ACTIVE: 6 000
    vectors > IVF_TRAIN_TARGET=4096 resolves auto_train_shift to 1, so
    the driver-local numpy Lloyd trains on the ~3 000-row md5 half and
    the full corpus is assigned once. The DuckDB oracle must replay the
    WHOLE pipeline — gate, seeds, two Lloyd passes, full assignment,
    routing, probed search — row-for-row. (Driver fixtures are all
    <= train_target, so without this test the shift>0 branch of the
    oracle would never be executed.)"""
    import numpy as np
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from stream_processing_test_spark.llm.similarity import (
        IVF_TRAIN_TARGET,
        _ivf_oracle,
        auto_train_shift,
    )
    from stream_processing_test_spark.registry import all_queries

    n, dim = 6000, 64
    assert auto_train_shift(n, IVF_TRAIN_TARGET) == 1
    rng = np.random.default_rng(42)
    vecs = rng.standard_normal((n, dim)).astype(np.float32)
    # Plant a zero-norm vector INSIDE the md5-gated training sample:
    # both engines must drop it from training identically (numpy
    # `keep` mask vs the oracle's ctrain CTE — ADVICE r10's zero-norm
    # CENTROID case, made unreachable by construction) while it stays
    # in the assigned index.
    from stream_processing_test_spark.llm.hashing import phash_py
    from stream_processing_test_spark.llm.similarity import N_QUERIES

    # ... but NOT one of the query vectors (vec_id < N_QUERIES): a
    # zero-norm QUERY is a different, engine-divergent case (Spark
    # NULL sims vs DuckDB's exact -1.0) that no registered semantics
    # reach — this test pins the TRAINING filter.
    zid = next(
        i for i in range(N_QUERIES, n) if phash_py(str(i)) % 2 == 0
    )
    vecs[zid] = 0.0
    path = str(tmp_path / "embeddings.parquet")
    pq.write_table(
        pa.table(
            {
                "vec_id": np.arange(n, dtype=np.int64),
                "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
                "label": np.zeros(n, dtype=np.int32),
            }
        ),
        path,
    )
    got = sorted(
        (r["query_id"], r["neighbor_id"], r["cos_sim"], r["rk"])
        for r in all_queries()["ann_ivf_topk"].fn(spark, str(tmp_path)).collect()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{path}')"
    )
    want = sorted(map(tuple, con.sql(_ivf_oracle()).fetchall()))
    assert got == want


def test_embedding_quantize_error_bound(spark):
    """int8 quantization contract: per-vector max reconstruction error
    is bounded by scale/2 (+ float slack) by construction — round() to
    the nearest level can miss by at most half a step — and MSE never
    exceeds max_abs_err². A zero vector takes scale 0 with zero error."""
    from pyspark.sql import functions as F

    from stream_processing_test_spark.registry import all_queries
    from tests.conftest import SF_SMALL

    rows = (
        all_queries()["embedding_quantize_int8"]
        .fn(spark, SF_SMALL)
        .collect()
    )
    assert len(rows) == 500
    for r in rows:
        bound = r["scale_q"] / 2 + 1e-6
        assert 0 <= r["max_abs_err"] <= bound, (r["vec_id"], r)
        assert 0 <= r["mse"] <= r["max_abs_err"] ** 2 + 1e-9

    emb = spark.createDataFrame(
        [(0, [0.0] * 8), (1, [1.0] * 8)], "vec_id long, embedding array<float>"
    )
    import tempfile, os

    d = tempfile.mkdtemp(prefix="quant_zero_")
    emb.write.parquet(os.path.join(d, "embeddings.parquet"))
    out = {
        r["vec_id"]: r
        for r in all_queries()["embedding_quantize_int8"].fn(spark, d).collect()
    }
    assert out[0]["scale_q"] == 0.0 and out[0]["max_abs_err"] == 0.0
    assert out[1]["max_abs_err"] <= out[1]["scale_q"] / 2 + 1e-6


def test_int8_ann_recall_vs_fp32(spark):
    """The number the 4x footprint cut is traded against: top-k search
    over the int8-dequantized corpus must recover (nearly) the fp32
    exact top-k. At 64 dims the quantization noise is far below the
    cosine gaps between rank-adjacent neighbors on this corpus, so
    recall@10 should be near 1; the floor leaves slack for rank flips
    at the rounded-4-decimal tie boundary."""
    fp32 = {
        (r["query_id"], r["neighbor_id"])
        for r in _q("ann_cosine_topk").fn(spark, SF).collect()
    }
    int8 = {
        (r["query_id"], r["neighbor_id"])
        for r in _q("ann_cosine_topk_int8").fn(spark, SF).collect()
    }
    assert len(fp32) == len(int8)
    recall = len(fp32 & int8) / len(fp32)
    assert recall >= 0.9, f"int8 ANN recall {recall:.2f}"


def test_bloom_m_bits_sql_twin_matches_python():
    """The Bloom sizing rule and its DuckDB CTE twin agree on every
    power-of-two boundary and at both clamps."""
    import duckdb

    from stream_processing_test_spark.llm.dedup import (
        BLOOM_BITS_PER_KEY,
        BLOOM_MAX_EXP,
        BLOOM_MIN_EXP,
        bloom_m_bits,
    )

    con = duckdb.connect()
    probe = (
        [0, 1, 2, 63, 64, 65]
        + [(1 << e) // BLOOM_BITS_PER_KEY + d
           for e in range(BLOOM_MIN_EXP, BLOOM_MIN_EXP + 6) for d in (-1, 0, 1)]
        + [10**9, 10**12]
    )
    for n in probe:
        sql = f"""
        SELECT (SELECT MIN(CAST(1 AS BIGINT) << e)
                FROM range({BLOOM_MIN_EXP}, {BLOOM_MAX_EXP + 1}) t(e)
                WHERE (CAST(1 AS BIGINT) << e) >= {BLOOM_BITS_PER_KEY} * CAST({n} AS BIGINT)
                   OR e = {BLOOM_MAX_EXP})
        """
        assert con.execute(sql).fetchone()[0] == bloom_m_bits(n), n


def test_bloom_planted_contamination(spark, tmp_path):
    """No false negatives by construction: a train doc identical to an
    eval doc hits on every shingle (hit_frac 1.0, flagged); a partial
    copy is flagged by the fraction rule; a disjoint doc stays clean;
    eval docs never appear in the output."""
    from stream_processing_test_spark.llm.dedup import (
        BLOOM_FLAG_FRAC,
        EVAL_MOD,
        decontaminate_bloom,
    )

    ev_text = "alpha beta gamma delta epsilon"
    docs = {
        EVAL_MOD: ev_text,  # eval
        1: ev_text,  # exact copy -> all 3 shingles hit
        2: "zeta eta theta iota kappa",  # disjoint
        3: "alpha beta gamma zzz yyy",  # shares 1 of 3 shingles
    }
    pdf = pd.DataFrame(
        {
            "doc_id": list(docs),
            "text": list(docs.values()),
            "lang": ["en"] * len(docs),
            "source": ["s"] * len(docs),
            "n_chars": [len(t) for t in docs.values()],
        }
    )
    sf = str(tmp_path)
    spark.createDataFrame(pdf).write.parquet(f"{sf}/documents.parquet")
    out = {r["doc_id"]: r for r in decontaminate_bloom(spark, sf).collect()}

    assert set(out) == {1, 2, 3}  # train docs only, eval never emitted
    assert out[1]["hit_frac"] == 1.0 and out[1]["flagged"]
    assert out[1]["n_shingles"] == 3 and out[1]["n_bloom_hits"] == 3
    assert not out[2]["flagged"] and out[2]["hit_frac"] < BLOOM_FLAG_FRAC
    assert out[3]["n_bloom_hits"] >= 1 and out[3]["flagged"]


def test_pq_sampled_training_cross_engine_parity(spark, tmp_path):
    """PQ end-to-end with the training gate ACTIVE (6 000 > 4 096 →
    shift 1): the DuckDB oracle must replay codebook training (per-
    subspace unrolled Lloyd over the md5-gated half), full-corpus
    encoding, the integer ADC shortlist, and the exact re-rank
    row-for-row. Mirrors test_ivf_sampled_training_cross_engine_parity
    — driver fixtures are all <= train_target, so this is the only
    place the shift>0 branch of the PQ oracle executes."""
    import duckdb
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from stream_processing_test_spark.llm.pq import _pq_oracle
    from stream_processing_test_spark.llm.similarity import (
        IVF_TRAIN_TARGET,
        auto_train_shift,
    )
    from stream_processing_test_spark.registry import all_queries

    n, dim = 6000, 64
    assert auto_train_shift(n, IVF_TRAIN_TARGET) == 1
    rng = np.random.default_rng(7)
    vecs = rng.standard_normal((n, dim)).astype(np.float32)
    path = str(tmp_path / "embeddings.parquet")
    pq.write_table(
        pa.table(
            {
                "vec_id": np.arange(n, dtype=np.int64),
                "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
                "label": np.zeros(n, dtype=np.int32),
            }
        ),
        path,
    )
    got = sorted(
        (r["query_id"], r["neighbor_id"], r["cos_sim"], r["approx_cos"], r["rk"])
        for r in all_queries()["ann_pq_topk"].fn(spark, str(tmp_path)).collect()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{path}')"
    )
    want = sorted(map(tuple, con.sql(_pq_oracle()).fetchall()))
    assert got == want


def test_auto_rerank_sql_twin_matches_python():
    """The registered PQ query sizes its ADC shortlist from a corpus-
    count probe (Python ``auto_rerank``) while the oracle recomputes
    the rule in SQL (``_rerank_cte`` over the ``nv`` count CTE) — the
    two must agree EXACTLY or the driver gate would compare different
    shortlists. Integer arithmetic both sides; probed across the
    floor boundary (12 800 = PQ_RERANK << PQ_RERANK_SHIFT) and the
    cap boundary (PQ_RERANK_MAX << PQ_RERANK_SHIFT ≈ 8.4 M)."""
    import duckdb

    from stream_processing_test_spark.llm.pq import (
        PQ_RERANK,
        PQ_RERANK_MAX,
        _rerank_cte,
        auto_rerank,
    )

    con = duckdb.connect()
    for n in [1, 500, 6000, 12799, 12800, 12801, 50_000, 200_000,
              800_000, 8_388_607, 8_388_608, 10**8]:
        con.execute(
            f"CREATE OR REPLACE VIEW embeddings AS "
            f"SELECT range AS vec_id FROM range({n})"
        )
        got = con.sql(
            f"WITH nv AS (SELECT COUNT(*) AS n FROM embeddings), "
            f"{_rerank_cte()} SELECT rerank FROM rr"
        ).fetchone()[0]
        assert got == auto_rerank(n), (n, got, auto_rerank(n))
    # rule shape: floor at fixture sizes, ~0.78% fraction above it,
    # hard cap where the IVF-PQ composition takes over
    assert auto_rerank(500) == PQ_RERANK
    assert auto_rerank(204_800) == 1600  # the measured 0.92-recall point
    assert auto_rerank(10**9) == PQ_RERANK_MAX


def test_auto_lists_sql_twin_matches_python():
    """auto_lists (the IVF-PQ composition's coarse-list rule) and its
    ``nl`` CTE must agree exactly, probed across every power-of-two
    boundary the rule can select (16·16·64 = 16384, ..., the 256
    clamp at n > 256²·64)."""
    import duckdb

    from stream_processing_test_spark.llm.similarity import (
        auto_lists,
        auto_lists_ctes,
    )

    con = duckdb.connect()
    for n in [1, 500, 16384, 16385, 65536, 65537, 200_000, 800_000,
              4_194_304, 4_194_305, 10**8]:
        con.execute(
            f"CREATE OR REPLACE VIEW embeddings AS "
            f"SELECT range AS vec_id FROM range({n})"
        )
        got = con.sql(
            f"WITH nv AS (SELECT COUNT(*) AS n FROM embeddings), "
            f"{auto_lists_ctes()} SELECT lists FROM nl"
        ).fetchone()[0]
        assert got == auto_lists(n), (n, got, auto_lists(n))
    assert auto_lists(500) == 16  # fixture floor
    assert auto_lists(10**9) == 256  # clamp


def test_auto_probe_sql_twin_matches_python():
    """auto_probe (the r14 hold-recall escalation dial) and its
    ``npr`` CTE must agree exactly across the policy boundary: the
    N_PROBE floor binds through lists = 16 (auto_probe(16) = 2, so
    fixture plans coincide with ann_ivf_topk), and above it the
    searched fraction is pinned at exactly 1/PROBE_DIV for every
    power-of-two list count auto_lists can select."""
    import duckdb

    from stream_processing_test_spark.llm.similarity import (
        N_PROBE,
        PROBE_DIV,
        auto_lists,
        auto_lists_ctes,
        auto_probe,
        auto_probe_ctes,
    )

    # rule shape at the boundary
    assert auto_probe(16) == N_PROBE  # fixture floor: plans unchanged
    assert auto_probe(32) == 4 and auto_probe(256) == 32
    for lists in (16, 32, 64, 128, 256):
        assert auto_probe(lists) == max(N_PROBE, lists // PROBE_DIV)
        if lists > N_PROBE * PROBE_DIV:
            assert auto_probe(lists) * PROBE_DIV == lists  # exact 1/8

    con = duckdb.connect()
    for n in [1, 500, 16384, 16385, 200_000, 2_000_000, 10**8]:
        con.execute(
            f"CREATE OR REPLACE VIEW embeddings AS "
            f"SELECT range AS vec_id FROM range({n})"
        )
        got = con.sql(
            f"WITH nv AS (SELECT COUNT(*) AS n FROM embeddings), "
            f"{auto_lists_ctes()}, {auto_probe_ctes()} "
            f"SELECT probes FROM npr"
        ).fetchone()[0]
        assert got == auto_probe(auto_lists(n)), (n, got)


def test_ivfpq_dynamic_lists_cross_engine_parity(spark, tmp_path):
    """IVF-PQ end-to-end with BOTH dynamic policies off their floors:
    50 000 vectors → auto_lists = 32 (> the 16 floor, so the oracle's
    dynamic seed/reseed bounds actually bind), auto_train_shift = 4
    (the hash gate keeps ~3 125 training rows), auto_rerank = 390.
    The DuckDB oracle must replay coarse training, routing, PQ
    training, encoding, the probed integer ADC, and the policy-sized
    exact re-rank row-for-row. Driver fixtures are all below every
    boundary, so this is the only place the dynamic-lists branch of
    the composed oracle executes."""
    import duckdb
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from stream_processing_test_spark.llm.pq import _ivfpq_oracle, auto_rerank
    from stream_processing_test_spark.llm.similarity import (
        auto_lists,
        auto_train_shift,
    )
    from stream_processing_test_spark.registry import all_queries

    n, dim = 50_000, 64
    assert auto_lists(n) == 32
    assert auto_train_shift(n) == 4
    assert auto_rerank(n) == 390
    rng = np.random.default_rng(11)
    vecs = rng.standard_normal((n, dim)).astype(np.float32)
    path = str(tmp_path / "embeddings.parquet")
    pq.write_table(
        pa.table(
            {
                "vec_id": np.arange(n, dtype=np.int64),
                "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
                "label": np.zeros(n, dtype=np.int32),
            }
        ),
        path,
    )
    got = sorted(
        (r["query_id"], r["neighbor_id"], r["cos_sim"], r["approx_cos"], r["rk"])
        for r in all_queries()["ann_ivfpq_topk"].fn(spark, str(tmp_path)).collect()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{path}')"
    )
    want = sorted(map(tuple, con.sql(_ivfpq_oracle()).fetchall()))
    assert got == want


def test_pq_rerank_recall_vs_exact(spark):
    """The ADC+R contract: over the 500-vector fixture ``auto_rerank``
    resolves to the PQ_RERANK=100 floor, and the exact re-rank must
    recover (nearly) the fp32 brute-force top-k — measured 0.98
    recall@10 and 5/5 top-1 at registration; the floor leaves slack
    for shortlist-boundary flips.
    Pure-ADC recall on this isotropic corpus is ~0.34 (16 subspaces ×
    16 codes = 1 bit/dim) — the re-rank stage is what makes PQ usable,
    which is why it is part of the registered operator and the oracle."""
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in _q("ann_cosine_topk").fn(spark, SF).collect()
    }
    got = list(_q("ann_pq_topk").fn(spark, SF).collect())
    pairs = {(r["query_id"], r["neighbor_id"]) for r in got}
    assert len(pairs) == len(exact)
    recall = len(exact & pairs) / len(exact)
    assert recall >= 0.9, f"PQ+rerank recall {recall:.2f}"
    # the exact stage really did rescore: cos_sim is the fp32 cosine,
    # approx_cos the ADC estimate — they must differ somewhere
    assert any(r["cos_sim"] != r["approx_cos"] for r in got)


def test_lm_score_ranks_typical_text_above_shuffled(spark, tmp_path):
    """The bigram-LM scorer must rank statistically typical docs above
    token-shuffled ones: a corpus of repeated formulaic sentences plus
    one doc whose tokens are the SAME unigrams in scrambled order —
    the scrambled doc's bigrams are unseen elsewhere, so its mean
    log-prob must be strictly lower. Also pins the exclusion rule
    (single-token docs emit no row) and the add-k model's totals
    (n_bigrams = len-1 per doc)."""
    import duckdb

    from stream_processing_test_spark.llm.corpus import _LM_ORACLE, doc_lm_score

    base = "the quick brown fox jumps over the lazy dog"
    docs = [(i, base) for i in range(8)]
    docs.append((8, "fox the over quick lazy jumps brown dog the"))
    docs.append((9, "solo"))  # 1 token -> no bigrams -> no row
    sf = tmp_path / "sf"
    sf.mkdir()
    pd.DataFrame(docs, columns=["doc_id", "text"]).to_parquet(
        sf / "documents.parquet"
    )
    got = {r["doc_id"]: r for r in doc_lm_score(spark, str(sf)).collect()}
    assert 9 not in got
    assert all(got[i]["n_bigrams"] == 8 for i in range(9))
    typical, scrambled = got[0]["lm_score"], got[8]["lm_score"]
    assert scrambled < typical, (typical, scrambled)

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'"
    )
    oracle = {
        r[0]: (r[1], r[2]) for r in con.execute(_LM_ORACLE).fetchall()
    }
    assert {
        k: (v["n_bigrams"], v["lm_score"]) for k, v in got.items()
    } == oracle


def test_bm25_ranking_semantics(spark):
    """BM25 contract checks beyond the oracle hash: exactly BM25_TOP
    rows with contiguous ranks, scores non-increasing in rank, and
    n_terms_matched equal to the doc's actual distinct-query-term
    count (additivity itself is pinned by the oracle hash — the score
    is a per-term sum on both engines)."""
    from stream_processing_test_spark.llm.corpus import (
        BM25_QUERY_TERMS,
        BM25_TOP,
        bm25_topk,
    )
    from stream_processing_test_spark.tables import load

    rows = sorted(bm25_topk(spark, SF).collect(), key=lambda r: r["rk"])
    assert [r["rk"] for r in rows] == list(range(1, BM25_TOP + 1))
    assert all(
        rows[i]["bm25"] >= rows[i + 1]["bm25"] for i in range(len(rows) - 1)
    )
    texts = {
        r["doc_id"]: r["text"]
        for r in load(spark, SF, "documents").collect()
    }
    for r in rows:
        toks = set(texts[r["doc_id"]].split(" "))
        assert len(toks & set(BM25_QUERY_TERMS)) == r["n_terms_matched"]
        assert r["n_terms_matched"] >= 1


def test_bm25_multi_query_zero_matches_single(spark):
    """The batched operator's query 0 IS the single-query operator's
    workload (BM25_QUERIES[0] == BM25_QUERY_TERMS): its per-query
    slice must reproduce bm25_topk row-for-row. This pins that the
    corpus-level idf (computed over the UNION of all queries' terms)
    does not leak between queries — df per term is corpus truth
    either way — and that the per-query window ranks exactly like the
    global top-k."""
    from stream_processing_test_spark.llm.corpus import (
        BM25_QUERIES,
        BM25_QUERY_TERMS,
        bm25_multi_topk,
        bm25_topk,
    )

    assert BM25_QUERIES[0] == BM25_QUERY_TERMS
    single = sorted(
        (r["doc_id"], r["bm25"], r["n_terms_matched"], r["rk"])
        for r in bm25_topk(spark, SF).collect()
    )
    multi0 = sorted(
        (r["doc_id"], r["bm25"], r["n_terms_matched"], r["rk"])
        for r in bm25_multi_topk(spark, SF).collect()
        if r["query_id"] == 0
    )
    assert multi0 == single
    # every query produced a full page
    per_q = {}
    for r in bm25_multi_topk(spark, SF).collect():
        per_q.setdefault(r["query_id"], []).append(r["rk"])
    assert set(per_q) == set(BM25_QUERIES)
    for ranks in per_q.values():
        assert sorted(ranks) == list(range(1, 21))


def _write_docs(tmp_path, rows):
    """documents.parquet fixture dir from (doc_id, text, lang, source)."""
    import os

    import pandas as pd

    d = str(tmp_path)
    pdf = pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source"]
    ).assign(n_chars=lambda f: f.text.str.len())
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.Table.from_pandas(pdf, preserve_index=False),
        os.path.join(d, "documents.parquet"),
    )
    return d


def test_sequence_pack_exact_boundaries(spark, tmp_path):
    """Known token counts → hand-computed packing. SEQ_LEN=256; docs
    of 200/100/300 tokens in one source concatenate to 600 tokens =
    sequences [0,256), [256,512), [512,600): doc0 fully in seq0, doc1
    spans 0→1, doc2 spans 1→2."""
    from stream_processing_test_spark.llm.packing import sequence_pack

    rows = [
        (0, " ".join(["w"] * 200), "en", "s0"),
        (1, " ".join(["w"] * 100), "en", "s0"),
        (2, " ".join(["w"] * 300), "en", "s0"),
    ]
    d = _write_docs(tmp_path, rows)
    got = {
        r["seq_id"]: (r["n_docs"], r["n_full_docs"], r["n_tokens"])
        for r in sequence_pack(spark, d).collect()
    }
    # seq0: doc0 (200 full) + doc1's first 56 → 2 docs, 1 full, 256 tok
    # seq1: doc1's last 44 + doc2's first 212 → 2 docs, 0 full, 256 tok
    # seq2: doc2's last 88 → 1 doc, 0 full, 88 tok
    assert got == {0: (2, 1, 256), 1: (2, 0, 256), 2: (1, 0, 88)}


def test_sequence_pack_restarts_at_shard_boundary(spark, tmp_path):
    """The scale contract: packing state resets at every
    PACK_SHARD_DOCS doc_id boundary, so the window partition is
    bounded. Two 100-token docs straddling the 2^17 boundary must land
    in DIFFERENT shards, each starting its own seq 0 — were packing
    global, they'd share one 200-token sequence."""
    from stream_processing_test_spark.llm.packing import (
        PACK_SHARD_DOCS,
        sequence_pack,
    )

    rows = [
        (PACK_SHARD_DOCS - 1, " ".join(["w"] * 100), "en", "s0"),
        (PACK_SHARD_DOCS, " ".join(["w"] * 100), "en", "s0"),
    ]
    d = _write_docs(tmp_path, rows)
    got = sorted(
        (r["pack_shard"], r["seq_id"], r["n_docs"], r["n_tokens"])
        for r in sequence_pack(spark, d).collect()
    )
    assert got == [(0, 0, 1, 100), (1, 0, 1, 100)]


def test_quality_calibrated_filter_exact_quartile(spark, tmp_path):
    """Integer-rank quartile cut, pinned on a source with 5 docs of
    strictly increasing score (score rises with stopword count): keep
    iff (rank-1)*4 >= (n-1)=4, i.e. ranks 2-5 → 4 kept; and a
    single-doc source keeps its only doc (rank 1: 0 >= 0)."""
    from stream_processing_test_spark.llm.packing import (
        quality_calibrated_filter,
    )

    def doc(n_the: int) -> str:
        return " ".join(["the"] * n_the + ["word"] * (20 - n_the))

    rows = [(i, doc(i + 1), "en", "multi") for i in range(5)]
    rows.append((10, doc(3), "en", "solo"))
    d = _write_docs(tmp_path, rows)
    got = {r["source"]: r for r in quality_calibrated_filter(spark, d).collect()}
    assert got["multi"]["n_docs"] == 5 and got["multi"]["n_kept"] == 4
    assert got["multi"]["kept_frac"] == 0.8
    assert got["solo"]["n_docs"] == 1 and got["solo"]["n_kept"] == 1
    assert got["solo"]["kept_frac"] == 1.0
    # threshold = the smallest kept score = rank-2 doc's score
    assert got["multi"]["threshold_score"] is not None


def test_lang_sampling_weights_temperature(spark):
    """Weights sum to ~1 and the alpha<1 temperature compresses the
    distribution: the dominant language's sampling probability must
    sit BELOW its raw token share, the tail languages' above."""
    from stream_processing_test_spark.llm.sampling import (
        lang_sampling_weights,
    )

    rows = {r["lang"]: r for r in lang_sampling_weights(spark, SF).collect()}
    total_p = sum(r["sample_prob"] for r in rows.values())
    assert abs(total_p - 1.0) < 1e-4
    total_tok = sum(r["n_tokens"] for r in rows.values())
    dominant = max(rows.values(), key=lambda r: r["n_tokens"])
    assert dominant["sample_prob"] < dominant["n_tokens"] / total_tok
    for r in rows.values():
        if r is not dominant:
            assert r["sample_prob"] > r["n_tokens"] / total_tok * 0.99


def test_doc_span_dedup_removes_non_canonical_spans(spark, tmp_path):
    """Hand-computed removal: two docs sharing one 8-gram — the
    canonical occurrence (smaller doc_id) survives, the other doc
    loses exactly those 8 tokens; and a within-doc repeat (the same
    8-gram at positions 0 and 8) keeps only the first copy."""
    from stream_processing_test_spark.llm.filters import doc_span_dedup

    shared = "a b c d e f g h"
    rows = [
        (0, shared + " x", "en", "s0"),
        (1, shared + " y", "en", "s0"),
        (2, shared + " " + shared, "en", "s0"),
    ]
    d = _write_docs(tmp_path, rows)
    got = {r["doc_id"]: r for r in doc_span_dedup(spark, d).collect()}
    # doc0 pos0 is canonical for the shared gram -> untouched
    assert got[0]["n_removed"] == 0 and got[0]["cleaned_text"] == shared + " x"
    # doc1's copy is non-canonical -> its 8 tokens go, "y" survives
    assert got[1]["n_removed"] == 8 and got[1]["cleaned_text"] == "y"
    # doc2: gram at pos 8 duplicates pos 0 (within doc AND vs doc0/1's
    # canonical claim on the same gram) -> second copy removed; the
    # first 8 tokens are covered only by occurrences that are... the
    # pos-0 occurrence itself is non-canonical (doc0 pos0 is the
    # corpus-wide canon), so BOTH copies go
    assert got[2]["n_removed"] == 16 and got[2]["cleaned_text"] == ""


def test_dedup_multimodal_pairs_within_media_type(spark, tmp_path):
    """Semantics on a constructed corpus: identical payloads pair at
    hamming 0 — but ONLY within the same media_type (ids 0 and 3 are
    both image under the doc_id%3 synth; id 1 is audio with the SAME
    text and must not pair with either); a payload edited past byte
    64 keeps identical stub features (head-only kernel) and still
    pairs; an unrelated text does not."""
    from stream_processing_test_spark.llm.multimodal import dedup_multimodal

    base = " ".join(f"tok{i}" for i in range(40))  # > 64 bytes of head
    rows = [
        (0, base, "en", "s0"),  # image
        (3, base, "en", "s0"),  # image, identical -> pair (0,3) hd 0
        (1, base, "en", "s0"),  # audio, identical text -> NO cross pair
        (6, base + " tail-edit", "en", "s0"),  # image, edit past head
        (9, "completely different words here " * 4, "en", "s0"),  # image
    ]
    d = _write_docs(tmp_path, rows)
    got = {
        (r["doc_a"], r["doc_b"]): r for r in dedup_multimodal(spark, d).collect()
    }
    assert (0, 3) in got and got[(0, 3)]["hamming"] == 0
    assert got[(0, 3)]["media_type"] == "image"
    # head-identical edit: same stub features -> hamming 0 pairs
    assert (0, 6) in got and got[(0, 6)]["hamming"] == 0
    assert (3, 6) in got
    # the audio twin never pairs across media_type
    assert not any(1 in pair for pair in got)
    # the unrelated doc stays unpaired
    assert not any(9 in pair for pair in got)


def test_dedup_multimodal_hot_block_cap(spark, tmp_path, monkeypatch):
    """The block-df cap drops over-occupied blocks from candidate
    generation: with the cap forced to 1, every 2+-member block is
    hot and even identical payloads produce no pairs — pinning that
    the cap is wired through the join (the degenerate-corpus bound)."""
    from stream_processing_test_spark.llm import multimodal

    base = " ".join(f"tok{i}" for i in range(40))
    rows = [(0, base, "en", "s0"), (3, base, "en", "s0")]
    d = _write_docs(tmp_path, rows)
    assert len(multimodal.dedup_multimodal(spark, d).collect()) == 1
    media = multimodal.load(spark, d, "documents").selectExpr(
        "doc_id",
        "'image' AS media_type",
        "encode(text, 'UTF-8') AS payload",
    )
    feats = multimodal.extract_features(media)
    capped = multimodal.multimodal_fingerprint_pairs(feats, block_df_max=1)
    assert capped.collect() == []


def test_doc_span_dedup_overlong_doc_fails_loudly(spark, tmp_path, monkeypatch):
    """Contract guard (ADVICE r11): a document whose gram positions
    reach the packing shift must raise, not silently alias into
    another doc_id's canonical key space. The shift is monkeypatched
    small so the guard path is exercised without a 2^20-token
    fixture; the guard reads the module global at call time."""
    import pytest as _pytest

    from stream_processing_test_spark.llm import filters

    monkeypatch.setattr(filters, "_SPAN_POS_SHIFT", 64)
    rows = [
        (0, " ".join(f"t{i}" for i in range(80)), "en", "s0"),
        (1, " ".join(f"t{i}" for i in range(80)), "en", "s0"),
    ]
    d = _write_docs(tmp_path, rows)
    with _pytest.raises(Exception, match="packing contract"):
        filters.doc_span_dedup(spark, d).collect()


def test_doc_span_dedup_consistent_with_coverage(spark):
    """On the fixture corpus: documents whose duplicated-gram coverage
    is zero must come through the span-dedup untouched, and the
    planted near-duplicates guarantee a non-trivial removal total."""
    from stream_processing_test_spark.llm.filters import (
        doc_span_dedup,
        substring_dup_coverage,
    )

    cov = {
        r["doc_id"]: r["n_dup_grams"]
        for r in substring_dup_coverage(spark, SF).collect()
    }
    out = {r["doc_id"]: r for r in doc_span_dedup(spark, SF).collect()}
    assert len(out) == 500
    for doc_id, n_dup in cov.items():
        if n_dup == 0:
            assert out[doc_id]["n_removed"] == 0, doc_id
    assert sum(r["n_removed"] for r in out.values()) > 0


def test_class_balanced_sample_exact_quotas(spark):
    """Quota semantics on the fixture: every language yields exactly
    min(class size, TARGET_PER_CLASS) documents, ranks are contiguous
    from 1, and the selection is deterministic across runs (md5
    ordering, no rand())."""
    from pyspark.sql import functions as F

    from stream_processing_test_spark.llm.sampling import (
        TARGET_PER_CLASS,
        class_balanced_sample,
    )
    from stream_processing_test_spark.tables import load

    totals = {
        r["lang"]: r["n"]
        for r in load(spark, SF, "documents")
        .groupBy("lang")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    rows = class_balanced_sample(spark, SF).collect()
    by_lang: dict = {}
    for r in rows:
        by_lang.setdefault(r["lang"], []).append(r["rk"])
    assert set(by_lang) == set(totals)
    for lang, rks in by_lang.items():
        assert sorted(rks) == list(
            range(1, min(totals[lang], TARGET_PER_CLASS) + 1)
        ), lang
    again = {
        (r["doc_id"], r["rk"]) for r in class_balanced_sample(spark, SF).collect()
    }
    assert again == {(r["doc_id"], r["rk"]) for r in rows}


def test_vocab_top_ngrams_prune_matches_naive(spark):
    """The two-phase (salt-pruned) per-lang top-K must equal the naive
    one-window top-K — pruning is lossless because any global top-K
    bigram is top-K within its own salt bucket. Recomputed here in
    pandas from the raw corpus (independent of both Spark plans)."""
    from collections import Counter

    from stream_processing_test_spark.llm.corpus import (
        VOCAB_TOP_K,
        vocab_top_ngrams,
    )

    got = {}
    for r in vocab_top_ngrams(spark, SF).collect():
        got.setdefault(r["lang"], []).append((r["rk"], r["bigram"], r["n"]))

    docs = pd.read_parquet(f"{SF}/documents.parquet", columns=["text", "lang"])
    want: dict[str, Counter] = {}
    for text, lang in zip(docs.text, docs.lang):
        # mirror the ENGINE tokenization exactly (ADVICE r12): both
        # Spark and the oracle space-only-trim then \s+-split, which
        # emits an empty token (hence a bigram) for text bounded by
        # non-space whitespace — str.strip()/str.split() would silently
        # diverge there and the cross-check only held because the
        # synthetic corpus has no such docs
        w = re.split(r"\s+", text.strip(" ").lower())
        want.setdefault(lang, Counter()).update(
            f"{a} {b}" for a, b in zip(w, w[1:])
        )
    for lang, cnt in want.items():
        top = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:VOCAB_TOP_K]
        expect = [(i + 1, bg, n) for i, (bg, n) in enumerate(top)]
        assert sorted(got[lang]) == expect, lang


def test_lang_mismatch_audit_known_corpus(spark, tmp_path):
    """Hand-built corpus with known marker words: 'the the' predicts
    en; 'stream stream stream' predicts es; a doc with NO markers
    predicts en (all counts 0, precedence). Mismatch rates follow."""
    from stream_processing_test_spark.llm.text import lang_mismatch_audit

    rows = [
        (0, "the the quick fox", "en", "s0"),      # match
        (1, "stream stream stream", "en", "s0"),   # mismatch (es)
        (2, "no markers at all", "de", "s1"),      # mismatch (en)
        (3, "window window hash", "de", "s1"),     # match
        (4, "window window hash", "de", "s1"),     # match
    ]
    d = _write_docs(tmp_path, rows)
    got = {
        (r["source"], r["labeled_lang"]): (
            r["n_docs"], r["n_mismatch"], r["mismatch_rate"]
        )
        for r in lang_mismatch_audit(spark, d).collect()
    }
    assert got == {
        ("s0", "en"): (2, 1, 0.5),
        ("s1", "de"): (3, 1, 0.3333),
    }


def test_dedup_incremental_verdicts(spark, tmp_path):
    """Crafted ingest batch (doc_id % 10 == 0 is 'new'): an exact copy
    of a base doc routes to exact_dup (match = smallest base id,
    est 1.0) even though it also band-matches; a 1-token mutation of a
    base doc routes to near_dup against THAT base doc; a fresh text is
    unique; a near-copy of another NEW doc is still unique (within-
    batch dedup is deliberately out of scope — base membership only)."""
    from stream_processing_test_spark.llm.dedup import dedup_incremental

    base1 = " ".join(f"alpha{i}" for i in range(60))
    base2 = " ".join(f"beta{i}" for i in range(60))
    fresh = " ".join(f"gamma{i}" for i in range(60))
    near2 = base2.replace("beta30", "CHANGED")
    near_fresh = fresh.replace("gamma30", "MUTATED")
    rows = [
        (1, base1, "en", "s0"),
        (2, base2, "en", "s0"),
        (0, base1, "en", "s0"),        # new: exact copy of base 1
        (10, near2, "en", "s0"),       # new: near copy of base 2
        (20, fresh, "en", "s0"),       # new: nothing like the base
        (30, near_fresh, "en", "s0"),  # new: near copy of NEW doc 20
    ]
    d = _write_docs(tmp_path, rows)
    got = {
        r["doc_id"]: (r["verdict"], r["match_id"], r["est_jaccard"])
        for r in dedup_incremental(spark, d).collect()
    }
    assert set(got) == {0, 10, 20, 30}
    assert got[0] == ("exact_dup", 1, 1.0)
    assert got[10][0] == "near_dup" and got[10][1] == 2
    assert got[10][2] >= 0.5
    assert got[20] == ("unique", None, None)
    assert got[30] == ("unique", None, None)


def test_dedup_incremental_consistent_with_batch_minhash(spark):
    """Coherence of the two consumers of minhash_sig_bands on the real
    corpus: every incremental near_dup (new, base) pair must appear in
    the batch dedup_minhash_lsh pair list, and for every new doc the
    incremental best match must equal the best new-base pair derivable
    from the batch output (max est_jaccard, ties to the smallest base
    id) unless the exact tier claimed the doc first."""
    from stream_processing_test_spark.llm.dedup import INGEST_MOD

    inc = {
        r["doc_id"]: (r["verdict"], r["match_id"], r["est_jaccard"])
        for r in _q("dedup_incremental").fn(spark, SF).collect()
    }
    pairs = _q("dedup_minhash_lsh").fn(spark, SF).collect()
    best: dict[int, tuple[int, float]] = {}
    for r in pairs:
        for n, b in ((r["doc_a"], r["doc_b"]), (r["doc_b"], r["doc_a"])):
            if n % INGEST_MOD == 0 and b % INGEST_MOD != 0:
                cur = best.get(n)
                if cur is None or (r["est_jaccard"], -b) > (cur[1], -cur[0]):
                    best[n] = (b, r["est_jaccard"])
    for n, (b, e) in best.items():
        verdict, match, est = inc[n]
        if verdict == "exact_dup":
            continue
        assert (verdict, match, est) == ("near_dup", b, e), n
    pairset = {
        (min(r["doc_a"], r["doc_b"]), max(r["doc_a"], r["doc_b"])) for r in pairs
    }
    for n, (verdict, match, _) in inc.items():
        if verdict == "near_dup":
            assert (min(n, match), max(n, match)) in pairset, n


def test_auto_path_picks_every_measured_winner():
    """:func:`auto_path`'s thresholds are read off the r15 qbatch
    walls (BENCH_NOTES §r15-qbatch, carried verbatim in
    QBATCH_MEASURED). This pins the rule TO the measurements: for
    every measured (corpus, batch) cell the selector must pick the
    cheapest admissible path AMONG THE ARMS IT CAN RUN (DISPATCH_ARMS
    — the ivf branch executes the auto-probe operating point, so its
    wall is the ``ivfauto`` column; the fixed-probe ``ivf`` column is
    the recall evidence's reference, not a dispatchable arm) — brute
    counting as admissible always, pq only when a recall floor is
    required or it simply wins, and capped (None) arms never winning.
    A re-measure that moves a crossover fails here until the
    thresholds are re-derived."""
    from stream_processing_test_spark.llm.similarity import (
        DISPATCH_ARMS,
        QBATCH_MEASURED,
        auto_path,
    )

    for (n, b), cell in QBATCH_MEASURED.items():
        walls = {p: cell[col] for p, col in DISPATCH_ARMS.items()}
        # default contract: any dispatchable path admissible; parity
        # ties (within 5%) break toward the exact path
        ran = {p: w for p, w in walls.items() if w is not None}
        best = min(ran.values())
        winners = {p for p, w in ran.items() if w <= best * 1.05}
        choice = auto_path(n, b)
        assert choice in winners, (n, b, choice, walls)
        # recall-floor contract: ivf is inadmissible (geometry floor),
        # so the choice must be the cheaper of brute/pq among the arms
        # that actually ran
        floor_ran = {p: w for p, w in ran.items() if p != "ivf"}
        fchoice = auto_path(n, b, need_recall_floor=True)
        if fchoice in floor_ran:
            # the chosen arm was measured: it must have won its cell
            fbest = min(floor_ran.values())
            fwinners = {p for p, w in floor_ran.items() if w <= fbest * 1.05}
            assert fchoice in fwinners, (n, b, fchoice, walls)
        else:
            # the chosen arm was CAPPED in the harness (recorded skip,
            # e.g. pq at 2M/B=64's 2.0e9-row ADC stream): unmeasured,
            # not beaten — admissible only because auto_path's
            # docstring names the mitigation (batch the query set)
            assert walls.get(fchoice) is None, (n, b, fchoice, walls)


def test_ann_auto_topk_dispatches_to_brute_here(spark):
    """At the test corpus size (5k vectors, batch N_QUERIES=5) the
    selector is in the brute region, so the registered dispatcher
    must return exactly the brute result — and the decision must flip
    to ivf past BRUTE_MAX_ROWS and to pq under a recall-floor need."""
    from stream_processing_test_spark.llm.similarity import (
        BRUTE_MAX_ROWS,
        N_QUERIES,
        auto_path,
    )

    assert auto_path(5_000, N_QUERIES) == "brute"
    assert auto_path(BRUTE_MAX_ROWS + 1, N_QUERIES) == "ivf"
    assert auto_path(BRUTE_MAX_ROWS + 1, N_QUERIES, True) == "pq"
    auto = {
        (r.query_id, r.rk): r.neighbor_id
        for r in _q("ann_auto_topk").fn(spark, SF).collect()
    }
    brute = {
        (r.query_id, r.rk): r.neighbor_id
        for r in _q("ann_cosine_topk").fn(spark, SF).collect()
    }
    assert auto == brute and len(auto) > 0


def test_assign_blas_matches_parity_fold_including_boundaries(spark):
    """The r13 guarded-BLAS assignment (``_assign_arrow``) must label
    bit-identically to the pure left-to-right parity fold: (a) on a
    random corpus (the 1-2e-6 suspect rate means these rows all take
    the BLAS path — proving the error-bound argument, not the
    fallback), and (b) on crafted vectors whose cosine sits EXACTLY ON
    a round6 half-up boundary, which must trip the suspect fallback
    and still select the fold's label (ties to the smaller list_id)."""
    import numpy as np
    import pandas as pd

    from stream_processing_test_spark.llm.hashing import round6_np
    from stream_processing_test_spark.llm.similarity import _assign_arrow

    rng = np.random.default_rng(7)
    dim = 8
    cents = [(int(i), rng.normal(size=dim).tolist()) for i in range(7)]
    V = rng.normal(size=(4000, dim))
    # crafted rows: scaled copies of each centroid (cos = 1 exactly —
    # every rounded sim ties at 1.0 against its own centroid), zero
    # vectors (the zero-norm override), axis vectors, and TRUE round6
    # boundary rows — vectors built at cos ≈ (m - 0.5)·1e-6 to a
    # centroid, which must trip the suspect fallback
    c0 = np.array(cents[0][1])
    chat = c0 / np.sqrt((c0 * c0).sum())
    w = rng.normal(size=dim)
    w -= (w @ chat) * chat
    what = w / np.sqrt((w * w).sum())
    on_boundary = [
        t * chat + np.sqrt(1 - t * t) * what
        for t in (0.5000005, 0.1234565, 0.9999995)
    ]
    boundary = np.vstack(
        [np.array(c) * s for _, c in cents for s in (1.0, 2.5)]
        + [np.zeros(dim), np.eye(dim)[0]]
        + on_boundary
    )
    V = np.vstack([V, boundary])
    # the boundary rows must actually be suspect under the guard the
    # implementation uses, or this test stops covering the fallback
    bcos = np.array([(v @ c0) / (np.sqrt((v * v).sum()) * np.sqrt((c0 * c0).sum())) for v in on_boundary])
    yb = np.abs(bcos) * 1e6 + 0.5
    assert (np.abs(yb - np.rint(yb)) <= 1e-6).all()

    # pure parity fold reference (the pre-r13 semantics, verbatim)
    C = np.array([c for _, c in sorted(cents)])
    ids = np.array([i for i, _ in sorted(cents)])
    acc = np.zeros((len(V), len(C)))
    for j in range(dim):
        acc += V[:, j : j + 1] * C[None, :, j]
    nc = np.zeros(len(C))
    nv = np.zeros(len(V))
    for j in range(dim):
        nc += C[:, j] * C[:, j]
        nv += V[:, j] * V[:, j]
    nc, nv = np.sqrt(nc), np.sqrt(nv)
    with np.errstate(invalid="ignore", divide="ignore"):
        sims = round6_np(acc / (nv[:, None] * nc[None, :]))
    want = ids[np.argmax(sims, axis=1)]
    want[nv == 0.0] = ids[0]

    base = spark.createDataFrame(
        pd.DataFrame({"vec_id": range(len(V)), "v": [r.tolist() for r in V]}),
        "vec_id long, v array<double>",
    )
    got = {
        r["vec_id"]: r["list_id"]
        for r in _assign_arrow(base, cents).collect()
    }
    assert got == {i: int(want[i]) for i in range(len(V))}


def test_embedding_decontamination_catches_planted_paraphrase(spark, tmp_path):
    """Plant semantic contamination the n-gram tiers cannot see: a
    train vector that is a tiny perturbation of an eval vector
    (cos ≈ 0.99 — a 'paraphrase' in embedding space). The op must flag
    exactly that train doc with max_cos ≈ 0.99; background vectors are
    near-orthogonal (cos ~ N(0, 1/64)), far under the 0.35 threshold,
    and a train twin of another TRAIN vector must NOT be flagged
    (contamination is against the eval split only)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from stream_processing_test_spark.llm.dedup import EVAL_MOD
    from stream_processing_test_spark.registry import all_queries

    n, dim = 400, 64
    rng = np.random.default_rng(11)
    vecs = rng.standard_normal((n, dim)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    eval_id = EVAL_MOD  # 97: in the eval split
    plant = 103  # train doc: near-copy of the eval vector
    vecs[plant] = vecs[eval_id] + 0.05 * vecs[plant]
    train_twin_a, train_twin_b = 101, 102  # train x train near-pair
    vecs[train_twin_b] = vecs[train_twin_a] + 0.05 * vecs[train_twin_b]
    pq.write_table(
        pa.table(
            {
                "vec_id": np.arange(n, dtype=np.int64),
                "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
                "label": np.zeros(n, dtype=np.int32),
            }
        ),
        str(tmp_path / "embeddings.parquet"),
    )
    got = {
        r["vec_id"]: (r["n_eval_hits"], r["max_cos"])
        for r in all_queries()["decontaminate_embedding"]
        .fn(spark, str(tmp_path))
        .collect()
    }
    assert plant in got and got[plant][1] > 0.9
    assert train_twin_b not in got  # train-train similarity is not contamination
    assert train_twin_a not in got
    # eval docs themselves are never output rows (train side only)
    assert all(v % EVAL_MOD != 0 for v in got)


def test_pq_encode_arrow_matches_sql_twin(spark):
    """The registered Arrow encode kernel and the Catalyst-expression
    parity twin must emit IDENTICAL code matrices on the fixture
    corpus (r14 — the Spark-side end-to-end pin on top of the
    hypothesis property; the DuckDB oracle replays the twin's
    arithmetic, so kernel == twin is exactly oracle parity for the
    encode stage). Carry columns must ride through untouched."""
    from pyspark.sql import functions as F

    from stream_processing_test_spark.llm.pq import (
        pq_codebooks,
        pq_encode,
        pq_encode_arrow,
    )
    from stream_processing_test_spark.tables import load
    from tests.conftest import SF_SMALL

    emb = load(spark, SF_SMALL, "embeddings").select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("v"),
        (F.col("vec_id") % 7).alias("tag"),  # carry passthrough probe
    )
    rows = pq_codebooks(emb.select("vec_id", "v"))
    got = {
        r["vec_id"]: tuple(r[c] for c in r.asDict() if c.startswith("c"))
        for r in pq_encode_arrow(emb, rows, carry=("tag",)).collect()
    }
    want = {
        r["vec_id"]: tuple(r[c] for c in r.asDict() if c.startswith("c"))
        for r in pq_encode(emb, rows, carry=("tag",)).collect()
    }
    assert got == want and len(got) > 0
    tags = {
        r["vec_id"]: r["tag"]
        for r in pq_encode_arrow(emb, rows, carry=("tag",)).collect()
    }
    assert all(tags[v] == v % 7 for v in tags)


def test_lut_wide_scatter_robust_to_sparse_codebook(spark):
    """_lut_wide must stay position-correct when the trained codebook
    is SPARSE (r15 — _pq_lloyd_numpy can emit fewer than PQ_CODES
    codes per subspace when duplicate-heavy samples exhaust the
    reseed donors). The r14 array_sort build assumed a dense 16×16
    grid, so a dropped (s, code) shifted every later slot and
    silently corrupted gathered ADC scores; the scatter build keys
    each slot by s*PQ_CODES+code explicitly. Pin: on a sparsified
    codebook, every surviving slot equals the keyed LUT value and
    every missing slot is exactly 0 (never gathered — the encoder
    argmins over the same rows list)."""
    from pyspark.sql import functions as F

    from stream_processing_test_spark.llm.pq import (
        PQ_CODES,
        PQ_SUBS,
        _lut_wide,
        _query_luts,
        pq_codebooks,
    )
    from stream_processing_test_spark.tables import load
    from tests.conftest import SF_SMALL

    emb = load(spark, SF_SMALL, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    rows = pq_codebooks(emb.select("vec_id", "v"))
    # sparsify deterministically: drop ~1/5 of the grid, keeping at
    # least one code per subspace ((s+c)%5 != 0 never empties a row)
    sparse = [(s, c, v) for (s, c, v) in rows if (s + c) % 5 != 0]
    assert len(sparse) < len(rows)
    q = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    wide = {
        r["query_id"]: (r["iparts"], r["cnsqs"])
        for r in _lut_wide(q, sparse).collect()
    }
    keyed = {
        (r["query_id"], r["s"], r["code"]): (r["ipart"], r["cnsq"])
        for r in _query_luts(q, sparse).collect()
    }
    present = {(s, c) for (s, c, _) in sparse}
    assert len(wide) == 4
    for qid, (ip, cn) in wide.items():
        assert len(ip) == PQ_SUBS * PQ_CODES == len(cn)
        for s in range(PQ_SUBS):
            for c in range(PQ_CODES):
                pos = s * PQ_CODES + c
                if (s, c) in present:
                    assert ip[pos] == keyed[(qid, s, c)][0]
                    assert cn[pos] == keyed[(qid, s, c)][1]
                else:
                    assert ip[pos] == 0 and cn[pos] == 0


def test_append_adc_branch_cross_engine_parity(spark):
    """Force ann_index_append's ADC branch at fixture scale
    (crossover = 0, so the dispatch rule trips immediately) and gate
    it against the oracle regenerated with the same zero crossover —
    the registered APPEND_ADC_ROWS never dispatches to ADC below
    ladder scale, so without this the ADC branch (frozen base-trained
    quantizer + codebooks, batch LUTs, probed integer ADC, capped
    rerank) would run oracle-ungated. Exercises the dispatch and the
    dual-branch oracle end-to-end, including the ladder CTE picking
    'adc'."""
    import duckdb

    from pyspark.sql import functions as F

    from stream_processing_test_spark.llm.similarity import (
        INGEST_MOD,
        N_PROBE,
        Crossovers,
        _append_oracle,
        ivf_ladder,
    )
    from stream_processing_test_spark.tables import load
    from tests.conftest import SF_SMALL

    emb = load(spark, SF_SMALL, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    is_new = F.col("vec_id") % INGEST_MOD == 0
    base = emb.filter(~is_new)
    q = emb.filter(is_new).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    forced = Crossovers(adc_rows=0)
    n_base = base.count()
    res = ivf_ladder(
        base, q, n_base, emb.count() - n_base, N_PROBE,
        large_batch=True, crossovers=forced,
    )
    assert res.columns == ["query_id", "neighbor_id", "cos_sim", "rk"]
    got = sorted(
        (r["query_id"], r["neighbor_id"], r["cos_sim"], r["rk"])
        for r in res.collect()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{SF_SMALL}/embeddings.parquet')"
    )
    want = sorted(map(tuple, con.sql(_append_oracle(forced)).fetchall()))
    assert len(got) > 0 and got == want


def test_append_windowed_branch_cross_engine_parity(spark):
    """Force ann_index_append's WINDOWED branch at fixture scale
    (spill crossover = 0, tiny windows so the fixture batch spans
    SEVERAL of them) and gate it against the oracle regenerated with
    the same zero crossover and window size — the registered
    APPEND_SPILL_ROWS never dispatches to windowed below ladder
    scale, so without this the r15 branch (standing IVFADC index
    built once, batch streamed window-at-a-time through
    pq.ivfpq_search, eager per-window materialization, unioned) would
    run oracle-ungated. The oracle replays the branch as the
    monolithic ADC chain with the WINDOW-sized rerank rule; got ==
    want across a multi-window split is exactly the
    windows-cannot-change-per-query-results claim, verified
    cross-engine."""
    import duckdb

    from pyspark.sql import functions as F

    from stream_processing_test_spark.llm.similarity import (
        INGEST_MOD,
        N_PROBE,
        Crossovers,
        _append_oracle,
        ivf_ladder,
    )
    from stream_processing_test_spark.tables import load
    from tests.conftest import SF_SMALL

    emb = load(spark, SF_SMALL, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    is_new = F.col("vec_id") % INGEST_MOD == 0
    base = emb.filter(~is_new)
    q = emb.filter(is_new).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    n_batch = q.count()
    w = max(1, n_batch // 4)  # >= 4 windows — the union is exercised
    forced = Crossovers(spill_rows=0, window_queries=w)
    res = ivf_ladder(
        base, q, base.count(), n_batch, N_PROBE,
        large_batch=True, crossovers=forced,
    )
    assert res.columns == ["query_id", "neighbor_id", "cos_sim", "rk"]
    got = sorted(
        (r["query_id"], r["neighbor_id"], r["cos_sim"], r["rk"])
        for r in res.collect()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{SF_SMALL}/embeddings.parquet')"
    )
    want = sorted(map(tuple, con.sql(_append_oracle(forced)).fetchall()))
    assert len(got) > 0 and got == want
    # every new-batch query answered: no window dropped or duplicated
    assert {g[0] for g in got} == {
        r["query_id"] for r in q.select("query_id").collect()
    }


def test_ivf_ladder_adc_arms_on_untrainable_corpus(spark):
    """An all-zero corpus trains no coarse list (the quantizer skips
    zero norms) while the PQ codebooks still train. Both ADC arms of
    the ladder must answer with the contract's empty frame; the
    windowed arm once handed the empty quantizer to the fused
    assign+encode kernel, whose worker died unpacking it."""
    from stream_processing_test_spark.llm.similarity import (
        N_PROBE,
        Crossovers,
        ivf_ladder,
    )

    emb = spark.createDataFrame(
        [(i, [0.0] * 64) for i in range(40)], "vec_id long, v array<double>"
    )
    q = emb.filter("vec_id % 10 = 0").selectExpr(
        "vec_id AS query_id", "v AS qv"
    )
    for forced in (
        Crossovers(adc_rows=0),
        Crossovers(spill_rows=0, window_queries=2),
    ):
        res = ivf_ladder(
            emb, q, 40, 4, N_PROBE, large_batch=True, crossovers=forced
        )
        assert res.columns == ["query_id", "neighbor_id", "cos_sim", "rk"]
        assert res.count() == 0, forced


def test_embedding_diverse_sample_covers_every_cluster(spark):
    """The diverse sampler's contract: every cluster the quantizer
    formed contributes (coverage — the point of stratifying on
    geometry), no cluster exceeds the integer quota, ranks are
    1..quota within a cluster, and the sample is ~SAMPLE_TARGET-bounded
    (lists × quota) regardless of corpus size. Value parity with the
    Lloyd-replaying DuckDB oracle is the driver gate's job; this pins
    the shape."""
    from stream_processing_test_spark.llm.embeddings import (
        SAMPLE_TARGET,
        embedding_diverse_sample,
    )
    from stream_processing_test_spark.llm.similarity import auto_lists
    from stream_processing_test_spark.tables import load
    from tests.conftest import SF_SMALL

    n = load(spark, SF_SMALL, "embeddings").count()
    lists = auto_lists(n)
    quota = (SAMPLE_TARGET + lists - 1) // lists
    rows = embedding_diverse_sample(spark, SF_SMALL).collect()
    assert 0 < len(rows) <= lists * quota
    by_list: dict = {}
    for r in rows:
        by_list.setdefault(r["list_id"], []).append(r["rk"])
    # every cluster contributes (the fixture corpus fills all 16 —
    # Lloyd reseeds empty lists), bounded by quota, dense ranks
    assert len(by_list) == lists
    for lid, rks in by_list.items():
        assert len(rks) <= quota
        assert sorted(rks) == list(range(1, len(rks) + 1)), lid


def test_embedding_top_component_contract(spark):
    """The r15 PCA op's Spark-side contract (value parity with the
    unrolled-power-iteration oracle is the driver gate's job):
    (a) exactly PCA_TOPN rows with dense ranks ordered by |proj|
    DESC then vec_id ASC; (b) the learned direction is unit-norm
    (round-6) and sign-fixed (largest-|loading| dim positive) — the
    uniqueness rule both engines replay; (c) the direction actually
    concentrates variance: sample projection variance along it
    exceeds the per-dim variance of every raw axis (power iteration
    did something a coordinate axis would not); (d) a degenerate
    (constant) sample fits to None instead of emitting garbage."""
    import numpy as np

    from pyspark.sql import functions as F

    from stream_processing_test_spark.llm.embeddings import (
        PCA_TOPN,
        _pca_power_numpy,
        embedding_top_component,
    )
    from stream_processing_test_spark.llm.similarity import train_sample
    from stream_processing_test_spark.tables import load
    from tests.conftest import SF_SMALL

    rows = embedding_top_component(spark, SF_SMALL).collect()
    n_emb = load(spark, SF_SMALL, "embeddings").count()
    assert len(rows) == min(PCA_TOPN, n_emb)
    assert [r["rk"] for r in rows] == list(range(1, len(rows) + 1))
    key = [(-abs(r["proj"]), r["vec_id"]) for r in rows]
    assert key == sorted(key)

    emb = load(spark, SF_SMALL, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    sample = sorted(
        (r["vec_id"], list(r["v"])) for r in train_sample(emb).collect()
    )
    loadings, _ = _pca_power_numpy(sample)
    v = np.array(loadings)
    # unit norm up to the round-6 quantization of each component and
    # of the norm itself (relative error ~5e-7/|w_d| per small
    # component — observed 1.4e-4 on the fixture)
    assert abs(float(np.sum(v * v)) - 1.0) < 1e-3
    assert v[int(np.argmax(np.abs(v)))] > 0  # sign fix
    x = np.array([vec for _, vec in sample])
    c = x - x.mean(axis=0)
    along = float(np.var(c @ v))
    per_axis = np.var(c, axis=0)
    assert along > float(per_axis.max())

    assert _pca_power_numpy([(1, [1.0] * 64), (2, [1.0] * 64)]) is None


def test_auto_ivf_exec_both_arms_cross_engine_parity(spark):
    """Force BOTH exec engines of the dispatched ivf arm at fixture
    scale and gate each against the oracle regenerated with the same
    forced thresholds (brute region zeroed so the decision reaches
    the ivf ladder) — the registered APPEND_ADC_ROWS crossover never
    trips below ~19M vectors, so without this the r15 ADC exec arm
    (IVF-PQ composition at the auto operating point) would run
    oracle-ungated. exact-arm == adc-arm-to-its-own-oracle is also
    the candidates-unchanged claim: the exec rule swaps the scoring
    engine, never the routing."""
    import duckdb

    from stream_processing_test_spark.llm.similarity import (
        N_QUERIES,
        Crossovers,
        _auto_oracle,
        auto_lists,
        auto_probe,
        ivf_ladder,
        load_vectors,
        query_set,
    )
    from tests.conftest import SF_SMALL

    emb = load_vectors(spark, SF_SMALL)
    n = emb.count()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{SF_SMALL}/embeddings.parquet')"
    )
    # forced arm: monolithic ADC, exact, and the spill-windowed ADC
    # (tiny windows so the fixture batch spans several — value-identical
    # to the monolithic chain, which is exactly why the oracle's ADC
    # guard covers both)
    for forced in (
        Crossovers(adc_rows=0),
        Crossovers(adc_rows=10**15),
        Crossovers(adc_rows=0, spill_rows=0, window_queries=2),
    ):
        res = ivf_ladder(
            emb, query_set(emb), n, N_QUERIES, auto_probe(auto_lists(n)),
            large_batch=False, crossovers=forced,
        )
        assert res.columns == ["query_id", "neighbor_id", "cos_sim", "rk"]
        got = sorted(
            (r["query_id"], r["neighbor_id"], r["cos_sim"], r["rk"])
            for r in res.collect()
        )
        want = sorted(
            map(tuple, con.sql(_auto_oracle(forced, brute_max=0)).fetchall())
        )
        assert len(got) > 0 and got == want, forced


def test_mmr_diverse_topk_contract(spark):
    """The r15 MMR re-ranker's behavioral contract (value parity with
    the unrolled-greedy oracle is the driver gate's job): (a) TOP_K
    dense selection ranks per query; (b) rank 1 IS the relevance
    top-1 (the first greedy step has no diversity term); (c) the
    diversity term actually bites — on a pool seeded with near-copies
    of the best hit, plain relevance top-k keeps the copies and MMR
    evicts at least one in favor of a more distant result."""
    import numpy as np
    import pandas as pd

    from stream_processing_test_spark.llm.embeddings import (
        MMR_LAMBDA,
        _mmr_greedy,
        mmr_diverse_topk,
    )
    from stream_processing_test_spark.llm.params import N_QUERIES, TOP_K
    from tests.conftest import SF_SMALL

    rows = mmr_diverse_topk(spark, SF_SMALL).collect()
    by_q: dict = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    assert set(by_q) == set(range(N_QUERIES))
    for qid, rs in by_q.items():
        rs.sort(key=lambda r: r["rk"])
        assert [r["rk"] for r in rs] == list(range(1, TOP_K + 1))
        # rank 1 = relevance argmax (ties to smaller id)
        best = max(rs, key=lambda r: (r["cos_sim"], -r["neighbor_id"]))
        assert rs[0]["cos_sim"] >= best["cos_sim"], qid

    # (c) synthetic pool: one strong hit + two near-copies + spread-out
    # moderates. Relevance order keeps the copies at ranks 2-3; MMR
    # must push a moderate above at least one copy.
    rng = np.random.RandomState(7)
    base = rng.randn(64)
    rows_in = []
    vecs = {
        10: base + 0.01 * rng.randn(64),          # best hit
        11: base + 0.012 * rng.randn(64),         # near-copy
        12: base + 0.013 * rng.randn(64),         # near-copy
        13: rng.randn(64),                        # distant
        14: rng.randn(64),                        # distant
    }
    rels = {10: 0.95, 11: 0.94, 12: 0.93, 13: 0.6, 14: 0.59}
    for nid, vec in vecs.items():
        rows_in.append((0, nid, rels[nid], list(map(float, vec))))
    pdf = pd.DataFrame(rows_in, columns=["query_id", "neighbor_id", "rel", "v"])
    out = _mmr_greedy(pdf)
    order = list(out["neighbor_id"])
    assert order[0] == 10
    # relevance-only order would be [10, 11, 12, 13, 14]; the
    # diversity term must promote a distant vector above a near-copy
    assert order.index(13) < order.index(12), order
    assert 0 < MMR_LAMBDA < 1


def test_bpe_merges_match_python_reference(spark):
    """Third-engine check for the iterative BPE trainer: a pure-Python
    reference (token-list rewrite — scan left-to-right, merge on pair
    hit, skip both) over the same fixture must reproduce every round's
    (pair, count) exactly. Pins that the double-space string-replace
    encoding implements greedy non-overlapping token merging, not some
    string-level approximation."""
    from collections import Counter

    import duckdb

    from stream_processing_test_spark.llm.corpus import (
        BPE_ROUNDS,
        _BPE_JOIN,
    )

    docs = [
        r[0].lower().split()
        for r in duckdb.sql(
            f"SELECT trim(text) FROM '{SF}/documents.parquet' "
            "WHERE len(trim(text)) > 0"
        ).fetchall()
    ]
    expected = []
    for rnd in range(1, BPE_ROUNDS + 1):
        counts = Counter()
        for t in docs:
            for i in range(len(t) - 1):
                counts[(t[i], t[i + 1])] += 1
        (w1, w2), n = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        expected.append((rnd, w1, w2, n))
        merged_docs = []
        for t in docs:
            out, i = [], 0
            while i < len(t):
                if i + 1 < len(t) and t[i] == w1 and t[i + 1] == w2:
                    out.append(t[i] + _BPE_JOIN + t[i + 1])
                    i += 2
                else:
                    out.append(t[i])
                    i += 1
            merged_docs.append(out)
        docs = merged_docs

    got = sorted(
        (r["round"], r["w1"], r["w2"], r["pair_count"])
        for r in _q("bpe_vocab_merges").fn(spark, SF).collect()
    )
    assert got == expected


def test_semantic_dup_clusters_union_find(spark):
    """Third-engine check: mutual thresholded edges derived from the
    registered knn graph's own output, closed with a pure-Python
    union-find, must reproduce (component, cluster_size) exactly —
    min-id canonical labels and transitive closure, independent of
    both Spark's iterative loop and the oracle's recursive walk."""
    from stream_processing_test_spark.llm.dedup import (
        EMBED_COSINE_THRESHOLD,
    )

    g = _q("embedding_knn_graph").fn(spark, SF).collect()
    edges_dir = {(r["vec_id"], r["neighbor_id"]): r["cos_sim"] for r in g}
    mutual = [
        (a, b)
        for (a, b), c in edges_dir.items()
        if a < b and (b, a) in edges_dir and c >= EMBED_COSINE_THRESHOLD
    ]
    assert mutual, "fixture should produce mutual near-dup edges"

    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in mutual:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    labels = {n: find(n) for n in parent}
    from collections import Counter

    sizes = Counter(labels.values())
    expected = sorted(
        (n, lbl, sizes[lbl]) for n, lbl in labels.items()
    )

    got = sorted(
        (r["vec_id"], r["component"], r["cluster_size"])
        for r in _q("semantic_dup_clusters").fn(spark, SF).collect()
    )
    assert got == expected


def test_phash_spark_sql_twin_matches_python(spark):
    """The r16 Spark-SQL-string phash twin (hashing.phash_spark_sql,
    used by the SQL-assembled builders) must stay in lockstep with the
    Column twin and the Python twin — one drifting hash would silently
    shift every SQL-built signature."""
    from pyspark.sql import functions as F

    from stream_processing_test_spark.llm.hashing import (
        phash,
        phash_py,
        phash_spark_sql,
    )

    samples = ["", "a", "hello world", "héllo", "42:seeded", "x " * 20]
    df = spark.createDataFrame([(s,) for s in samples], "s STRING")
    rows = df.select(
        "s",
        phash(F.col("s")).alias("col_twin"),
        F.expr(phash_spark_sql("s")).alias("sql_twin"),
        F.expr(phash_spark_sql("s", seed=7)).alias("sql_seeded"),
        phash(F.col("s"), seed=7).alias("col_seeded"),
    ).collect()
    for r in rows:
        assert r["col_twin"] == r["sql_twin"] == phash_py(r["s"])
        assert r["col_seeded"] == r["sql_seeded"] == phash_py(r["s"], seed=7)


def test_connected_components_with_count(spark):
    """with_count=True returns the clustered-node count without a
    count job of its own — it must equal the label frame's row count on
    the driver path and, past the driver cap, on converged min-label and
    on the star fallback."""
    from stream_processing_test_spark.llm.cluster import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "src LONG, dst LONG"
    )
    labels, n = connected_components(edges, with_count=True)
    assert _is_local(labels)  # the driver path's union-find node count
    assert n == labels.count() == 5

    # broadcasting off puts every edge set past the driver cap: the
    # small graph converges in min-label, the 64-chain falls back to star
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 64)], "src LONG, dst LONG"
    )
    old_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        labels1, n1 = connected_components(edges, with_count=True)
        assert not _is_local(labels1)
        assert n1 == labels1.count() == 5
        labels2, n2 = connected_components(chain, with_count=True)
        assert not _is_local(labels2)
        assert n2 == labels2.count() == 64
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bc)


def _is_local(df) -> bool:
    """True when ``df`` is the driver path's Arrow-built LocalRelation."""
    return "LocalRelation" in df._jdf.queryExecution().analyzed().toString()


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_cc_driver_path_matches_distributed_paths(spark):
    """Under the default conf the auto path closes a small edge set on
    the driver; its labels must equal pinned min-label and star on
    randomized graphs carrying duplicate edges, both orientations of an
    edge and self-loops, on a 64-node chain (diameter 63) and on the
    empty edge set."""
    import random

    from stream_processing_test_spark.llm.cluster import connected_components

    graphs = []
    for seed in (1, 2, 3):
        rng = random.Random(seed)
        e = [(rng.randrange(40), rng.randrange(40)) for _ in range(30)]
        e += [(b, a) for a, b in rng.sample(e, 8)]  # both orientations
        e += rng.sample(e, 5)  # exact duplicates
        e += [(n, n) for n in rng.sample(range(40, 50), 3)]  # self-loops
        graphs.append(e)
    graphs.append([(i, i + 1) for i in range(63)])
    graphs.append([])
    for e in graphs:
        edges = spark.createDataFrame(e, "src LONG, dst LONG")
        auto = connected_components(edges)
        assert _is_local(auto)
        got = _rows(auto)
        assert got == sorted(_union_find_components(e).items())
        assert got == _rows(
            connected_components(edges, algorithm="minlabel", max_iter=40)
        )
        assert got == _rows(connected_components(edges, algorithm="star"))


def test_cc_null_endpoint_takes_distributed_path(spark):
    """A null endpoint cannot be ordered against ids on the driver: the
    auto path hands the edge set to the distributed loop (no bare
    TypeError) and returns what pinned min-label returns."""
    from stream_processing_test_spark.llm.cluster import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, None), (None, 5), (7, 8)], "src LONG, dst LONG"
    )
    labels = connected_components(edges)
    assert not _is_local(labels)
    pinned = connected_components(edges, algorithm="minlabel")
    assert sorted(map(repr, labels.collect())) == sorted(
        map(repr, pinned.collect())
    )
