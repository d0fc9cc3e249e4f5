"""Scale-stress the dedup ladder on self-generated data (VERDICT r6
item 1): turn the repo's 100 TB plan assertions into measurements.

Generates a scratch corpus with a controlled near-dup rate (the regime
the size-gated keep-verdict join exists for), then times the ladder
``dedup_ngram_jaccard -> dup_clusters -> dedup_keep_canonical ->
leakage_safe_split`` at three tiers:

- ``x1``   — sf0.1-sized (5 000 docs): anchors the ratios.
- ``x10``  — 10x docs: the scaling measurement. Every stage of the
  ladder is designed linear (shingle expansion, df-capped inverted
  index, constant-round component closure), so wall time should grow
  ~10x or less (fixed session/job overheads amortize).
- ``overbudget`` — sized so the clustered-node set EXCEEDS the session
  broadcast budget (spark.sql.autoBroadcastJoinThreshold / 64 B per
  row ≈ 164 k nodes at the 10 MB default): the keep-verdict gate
  (llm/cluster.py `with_keep_verdict`) must take its no-hint path and
  the join must COMPLETE — a real over-budget run, not a plan assert.
  The tier runs the `dedup_keep_canonical` computation statement by
  statement so the gate inputs (measured node count, threshold, hint
  decision) and the executed join node land in the artifact.

Corpus construction (deterministic, seeded; NOT under /root/testdata):
random-token docs over a 30 k-token vocabulary (cross-doc shingle
collisions ~0), of which ``dup_rate`` are near-copies of a random base
doc with 0-2 token substitutions — at doc length >= 100 tokens the
worst case (2 interior mutations) keeps 5-gram Jaccard >= 0.81, above
the 0.8 threshold, so every intended pair IS a dup edge. Copies of the
same base form clusters of size 2-4 linked through the base (dup-dup
similarity may fall below threshold; transitivity closes them).

Since r8 the harness also measures the VECTOR family (VERDICT r7
item 1): ``vec_x1/x4/x16`` generate embeddings corpora (50 k / 200 k /
800 k x 64-dim, 20% near-copies at cos ~0.89) and time the
auto_planes-sized ``embedding_lsh_pairs`` pipeline (the registered
``dedup_embedding_lsh`` code path) — expected candidates are
~ n * occupancy * tables, so walls should scale ~linearly; planted-pair
recall is recorded alongside. ``vec_fixed4``/``vec_fixed4_2x`` run the
SAME pipeline with the retired fixed-4-plane default on 10 k / 20 k
corpora: its bucket join is ~n²/2^4 per table, so the 2x rung should
~quadruple — the measured contrast that justifies the auto sizing.

Usage:
  python tools/scale_stress.py [--tiers x1,x10,overbudget]
      [--scratch DIR] [--out BENCH_SCALE.json] [--repeats 2]
      [--queries q1,q2]   # text tiers: time only these, merge per-query
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from stream_processing_test_spark.session import release_pinned_rdds  # noqa: E402

VOCAB_SIZE = 30_000
DOC_LEN = (100, 160)  # inclusive token-length bounds; >=100 keeps
#                       2-mutation pairs above the 0.8 Jaccard threshold
SEED = 20260814

TIERS = {
    # name: (n_docs, dup_rate)
    "x1": (5_000, 0.4),
    "x10": (50_000, 0.4),
    # vector-corpus tiers (VERDICT r7 item 1): embeddings.parquet of
    # n 64-dim vectors, 20% near-copies at cosine ~0.9. 4x docs per
    # rung — the auto_planes-sized LSH dedup should scale ~linearly
    # (expected candidates ~ n * occupancy * tables).
    "vec_x1": (50_000, 0.2),
    "vec_x4": (200_000, 0.2),
    "vec_x16": (800_000, 0.2),
    # the auto_lists CLAMP regime (ADVICE r10): 2 M vectors resolve
    # auto_lists to its 256 maximum (128^2*64 = 1.05 M < n), so the
    # ivfpq extra on this tier exercises the 256-list coarse quantizer
    # END-TO-END — train, Arrow assignment, routed ADC — not just the
    # assignment-stage probe
    "vec_x40": (2_000_000, 0.2),
    # recall dial: same 200k corpus, DOUBLE the tables — measures the
    # documented production move (hold recall as planes grow by raising
    # n_tables; cost ~2x, still linear in n)
    "vec_x4_t16": (200_000, 0.2),
    # fixed-4-plane CONTRAST pair: the retired default's bucket join is
    # ~n^2/2^4 per table, so doubling the corpus should ~quadruple the
    # wall while the auto-sized run on the same corpora stays ~linear —
    # the measured demonstration of why auto_planes is wired in.
    "vec_fixed4": (10_000, 0.2),
    "vec_fixed4_2x": (20_000, 0.2),
    # 420k docs @ 40% dups -> ~290k clustered nodes (168k copies +
    # ~123k distinct bases hit) -> gate estimate ~18.6 MB >> the 10 MB
    # default budget: the gate must refuse the broadcast hint. (AQE may
    # still runtime-convert: the node set's ACTUAL shuffle bytes at
    # this size measure ~5 MB — see overbudget_xl for the tier where
    # even the runtime size exceeds the threshold.)
    "overbudget": (420_000, 0.4),
    # 1.68M docs -> ~1.16M clustered nodes; runtime shuffle bytes of
    # the node set exceed the 10 MB AQE threshold too, so the verdict
    # join executes as a genuine shuffle join end-to-end
    "overbudget_xl": (1_680_000, 0.4),
    # streaming rungs (VERDICT r8 item 3): 10x / 100x the sf0.1
    # fixture's 100k events, replayed as sustained availableNow
    # micro-batches through the two headline streaming pipelines
    "stream_x10": (1_000_000, 0.0),
    "stream_x100": (10_000_000, 0.0),
    # multimodal rungs (VERDICT r9 item 5): 10x / 100x the sf0.1
    # fixture's 5k documents — the registered stub-decode pipelines run
    # verbatim on the text corpus, and a parallel real-PNG corpus
    # (64x64 grayscale, one image per doc) measures the pure-stdlib
    # codec's decode/resize MB/s with a scan-only baseline subtracted
    "mm_x10": (50_000, 0.0),
    "mm_x100": (500_000, 0.0),
}


def _stream_params(n_events: int) -> dict:
    """Marker params for gen_events — same staleness contract as the
    doc/vector generators."""
    return {
        "n_events": n_events,
        "seed": SEED,
        "events_per_user": STREAM_EVENTS_PER_USER,
        "days": STREAM_DAYS,
        "gen_version": 1,
    }


def _doc_params(n_docs: int, dup_rate: float) -> dict:
    """Marker params for gen_corpus — includes every generation
    constant, so editing VOCAB_SIZE/DOC_LEN (or the generator itself,
    via the version int) invalidates cached corpora instead of
    silently reusing stale data."""
    return {
        "n_docs": n_docs,
        "dup_rate": dup_rate,
        "seed": SEED,
        "vocab": VOCAB_SIZE,
        "doc_len": list(DOC_LEN),
        # v2: documents.parquet became a one-file-per-chunk DIRECTORY
        # (honest scan parallelism — see gen_corpus docstring); content
        # is identical to v1, only the layout changed
        "gen_version": 2,
    }


MM_IMG_SIDE = 64  # real-PNG corpus: 64x64 grayscale per doc


def _mm_params(n_docs: int) -> dict:
    """Marker params for gen_media — same staleness contract. The text
    half reuses _doc_params' generator (dup_rate 0: dedup structure is
    irrelevant to codec throughput)."""
    return {
        "n_docs": n_docs,
        "seed": SEED,
        "img_side": MM_IMG_SIDE,
        "vocab": VOCAB_SIZE,
        "doc_len": list(DOC_LEN),
        # v2: PNG corpus chunk dropped 30k -> 4k images/file (~17 MB):
        # at 30k the x10 tier was TWO ~106 MB files = two scan tasks,
        # serializing the decode onto 2 of 32 cores (the same fat-file
        # trap gen_version 2 fixed for text corpora — payload bytes per
        # row are ~700x a text doc here, so the chunk count must be
        # sized in bytes, not rows)
        "gen_version": 2,
    }


def gen_media(out_dir: str, n_docs: int, seed: int = SEED) -> dict:
    """Write the mm tier's two corpora: ``documents.parquet`` (the
    registered multimodal queries' input — gen_corpus verbatim at
    dup_rate 0) and ``media_png.parquet`` (doc_id, media_type,
    payload: a REAL 64x64 grayscale PNG per doc, deterministic pixels,
    encoded with the engine's own pure-stdlib encoder) as a chunked
    directory for honest scan parallelism."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from stream_processing_test_spark.llm.codecs import encode_png

    stats = gen_corpus(out_dir, n_docs, 0.0, seed=seed)

    import shutil

    path = os.path.join(out_dir, "media_png.parquet")
    if os.path.isdir(path):
        shutil.rmtree(path)
    elif os.path.exists(path):
        os.remove(path)
    os.makedirs(path)
    schema = pa.schema(
        [
            ("doc_id", pa.int64()),
            ("media_type", pa.string()),
            ("payload", pa.binary()),
        ]
    )
    rng = np.random.default_rng(seed + 1)
    side, chunk, png_bytes = MM_IMG_SIDE, 4_000, 0
    for start in range(0, n_docs, chunk):
        c = min(chunk, n_docs - start)
        pixels = rng.integers(0, 256, size=(c, side * side), dtype=np.uint8)
        payloads = [
            encode_png(side, side, 1, pixels[i].tobytes()) for i in range(c)
        ]
        png_bytes += sum(len(p) for p in payloads)
        pq.write_table(
            pa.table(
                {
                    "doc_id": np.arange(start, start + c, dtype=np.int64),
                    "media_type": ["image"] * c,
                    "payload": payloads,
                },
                schema=schema,
            ),
            os.path.join(path, f"part-{start // chunk:05d}.parquet"),
        )
    stats.update(
        {
            "png_path": path,
            "png_bytes": png_bytes,
            "img_side": side,
            "n_images": n_docs,
        }
    )
    return stats


# Below this margin the feature wall is within measurement noise of the
# scan wall, so dividing payload MB by the clamped difference fabricates
# up-to-100x throughputs; record None ("unattributable") instead.
ATTRIB_NOISE_SEC = 0.25
ATTRIB_NOISE_FRAC = 0.15  # ... or 15% of the scan wall, whichever is larger


def _attributed_delta(full_wall: float, scan_wall: float) -> float | None:
    """full-pipeline wall minus scan-baseline wall, or None when the
    difference is below the noise margin (not attributable to the
    decode/resize stage)."""
    delta = round(full_wall - scan_wall, 2)
    if delta < max(ATTRIB_NOISE_SEC, ATTRIB_NOISE_FRAC * scan_wall):
        return None
    return delta


def multimodal_run(spark, tdir: str, repeats: int) -> dict:
    """The mm tier's measurement arms (VERDICT r9 item 5):

    - ``features_registered`` / ``preprocess_registered``: the two
      registered queries VERBATIM on the tier's documents.parquet
      (text payloads → stub-branch decode — the driver-gated shape).
    - ``png_scan``: scan-only baseline over the real-PNG corpus (count
      + payload-byte sum; pays parquet decode + binary materialization
      but runs no Python).
    - ``png_features``: the real extract_features mapInPandas stage on
      the same corpus — full PNG pixel decode per image. The
      attributed decode cost is ``full − scan`` and the MB/s figure
      divides payload bytes by it.
    - ``png_resize``: resize_images at target 32 (REAL nearest-neighbor
      resample + PNG re-encode; 64→32 so the kernel does real work).

    All walls min-of-``repeats``.
    """
    from pyspark.sql import functions as F

    from stream_processing_test_spark.llm.multimodal import (
        extract_features,
        resize_images,
    )

    out: dict = {}
    out["features_registered"] = time_query(
        spark, "multimodal_features", tdir, repeats
    )
    out["preprocess_registered"] = time_query(
        spark, "multimodal_preprocess", tdir, repeats
    )

    media = spark.read.parquet(os.path.join(tdir, "media_png.parquet"))

    def timed(build_df, agg: bool = False) -> tuple[float, list]:
        samples = []
        for _ in range(repeats):
            spark.catalog.clearCache()
            release_pinned_rdds(spark)
            t0 = time.time()
            df = build_df()
            if agg:
                df.collect()
            else:
                df.write.format("noop").mode("overwrite").save()
            samples.append(round(time.time() - t0, 2))
        return min(samples), samples

    n_images, png_mb = media.count(), None
    bytes_total = media.agg(F.sum(F.length("payload"))).collect()[0][0]
    png_mb = round(bytes_total / 1e6, 1)
    scan_wall, scan_samples = timed(
        lambda: media.agg(
            F.count("*").alias("n"),
            F.sum(F.length("payload")).alias("payload_bytes"),
        ),
        agg=True,
    )
    out["png_scan"] = {
        "wall_sec": scan_wall,
        "samples": scan_samples,
        "n_images": n_images,
        "payload_mb": png_mb,
    }
    feat_wall, feat_samples = timed(lambda: extract_features(media))
    decode_sec = _attributed_delta(feat_wall, scan_wall)
    out["png_features"] = {
        "wall_sec": feat_wall,
        "samples": feat_samples,
        "decode_sec_attributed": decode_sec,
        "decode_mb_per_s": round(png_mb / decode_sec, 1) if decode_sec else None,
        "images_per_s": round(n_images / decode_sec) if decode_sec else None,
    }
    rz_wall, rz_samples = timed(lambda: resize_images(media, target=32))
    rz_sec = _attributed_delta(rz_wall, scan_wall)
    out["png_resize"] = {
        "wall_sec": rz_wall,
        "samples": rz_samples,
        "resize_sec_attributed": rz_sec,
        "resize_mb_per_s": round(png_mb / rz_sec, 1) if rz_sec else None,
    }
    # dedup rungs (r12): the registered query on the tier documents
    # (stub features are byte-diverse -> a REAL banded join at n docs),
    # plus the fingerprint pipeline over the real-PNG corpus — random
    # pixels average to near-constant channel stats, so this rung is
    # the DEGENERATE case the hot-block cap exists for: the recorded
    # hot-block count documents the bound firing instead of the join
    # going quadratic.
    out["dedup_registered"] = time_query(
        spark, "dedup_multimodal", tdir, repeats
    )
    from stream_processing_test_spark.llm.multimodal import (
        MM_BLOCK_DF_MAX,
        multimodal_fingerprint_pairs,
    )

    dd_samples, dd_pairs = [], None
    for _ in range(repeats):
        spark.catalog.clearCache()
        release_pinned_rdds(spark)
        t0 = time.time()
        pairs = multimodal_fingerprint_pairs(extract_features(media))
        n_pairs = pairs.count()
        dd_samples.append(round(time.time() - t0, 2))
        if dd_pairs is None:
            dd_pairs = n_pairs
    # untimed evidence probe (r12 review finding): pairs=0 with the
    # cap FIRING must be distinguishable from pairs=0 on a clean
    # corpus, so count the blocks the cap dropped.
    from stream_processing_test_spark.llm.multimodal import (
        _MM_BLOCK_BITS,
        _MM_BLOCK_MASK,
        MM_FP_BLOCKS,
        multimodal_fingerprints,
    )

    fp = multimodal_fingerprints(extract_features(media))
    stack = ", ".join(
        f"{i}, int(shiftrightunsigned(fp, {_MM_BLOCK_BITS * i}) & {_MM_BLOCK_MASK})"
        for i in range(MM_FP_BLOCKS)
    )
    hot_blocks = (
        fp.selectExpr(
            "media_type", f"stack({MM_FP_BLOCKS}, {stack}) AS (i, block)"
        )
        .groupBy("media_type", "i", "block")
        .count()
        .filter(F.col("count") > MM_BLOCK_DF_MAX)
        .count()
    )
    out["png_dedup"] = {
        "wall_sec": min(dd_samples),
        "samples": dd_samples,
        "pairs": dd_pairs,
        "block_df_max": MM_BLOCK_DF_MAX,
        "hot_blocks_dropped": hot_blocks,
    }
    return out


def _vec_params(n_vecs: int, dup_rate: float) -> dict:
    """Marker params for gen_vectors — same staleness contract."""
    return {
        "n_vecs": n_vecs,
        "dup_rate": dup_rate,
        "seed": SEED,
        "dim": VEC_DIM,
        "noise": VEC_NOISE,
        # v2: embeddings.parquet became a one-file-per-chunk DIRECTORY
        # (honest scan parallelism — see gen_vectors docstring)
        "gen_version": 2,
    }


def _reuse_or_gen(
    out_dir: str,
    params: dict,
    gen_fn,
    expect_paths: dict[str, str] | None = None,
) -> dict:
    """Skip regeneration when the tier dir already holds a corpus
    produced with identical parameters (marker json written after a
    successful generation) — re-running one tier or one query no
    longer pays the multi-minute corpus write of the big tiers.

    EVERY artifact the caller expects must still exist (ADVICE r8
    #2): vec tiers also write planted_pairs.parquet, and a marker
    whose main path survives but whose pairs file was deleted must
    regenerate, not let a recall measurement run against a missing
    pair set. ``expect_paths`` maps marker keys to the artifact's
    conventional filename under ``out_dir``; a pre-r9 marker that
    never recorded the key is backfilled from that default — sound
    because markers are written only AFTER a fully successful
    generation, so any artifact at the default location came from the
    same gen (partial runs never write markers)."""
    if expect_paths is None:  # no mutable default (ADVICE r9 #2)
        expect_paths = {"path": None}
    marker = os.path.join(out_dir, "gen_stats.json")
    if os.path.exists(marker):
        try:
            prev = json.loads(Path(marker).read_text())
            resolved = {
                k: prev.get(k)
                or (os.path.join(out_dir, fname) if fname else None)
                for k, fname in expect_paths.items()
            }
            if all(prev.get(k) == v for k, v in params.items()) and all(
                p and os.path.exists(p) for p in resolved.values()
            ):
                return {**prev, **resolved, "reused": True}
        except (OSError, ValueError):
            pass
    stats = {**params, **gen_fn()}
    Path(marker).write_text(json.dumps(stats))
    return stats


def gen_corpus(out_dir: str, n_docs: int, dup_rate: float, seed: int = SEED) -> dict:
    """Write ``{out_dir}/documents.parquet`` (driver-table schema) as a
    DIRECTORY of one file per 30 k-doc chunk and return generation
    stats. Chunked generation keeps memory bounded; the multi-file
    layout keeps the SCAN honest — a single ~1 GB file byte-splits into
    only ~9 tasks on this host (size/maxPartitionBytes), serializing
    the decode that every shingle consumer pays first (the same
    bottleneck the vector ladder measured and fixed; real corpora are
    many files). Same seed and chunk order as the v1 single-file
    layout, so the CONTENT is byte-identical — only the layout (and
    scan parallelism) changes."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    vocab = np.array([f"tok{i:05d}" for i in range(VOCAB_SIZE)])
    import shutil

    path = os.path.join(out_dir, "documents.parquet")
    if os.path.isdir(path):
        shutil.rmtree(path)
    elif os.path.exists(path):
        os.remove(path)
    os.makedirs(path)

    schema = pa.schema(
        [
            ("doc_id", pa.int64()),
            ("text", pa.string()),
            ("lang", pa.string()),
            ("source", pa.string()),
            ("n_chars", pa.int64()),
        ]
    )
    chunk = 30_000
    n_dup_total = 0
    for start in range(0, n_docs, chunk):
        c = min(chunk, n_docs - start)
        n_dup = int(c * dup_rate)
        n_base = c - n_dup
        lengths = rng.integers(DOC_LEN[0], DOC_LEN[1] + 1, size=n_base)
        bases = [
            rng.integers(0, VOCAB_SIZE, size=ln) for ln in lengths
        ]
        docs = list(bases)
        # near-copies: random base from THIS chunk, 0-2 substitutions
        base_pick = rng.integers(0, n_base, size=n_dup)
        n_mut = rng.integers(0, 3, size=n_dup)
        for b, k in zip(base_pick, n_mut):
            d = bases[b].copy()
            if k:
                pos = rng.choice(len(d), size=k, replace=False)
                d[pos] = rng.integers(0, VOCAB_SIZE, size=k)
            docs.append(d)
        texts = [" ".join(vocab[d]) for d in docs]
        ids = np.arange(start, start + c, dtype=np.int64)
        pq.write_table(
            pa.table(
                {
                    "doc_id": ids,
                    "text": texts,
                    "lang": ["en"] * c,
                    "source": [f"src{i % 10}" for i in range(start, start + c)],
                    "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
                },
                schema=schema,
            ),
            os.path.join(path, f"part-{start // chunk:05d}.parquet"),
        )
        n_dup_total += n_dup
    return {
        "path": path,
        "n_docs": n_docs,
        "n_near_dups": n_dup_total,
        "dup_rate": dup_rate,
        "vocab": VOCAB_SIZE,
        "doc_len": list(DOC_LEN),
        "seed": seed,
        "n_files": len(os.listdir(path)),
        "bytes": sum(
            os.path.getsize(os.path.join(path, f)) for f in os.listdir(path)
        ),
    }


VEC_DIM = 64  # embeddings-table vector width
VEC_TABLES = 8  # LSH tables for the ladder (cost knob; recall via tables)
VEC_OCCUPANCY = 16  # auto_planes target for the ladder: expected
#                     candidates ~ n * occupancy * tables stays local-
#                     runnable at 800k vectors (the registered default
#                     of 1024 is recall-first and sized for clusters)
VEC_NOISE = 0.5  # dup = base + noise*N(0,1)^dim -> cos ~ 1/sqrt(1.25) ~ 0.894


def gen_vectors(out_dir: str, n_vecs: int, dup_rate: float, seed: int = SEED) -> dict:
    """Write ``{out_dir}/embeddings.parquet`` (driver-table schema:
    vec_id BIGINT, embedding FLOAT[], label INT) plus
    ``planted_pairs.parquet`` (the intended near-dup pairs, for recall
    accounting) and return generation stats. Base vectors are standard
    normal; ``dup_rate`` of each chunk are near-copies of a random base
    from the same chunk at cosine ~0.894 (>> the 0.35 threshold).

    ``embeddings.parquet`` is a DIRECTORY of one file per 50 k-vector
    chunk, not a single fat file: a real corpus is many files, and a
    single 205 MB file byte-splits into only ⌈size/maxPartitionBytes⌉
    = 2 scan tasks — which serialized the decode and was measured as
    the DOMINANT cost of the 800 k rung (113.8 s stage wall, of which
    the actual signature compute was ~24 s). Honest scan parallelism
    is part of what the ladder claims to measure."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed + 7)
    path = os.path.join(out_dir, "embeddings.parquet")
    ppath = os.path.join(out_dir, "planted_pairs.parquet")
    import shutil

    for p in (path, ppath):
        if os.path.isdir(p):
            shutil.rmtree(p)
        elif os.path.exists(p):
            os.remove(p)
    os.makedirs(path)
    schema = pa.schema(
        [
            ("vec_id", pa.int64()),
            ("embedding", pa.list_(pa.float32())),
            ("label", pa.int32()),
        ]
    )
    pschema = pa.schema([("doc_a", pa.int64()), ("doc_b", pa.int64())])
    chunk = 50_000
    n_dup_total = 0
    pwriter = pq.ParquetWriter(ppath, pschema)
    try:
        for start in range(0, n_vecs, chunk):
            c = min(chunk, n_vecs - start)
            n_dup = int(c * dup_rate)
            n_base = c - n_dup
            base = rng.standard_normal((n_base, VEC_DIM)).astype(np.float32)
            picks = rng.integers(0, n_base, size=n_dup)
            dups = (
                base[picks]
                + VEC_NOISE
                * rng.standard_normal((n_dup, VEC_DIM)).astype(np.float32)
            )
            vecs = np.vstack([base, dups])
            pq.write_table(
                pa.table(
                    {
                        "vec_id": np.arange(start, start + c, dtype=np.int64),
                        "embedding": pa.array(
                            list(vecs), type=pa.list_(pa.float32())
                        ),
                        "label": np.zeros(c, dtype=np.int32),
                    },
                    schema=schema,
                ),
                os.path.join(path, f"part-{start // chunk:05d}.parquet"),
            )
            # planted pair = (base id, dup id), base always first/lower
            base_ids = start + picks.astype(np.int64)
            dup_ids = np.arange(
                start + n_base, start + c, dtype=np.int64
            )
            pwriter.write_table(
                pa.table({"doc_a": base_ids, "doc_b": dup_ids}, schema=pschema)
            )
            n_dup_total += n_dup
    finally:
        pwriter.close()
    n_files = len(os.listdir(path))
    return {
        "path": path,
        "pairs_path": ppath,
        "n_vecs": n_vecs,
        "n_planted_pairs": n_dup_total,
        "dup_rate": dup_rate,
        "dim": VEC_DIM,
        "noise": VEC_NOISE,
        "seed": seed,
        "n_files": n_files,
        "bytes": sum(
            os.path.getsize(os.path.join(path, f)) for f in os.listdir(path)
        ),
    }


def vector_lsh_run(
    spark,
    tdir: str,
    repeats: int,
    n_planes: int | None,
    n_tables: int | None = None,
    threshold: float | None = None,
) -> dict:
    """Time the parameterized embedding-LSH dedup pipeline
    (llm.dedup.embedding_lsh_pairs — the registered query's code path)
    on the tier's embeddings table. ``n_planes=None`` sizes the planes
    via auto_planes at VEC_OCCUPANCY; an explicit value (the fixed-4
    contrast) reproduces the retired default's quadratic.

    One fidelity caveat, on purpose: the auto_planes corpus-count
    probe runs ONCE here, outside the timed region (the record needs
    ``planes``), so ladder walls omit the registered path's per-call
    metadata count — a <0.5 s job even at 800 k vectors, ≤0.4% of that
    rung's wall."""
    from pyspark.sql import functions as F

    from stream_processing_test_spark.llm.dedup import embedding_lsh_pairs
    from stream_processing_test_spark.llm.similarity import auto_planes
    from stream_processing_test_spark.session import release_local_checkpoint
    from stream_processing_test_spark.tables import load

    # float payload through the verify joins (folds widen to double at
    # the expression — same bits, half the shuffle bytes)
    emb = load(spark, tdir, "embeddings").select(
        "vec_id", F.col("embedding").alias("v")
    )
    n = emb.count()
    planes = (
        auto_planes(n, target_occupancy=VEC_OCCUPANCY)
        if n_planes is None
        else n_planes
    )
    if n_tables is None:
        n_tables = VEC_TABLES
    out: dict = {"n_vecs": n, "planes": planes, "tables": n_tables}
    if n_planes is None:
        out["target_occupancy"] = VEC_OCCUPANCY
    kw = {} if threshold is None else {"threshold": threshold}
    if threshold is not None:
        out["threshold"] = threshold
    samples: list[float] = []
    for i in range(repeats):
        spark.catalog.clearCache()
        release_pinned_rdds(spark)
        t0 = time.time()
        # embedding_lsh_pairs materializes eagerly (finish_with ->
        # localCheckpoint), so the wall below covers the whole pipeline
        res = embedding_lsh_pairs(
            emb, n_tables=n_tables, n_planes=planes, **kw
        )
        samples.append(round(time.time() - t0, 2))
        if i == 0:
            out["pairs"] = res.count()
            planted = spark.read.parquet(
                os.path.join(tdir, "planted_pairs.parquet")
            )
            n_planted = planted.count()
            hits = res.join(planted, ["doc_a", "doc_b"]).count()
            out["planted_recall"] = round(hits / max(n_planted, 1), 3)
        release_local_checkpoint(res)
    out["wall_sec"] = min(samples)
    out["samples"] = samples
    return out


def vector_knn_run(spark, tdir: str, repeats: int) -> dict:
    """Time the registered ``embedding_knn_graph`` path (r15):
    ``embedding_lsh_pairs`` in ``per_node_top_k`` mode on the tier's
    embeddings table — same auto-sized candidate/verify stages as the
    ``auto`` LSH rung, plus the symmetrize-explode and the
    WindowGroupLimit-pruned per-node rank. Records graph rows (≤ n·k by
    construction) and planted-edge recall: a planted near-copy sits at
    cos ~0.89, far above the fixture's typical neighbor, so the pair
    should surface as a graph edge whenever its buckets collide — the
    rung's recall ≈ the LSH collision recall of the ``auto`` rung.

    Sizing follows the LADDER convention (``vector_lsh_run``): planes
    from ``auto_planes`` at VEC_OCCUPANCY=16, VEC_TABLES tables — the
    synthetic corpus is bucket-uniform, so the registered default
    occupancy (1024) would pay ~8000x the verify volume for no recall
    the 16-point doesn't already deliver (the vector-carrying verify
    shuffle at that volume exceeds local disk — measured, not
    hypothetical)."""
    from pyspark.sql import functions as F

    from stream_processing_test_spark.llm.dedup import embedding_lsh_pairs
    from stream_processing_test_spark.llm.embeddings import KNN_GRAPH_K
    from stream_processing_test_spark.llm.similarity import auto_planes
    from stream_processing_test_spark.session import release_local_checkpoint
    from stream_processing_test_spark.tables import load

    emb = load(spark, tdir, "embeddings").select(
        "vec_id", F.col("embedding").alias("v")
    )
    n = emb.count()
    planes = auto_planes(n, target_occupancy=VEC_OCCUPANCY)
    out: dict = {
        "n_vecs": n,
        "k": KNN_GRAPH_K,
        "planes": planes,
        "tables": VEC_TABLES,
        "target_occupancy": VEC_OCCUPANCY,
    }
    samples: list[float] = []
    for i in range(repeats):
        spark.catalog.clearCache()
        release_pinned_rdds(spark)
        t0 = time.time()
        res = embedding_lsh_pairs(
            emb,
            n_tables=VEC_TABLES,
            n_planes=planes,
            per_node_top_k=KNN_GRAPH_K,
        )
        samples.append(round(time.time() - t0, 2))
        if i == 0:
            out["graph_rows"] = res.count()
            planted = spark.read.parquet(
                os.path.join(tdir, "planted_pairs.parquet")
            )
            n_planted = planted.count()
            # an edge in EITHER direction counts (planted pairs are
            # stored doc_a < doc_b; the graph is directed)
            edges = res.select(
                F.least("vec_id", "neighbor_id").alias("doc_a"),
                F.greatest("vec_id", "neighbor_id").alias("doc_b"),
            ).dropDuplicates(["doc_a", "doc_b"])
            hits = edges.join(planted, ["doc_a", "doc_b"]).count()
            out["planted_edge_recall"] = round(hits / max(n_planted, 1), 3)
        release_local_checkpoint(res)
    out["wall_sec"] = min(samples)
    out["samples"] = samples
    return out


def vector_semclusters_run(spark, tdir: str, repeats: int) -> dict:
    """End-to-end `semantic_dup_clusters` composition at the ladder
    operating point (same sizing note as ``vector_knn_run``): knn
    graph -> mutual semi-join + threshold -> connected components +
    sizes — the registered op's exact tail on the ladder-sized graph.
    Records mutual-edge volume and cluster counts alongside the
    wall."""
    from pyspark.sql import functions as F

    from stream_processing_test_spark.llm.cluster import (
        connected_components,
    )
    from stream_processing_test_spark.llm.dedup import (
        EMBED_COSINE_THRESHOLD,
        embedding_lsh_pairs,
    )
    from stream_processing_test_spark.llm.embeddings import KNN_GRAPH_K
    from stream_processing_test_spark.llm.similarity import auto_planes
    from stream_processing_test_spark.session import release_local_checkpoint
    from stream_processing_test_spark.tables import load

    emb = load(spark, tdir, "embeddings").select(
        "vec_id", F.col("embedding").alias("v")
    )
    n = emb.count()
    planes = auto_planes(n, target_occupancy=VEC_OCCUPANCY)
    out: dict = {
        "n_vecs": n,
        "k": KNN_GRAPH_K,
        "planes": planes,
        "tables": VEC_TABLES,
    }
    samples: list[float] = []
    for i in range(repeats):
        spark.catalog.clearCache()
        release_pinned_rdds(spark)
        t0 = time.time()
        g = embedding_lsh_pairs(
            emb,
            n_tables=VEC_TABLES,
            n_planes=planes,
            per_node_top_k=KNN_GRAPH_K,
        )
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
        comp = connected_components(
            mutual, src="doc_a", dst="doc_b"
        ).select(F.col("node").alias("vec_id"), "component")
        sizes = comp.groupBy("component").agg(
            F.count("*").alias("cluster_size")
        )
        res = comp.join(sizes, "component").localCheckpoint(eager=True)
        samples.append(round(time.time() - t0, 2))
        if i == 0:
            out["clustered_nodes"] = res.count()
            out["clusters"] = res.select("component").distinct().count()
            out["mutual_edges"] = mutual.count()
        release_local_checkpoint(res)
        release_local_checkpoint(g)
    out["wall_sec"] = min(samples)
    out["samples"] = samples
    return out


def lsh_recall_probe(
    spark,
    tdir: str,
    points: list[tuple[int | None, int | None]],
    threshold: float | None = None,
) -> list[dict]:
    """Planted-pair recall of (planes, tables) operating points WITHOUT
    paying the corpus self-join (VERDICT r8 item 1).

    WHY THIS IS EXACT: the registered pipeline
    (llm.dedup.embedding_lsh_pairs) emits a pair iff (a) its two
    vectors share a bucket in >= 1 table and (b) exact cosine >=
    threshold. Bucketing is PER-VECTOR independent
    (similarity.hyperplane_tables — deterministic md5 hyperplanes), so
    both conditions are checkable per planted pair by hashing only the
    vectors that appear in planted pairs — the full run's output
    restricted to the planted set is identical by construction. That
    makes the REGISTERED occupancy-1024 parameterization measurable at
    rungs where its full self-join (candidates ~ n·occupancy·tables)
    exceeds this host, and the >= planes-16 operating points the rule
    reaches at 33 M-840 M rows measurable on ladder corpora at all —
    recall depends on (planes, tables, pair similarity), not corpus
    size, and the probe validates THAT claim too (the harness runs one
    (planes, tables) point on two corpus sizes, and one point that the
    full pipeline also ran, as cross-checks).

    ``points``: (n_planes, n_tables) pairs; ``None`` planes = the
    registered occupancy-1024 auto_planes; ``None`` tables = the
    registered auto_tables policy. Per point records recall vs ALL
    planted pairs (comparable to vector_lsh_run's planted_recall) and
    vs the exact-cosine-eligible subset (isolating the LSH stage)."""
    from pyspark.sql import functions as F

    from stream_processing_test_spark.llm.dedup import EMBED_COSINE_THRESHOLD
    from stream_processing_test_spark.llm.similarity import (
        auto_planes,
        auto_tables,
        cosine,
        hyperplane_tables,
    )
    from stream_processing_test_spark.tables import load

    thr = EMBED_COSINE_THRESHOLD if threshold is None else threshold
    emb = load(spark, tdir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    n = emb.count()
    planted = spark.read.parquet(os.path.join(tdir, "planted_pairs.parquet"))
    n_planted = planted.count()
    # vectors appearing in any planted pair — the only ones the probe hashes
    pair_ids = (
        planted.select(F.col("doc_a").alias("vec_id"))
        .union(planted.select(F.col("doc_b").alias("vec_id")))
        .distinct()
    )
    sub = emb.join(pair_ids, "vec_id", "semi").persist()
    # exact-verify eligibility per planted pair (condition (b))
    va = sub.select(F.col("vec_id").alias("doc_a"), F.col("v").alias("va"))
    vb = sub.select(F.col("vec_id").alias("doc_b"), F.col("v").alias("vb"))
    elig = (
        planted.join(va, "doc_a")
        .join(vb, "doc_b")
        .filter(cosine(F.col("va"), F.col("vb")) >= thr)
        .select("doc_a", "doc_b")
        .persist()
    )
    n_elig = elig.count()
    out = []
    for n_planes, n_tables in points:
        planes = (
            auto_planes(n) if n_planes is None else n_planes
        )
        tables = auto_tables(planes) if n_tables is None else n_tables
        bk = hyperplane_tables(sub, n_tables=tables, n_planes=planes)
        a = bk.select(F.col("vec_id").alias("doc_a"), "table_id", "bucket")
        b = bk.select(
            F.col("vec_id").alias("db"),
            F.col("table_id").alias("tb"),
            F.col("bucket").alias("bb"),
        )
        collided = (
            planted.join(a, "doc_a")
            .join(
                b,
                (F.col("doc_b") == F.col("db"))
                & (F.col("table_id") == F.col("tb"))
                & (F.col("bucket") == F.col("bb")),
            )
            .select("doc_a", "doc_b")
            .distinct()
        )
        hits = collided.join(elig, ["doc_a", "doc_b"], "semi").count()
        rec = {
            "planes": planes,
            "tables": tables,
            "mode": (
                ("auto_planes" if n_planes is None else f"planes={n_planes}")
                + "/"
                + ("auto_tables" if n_tables is None else f"tables={n_tables}")
            ),
            "threshold": thr,
            "n_planted": n_planted,
            "n_eligible": n_elig,
            "recall_planted": round(hits / max(n_planted, 1), 3),
            "recall_eligible": round(hits / max(n_elig, 1), 3),
        }
        out.append(rec)
        print(f"  recall probe: {rec}", flush=True)
    sub.unpersist()
    elig.unpersist()
    return out


def lsh_scurve_probe(
    spark, tdir: str, planes_list: tuple[int, ...] = (4, 10, 16, 20)
) -> list[dict]:
    """Measured LSH s-curve: recall BY COSINE BIN at the operating
    points the registered auto rule selects, against the EXACT
    ground-truth pair set (the quadratic is feasible at this tier's
    10 k vectors). The hold-recall policy (auto_tables) is declared
    for the near-dup design point (cos 0.9); pairs less similar get
    less recall by the LSH collision curve — this probe turns that
    documented statement into numbers, so the θ=0.35 contract's
    behavior at corpus scale is measured, not implied: high-cos bins
    hold near the floor, moderate-sim bins decay toward zero as
    planes rise (the regime where the exact twin / IVF is the tool)."""
    from pyspark.sql import functions as F

    from stream_processing_test_spark.llm.dedup import EMBED_COSINE_THRESHOLD
    from stream_processing_test_spark.llm.similarity import (
        auto_tables,
        cosine,
        hyperplane_tables,
    )
    from stream_processing_test_spark.session import parallelize_narrow_scan
    from stream_processing_test_spark.tables import load

    emb = load(spark, tdir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    # the exact all-pairs join streams one side: a single-file 10k
    # corpus scans as ONE task, serializing 50M 64-dim folds —
    # repartition the streamed side so the quadratic runs wide
    emb = parallelize_narrow_scan(emb)
    a = emb.select(F.col("vec_id").alias("doc_a"), F.col("v").alias("va"))
    b = emb.select(F.col("vec_id").alias("doc_b"), F.col("v").alias("vb"))
    bin_col = (
        F.when(F.col("cos") >= 0.9, "0.90+")
        .when(F.col("cos") >= 0.7, "0.70-0.90")
        .when(F.col("cos") >= 0.5, "0.50-0.70")
        .otherwise("0.35-0.50")
    )
    exact = (
        a.join(b, F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a", "doc_b", cosine(F.col("va"), F.col("vb")).alias("cos")
        )
        .filter(F.col("cos") >= EMBED_COSINE_THRESHOLD)
        .select("doc_a", "doc_b", bin_col.alias("bin"))
        .persist()
    )
    totals = {
        r["bin"]: r["n"]
        for r in exact.groupBy("bin").agg(F.count("*").alias("n")).collect()
    }
    out = []
    for planes in planes_list:
        tables = auto_tables(planes)
        bk = hyperplane_tables(emb, n_tables=tables, n_planes=planes)
        ba = bk.select(F.col("vec_id").alias("doc_a"), "table_id", "bucket")
        bb = bk.select(
            F.col("vec_id").alias("db"),
            F.col("table_id").alias("tb"),
            F.col("bucket").alias("bb"),
        )
        hit = (
            exact.join(ba, "doc_a")
            .join(
                bb,
                (F.col("doc_b") == F.col("db"))
                & (F.col("table_id") == F.col("tb"))
                & (F.col("bucket") == F.col("bb")),
            )
            .select("doc_a", "doc_b", "bin")
            .distinct()
        )
        hits = {
            r["bin"]: r["n"]
            for r in hit.groupBy("bin").agg(F.count("*").alias("n")).collect()
        }
        rec = {
            "planes": planes,
            "tables": tables,
            "recall_by_cos_bin": {
                k: round(hits.get(k, 0) / v, 3)
                for k, v in sorted(totals.items())
            },
            "pairs_by_cos_bin": dict(sorted(totals.items())),
        }
        out.append(rec)
        print(f"  scurve: {rec}", flush=True)
    exact.unpersist()
    return out


def vector_ivf_run(
    spark, tdir: str, repeats: int, train_target: int | None = None
) -> dict:
    """Time the IVF ANN core (llm.similarity.ivf_topk — the registered
    ``ann_ivf_topk`` code path: sampled driver-local k-means training +
    one full-corpus assignment + probed search for a 5-query set) on
    the tier's embeddings table, and record recall@k against the exact
    broadcast brute-force top-k computed in-harness.

    Recall context: on near-random base vectors no routing structure
    exists, so IVF recall sits near the fraction-searched floor
    nprobe/n_lists BY CONSTRUCTION (documented since r8; real routing
    gain on clustered corpora is pytest-pinned) — the number that
    matters here is sampled-vs-full-training recall on the SAME
    corpus, which bounds what the 4096-row training cap costs.
    ``train_target`` overrides the sample cap (a huge value trains on
    the FULL corpus — same driver-local numpy engine, no cap; it
    driver-collects the whole corpus, so this contrast arm is viable
    at ladder scale only)."""
    from pyspark.sql import functions as F

    from stream_processing_test_spark.llm.similarity import (
        IVF_LISTS,
        N_PROBE,
        N_QUERIES,
        ivf_topk,
    )
    from stream_processing_test_spark.session import release_local_checkpoint
    from stream_processing_test_spark.tables import load

    emb = load(spark, tdir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    out: dict = {
        "n_lists": IVF_LISTS,
        "n_probe": N_PROBE,
        "n_queries": N_QUERIES,
    }
    kw = {} if train_target is None else {"train_target": train_target}
    if train_target is not None:
        out["train_target"] = train_target
    samples: list[float] = []
    for i in range(repeats):
        spark.catalog.clearCache()
        release_pinned_rdds(spark)
        t0 = time.time()
        res = ivf_topk(emb, q, **kw)
        # r14 timed-region fix: the lazy result must be DRIVEN inside
        # the sample — previously only plan construction + the eager
        # trainer collects were timed and the probed search ran
        # untimed in the i==0 recall block, so recorded ivf walls
        # under-reported (BENCH_NOTES §r14-ladder); pre-fix rows are
        # not comparable
        res.write.format("noop").mode("overwrite").save()
        samples.append(round(time.time() - t0, 2))
        if i == 0:
            out["rows"] = res.count()
            # exact top-k ground truth — the REGISTERED brute-force
            # query, not an inline re-implementation, so every recall
            # number in BENCH_SCALE (IVF here, PQ in the `pq` extra)
            # is measured against the same rounding/tie-break rules
            from stream_processing_test_spark.registry import all_queries

            # both result sets are <= n_queries * TOP_K rows: collect
            # once and intersect driver-side (a count + semi-join would
            # execute the untimed brute-force lineage twice)
            exact_pairs = {
                (r["query_id"], r["neighbor_id"])
                for r in all_queries()["ann_cosine_topk"]
                .fn(spark, tdir)
                .collect()
            }
            got_pairs = {
                (r["query_id"], r["neighbor_id"]) for r in res.collect()
            }
            # denominator = the EXACT set (recall). Dividing by the IVF
            # result count measured precision and overstated recall
            # whenever a probed-list union held < TOP_K members.
            out["recall_at_k"] = round(
                len(exact_pairs & got_pairs) / max(len(exact_pairs), 1), 3
            )
            out["fraction_searched_floor"] = round(N_PROBE / IVF_LISTS, 3)
        release_local_checkpoint(res)
    out["wall_sec"] = min(samples)
    out["samples"] = samples
    return out


def vector_appendadc_run(
    spark, tdir: str, repeats: int, with_recall: bool
) -> dict:
    """Price the ADC-backed append (VERDICT r13 item 4): the same
    base/batch split as the registered ``ann_index_append``, searched
    through the IVF-PQ composition (frozen base-trained coarse
    quantizer + codebooks, fused assign+encode of the base, probed
    integer ADC, auto_rerank exact verify) instead of probed-list
    exact scoring. This is the arm the r13 rung named as 'the right
    tool' for corpus-fraction batches — the rung measures whether and
    where it actually wins, so the dispatch crossover is a recorded
    number, not a guess. ``with_recall`` additionally runs the exact
    append once (untimed) and records recall@k of the ADC result
    against it — affordable at the tiers where the exact arm
    completes."""
    from pyspark.sql import functions as F

    from stream_processing_test_spark.llm.pq import (
        PQ_RERANK,
        auto_rerank,
        ivfpq_topk,
    )
    from stream_processing_test_spark.llm.similarity import INGEST_MOD
    from stream_processing_test_spark.registry import all_queries
    from stream_processing_test_spark.session import release_local_checkpoint
    from stream_processing_test_spark.tables import load

    emb = load(spark, tdir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    is_new = F.col("vec_id") % INGEST_MOD == 0
    base = emb.filter(~is_new)
    q = emb.filter(is_new).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    n_base = base.count()
    n_batch = emb.count() - n_base
    # the hold-recall shortlist is priced per QUERY: at ingest-window
    # batch sizes |batch| x auto_rerank(base) explodes (200k x 15625 =
    # 3.1G shortlist rows at vec_x40), so past that product the arm
    # measures the PQ_RERANK floor instead and records the choice
    rerank = auto_rerank(n_base)
    if n_batch * rerank > 100_000_000:
        rerank = PQ_RERANK
    out: dict = {
        "ingest_mod": INGEST_MOD,
        "n_base": n_base,
        "n_batch": n_batch,
        "rerank": rerank,
    }
    samples: list[float] = []
    for i in range(repeats):
        spark.catalog.clearCache()
        release_pinned_rdds(spark)
        t0 = time.time()
        res = ivfpq_topk(base, q, rerank=rerank, large_batch=True)
        res.write.format("noop").mode("overwrite").save()
        samples.append(round(time.time() - t0, 2))
        if i == 0:
            got = {
                (r["query_id"], r["neighbor_id"]) for r in res.collect()
            }
            out["rows"] = len(got)
            if with_recall:
                exact_pairs = {
                    (r["query_id"], r["neighbor_id"])
                    for r in all_queries()["ann_index_append"]
                    .fn(spark, tdir)
                    .collect()
                }
                out["recall_vs_exact_append"] = round(
                    len(exact_pairs & got) / max(len(exact_pairs), 1), 3
                )
        release_local_checkpoint(res)
    out["wall_sec"] = min(samples)
    out["samples"] = samples
    return out


def vector_append_windowed_run(
    spark, tdir: str, window_rows: int = 10_000, n_windows: int = 2
) -> dict:
    """The STANDING-INDEX windowed append (the deployment shape
    ann_index_append's docstring prescribes for ingest bigger than a
    window): build the IVFADC index on the base ONCE (train + fused
    assign/encode, localCheckpointed — the materialized inverted
    lists), then stream query windows of ``window_rows`` through
    ``pq.ivfpq_search`` and record the per-window wall. This is the
    arm that COMPLETES at vec_x40, where both monolithic 10%-batch
    arms are recorded skips: exact = 2.8G probed scores (r13), ADC =
    the same 2.8G probed rows through the shortlist sort, measured
    spilling past this host's disk (r14). Per-window probed volume is
    |window| × n_probe × base/lists — flat per window, which is the
    contract's actual cost model (cost linear in the INGESTED rows).
    Only ``n_windows`` of the batch's windows are timed (recorded);
    per-window cost is the claim, not batch total."""
    from pyspark.sql import functions as F

    from stream_processing_test_spark.llm.pq import (
        ivfpq_search,
        pq_assign_encode_arrow,
        pq_codebooks,
    )
    from stream_processing_test_spark.llm.similarity import (
        INGEST_MOD,
        append_rerank,
        auto_lists,
        train_ivf_cents,
    )
    from stream_processing_test_spark.tables import load

    emb = load(spark, tdir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    is_new = F.col("vec_id") % INGEST_MOD == 0
    base = emb.filter(~is_new)
    n_base = base.count()
    n_batch = emb.count() - n_base
    n_chunks = max(1, (n_batch + window_rows - 1) // window_rows)

    t0 = time.time()
    rows = pq_codebooks(base, n_rows=n_base)
    cents, centroids = train_ivf_cents(
        base, k=auto_lists(n_base), n_rows=n_base
    )
    enc = pq_assign_encode_arrow(base, cents, rows).localCheckpoint()
    build_sec = round(time.time() - t0, 2)

    rerank = append_rerank(n_base, window_rows)
    # JIT warm-up (VERDICT r14 item 5): the r14 rung charged the whole
    # ivfpq_search family's codegen/JIT to the FIRST production window
    # (176.5 s vs 37.4 s steady at vec_x40). One untimed k-row slice
    # through the same search path during the build phase pays it
    # where a deployment would — at index-build time, once.
    t0 = time.time()
    warm = emb.filter(is_new & (F.col("vec_id") % 997 == 0)).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    ivfpq_search(
        enc, centroids, rows, base, warm, rerank=rerank, large_batch=True
    ).write.format("noop").mode("overwrite").save()
    warmup_sec = round(time.time() - t0, 2)
    walls, out_rows = [], 0
    for i in range(min(n_windows, n_chunks)):
        win = emb.filter(
            is_new
            & (((F.col("vec_id") / INGEST_MOD).cast("long") % n_chunks) == i)
        ).select(F.col("vec_id").alias("query_id"), F.col("v").alias("qv"))
        t0 = time.time()
        res = ivfpq_search(
            enc, centroids, rows, base, win,
            rerank=rerank, large_batch=True,
        )
        res.write.format("noop").mode("overwrite").save()
        walls.append(round(time.time() - t0, 2))
        if i == 0:
            out_rows = res.count()
    release_pinned_rdds(spark)
    return {
        "ingest_mod": INGEST_MOD,
        "n_base": n_base,
        "n_batch": n_batch,
        "window_rows": window_rows,
        "n_windows_total": n_chunks,
        "n_windows_timed": len(walls),
        "rerank": rerank,
        "index_build_sec": build_sec,
        "warmup_sec": warmup_sec,
        "per_window_sec": walls,
        "first_window_rows": out_rows,
    }


def vector_ivfprobe_run(spark, tdir: str, repeats: int) -> dict:
    """Price the r14 ``auto_probe`` hold-recall dial (VERDICT r13
    item 3): at the AUTO-SIZED list count (``auto_lists``), run the
    probed search once with the fixed N_PROBE default (the documented
    recall floor: fraction searched = N_PROBE/L, decaying with n) and
    once with ``auto_probe(L)`` (fraction pinned at 1/PROBE_DIV),
    recording recall@k against the registered exact brute-force query
    and the wall for each — the recall-vs-wall trade the policy buys,
    measured on the same corpus with the same trained quantizer
    rules. The ``auto`` arm IS the registered ``ann_ivf_auto_probe``
    operating point."""
    from pyspark.sql import functions as F

    from stream_processing_test_spark.llm.similarity import (
        N_PROBE,
        N_QUERIES,
        auto_lists,
        auto_probe,
        ivf_topk,
    )
    from stream_processing_test_spark.registry import all_queries
    from stream_processing_test_spark.session import release_local_checkpoint
    from stream_processing_test_spark.tables import load

    emb = load(spark, tdir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    n = emb.count()
    lists = auto_lists(n)
    exact_pairs = {
        (r["query_id"], r["neighbor_id"])
        for r in all_queries()["ann_cosine_topk"].fn(spark, tdir).collect()
    }
    out: dict = {"n_lists": lists, "n_queries": N_QUERIES}
    for arm, n_probe in (("fixed", N_PROBE), ("auto", auto_probe(lists))):
        samples: list[float] = []
        rec = None
        for i in range(repeats):
            spark.catalog.clearCache()
            release_pinned_rdds(spark)
            t0 = time.time()
            res = ivf_topk(emb, q, n_lists=lists, n_probe=n_probe)
            res.write.format("noop").mode("overwrite").save()
            samples.append(round(time.time() - t0, 2))
            if i == 0:
                got = {
                    (r["query_id"], r["neighbor_id"]) for r in res.collect()
                }
                rec = round(len(exact_pairs & got) / max(len(exact_pairs), 1), 3)
            release_local_checkpoint(res)
        out[arm] = {
            "n_probe": n_probe,
            "fraction_searched": round(n_probe / lists, 4),
            "recall_at_k": rec,
            "wall_sec": min(samples),
            "samples": samples,
        }
    return out


# ---------------------------------------------------------------------------
# Streaming rung (VERDICT r8 item 3): sustained events/s + state-store
# size for the two headline streaming queries at 10x/100x the sf0.1
# fixture event volume. The reference's engineered ceiling is 2.5
# probe-events/s (BASELINE.md) — this is the measured margin over it.
# ---------------------------------------------------------------------------

STREAM_EVENTS_PER_USER = 67  # fixture ratio: sf0.1 = 100k events / 1.5k users
STREAM_DAYS = 30  # fixture span; state rows for the rollup = users x days
STREAM_CHUNK = 250_000  # one parquet file per chunk -> honest multi-file
#                         stream; maxFilesPerTrigger then yields ~4
#                         sustained micro-batches per run


def gen_events(out_dir: str, n_events: int, seed: int = SEED) -> dict:
    """Write ``{out_dir}/events.parquet`` (driver events schema:
    event_id, ts[us], user_id, event_type, value, props) as a DIRECTORY
    of one file per STREAM_CHUNK rows. event_id is globally sequential
    and ts increases with it (file order == event order, the shape a
    probe-connector append stream produces); user_id is uniform over
    n/STREAM_EVENTS_PER_USER users; event_type uniform over the
    fixture's five types (20% 'error' — what the streak operator
    walks)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    import shutil

    rng = np.random.default_rng(seed + 13)
    path = os.path.join(out_dir, "events.parquet")
    if os.path.isdir(path):
        shutil.rmtree(path)
    elif os.path.exists(path):
        os.remove(path)
    os.makedirs(path)
    n_users = max(1, n_events // STREAM_EVENTS_PER_USER)
    base_us = 1_704_067_200_000_000  # 2024-01-01 UTC in epoch micros
    span_us = STREAM_DAYS * 86_400_000_000
    types = np.array(["signup", "purchase", "view", "click", "error"])
    for start in range(0, n_events, STREAM_CHUNK):
        c = min(STREAM_CHUNK, n_events - start)
        eid = np.arange(start, start + c, dtype=np.int64)
        ts = base_us + (eid * (span_us // max(n_events, 1))).astype(np.int64)
        pq.write_table(
            pa.table(
                {
                    "event_id": eid,
                    "ts": pa.array(ts, type=pa.timestamp("us")),
                    "user_id": rng.integers(0, n_users, size=c, dtype=np.int64),
                    "event_type": types[rng.integers(0, 5, size=c)],
                    "value": rng.random(c),
                    "props": np.full(c, "{}", dtype=object),
                }
            ),
            os.path.join(path, f"part-{start // STREAM_CHUNK:05d}.parquet"),
        )
    n_files = len(os.listdir(path))
    return {
        "path": path,
        "n_events": n_events,
        "n_users": n_users,
        "days": STREAM_DAYS,
        "n_files": n_files,
        "bytes": sum(
            os.path.getsize(os.path.join(path, f)) for f in os.listdir(path)
        ),
    }


def vector_qbatch_run(
    spark,
    tdir: str,
    repeats: int,
    batches=(5, 64, 512),
    arms=("brute", "pq", "ivf", "ivfauto"),
) -> dict:
    """Query-count crossover for the ANN paths (VERDICT r11 item 5):
    at a fixed 5-query batch the brute-exact scan beat registered PQ
    at 2 M vectors (8.96 vs 26.06 s) — the index pays only when its
    build cost amortizes over queries. This arm prices that: for each
    batch size B it times brute-exact (corpus × B candidate pairs),
    ``pq_topk`` (train+encode once per call, ADC per query) and
    ``ivf_topk`` (train+assign once per call, probed fraction per
    query) on the SAME query set (vec_id < B). ``ivfauto`` (r15) is
    the AUTO-PROBE operating point — ``ivf_topk`` at
    ``n_probe=auto_probe(auto_lists(n))``, the fraction-pinned dial
    ``ann_ivf_auto_probe`` registers — priced so the auto dispatcher
    can route its IVF branch through the recall-holding point on
    measured walls (VERDICT r14 item 2). ``arms`` selects which paths
    a tier re-measures; cells not re-run are carried (labeled in
    BENCH_NOTES, never silently mixed). Brute is skipped above
    ``BRUTE_PAIR_CAP`` candidate pairs (the interpreted-HOF cosine
    fold makes 10^9-pair batches an hours-scale run, and the
    crossover is already visible below the cap); the skip is recorded
    as null + reason, never silent."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from stream_processing_test_spark.llm.pq import pq_topk
    from stream_processing_test_spark.llm.similarity import (
        TOP_K,
        auto_lists,
        cosine,
        ivf_topk,
        parallelize_narrow_scan,
    )
    from stream_processing_test_spark.tables import load

    BRUTE_PAIR_CAP = 1 << 28
    # PQ's scored stream is n x B GATHER rows since r14 (the wide-LUT
    # in-row gather replaced the explode + keyed sum — 16x fewer rows
    # than the r12 pre-agg arithmetic this cap was first sized for).
    # Still linear in B like brute, far cheaper per row; the binding
    # cost past the cap is the per-query shortlist SORT of the full
    # gather stream (measured spilling past local disk at 2.8e9 rows,
    # §r14-append-adc), so the cap is set under that regime.
    PQ_GATHER_CAP = 500_000_000

    # r14 harness fix: the single-file x1 tier fed the brute crossJoin
    # ONE scan partition, so its interpreted fold ran single-threaded
    # (measured: 50k x 64 took exactly the x4 tier's per-task wall) —
    # the registered ann_cosine_topk parallelizes narrow scans, so the
    # surface must too or brute cells overstate at small file counts.
    # All arms read the same widened frame; r12's cells carried the
    # same flaw consistently, so the re-derive is apples-to-apples
    # WITHIN the r14 surface only.
    emb = parallelize_narrow_scan(
        load(spark, tdir, "embeddings").select(
            "vec_id", F.col("embedding").cast("array<double>").alias("v")
        )
    )
    n = emb.select("vec_id").count()
    out: dict = {"n_vecs": n, "brute_pair_cap": BRUTE_PAIR_CAP, "points": {}}

    def brute_plan(q):
        sims = (
            emb.crossJoin(F.broadcast(q))
            .filter(F.col("vec_id") != F.col("query_id"))
            .select(
                "query_id",
                F.col("vec_id").alias("neighbor_id"),
                F.round(cosine(F.col("qv"), F.col("v")), 4).alias("cos_sim"),
            )
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("cos_sim").desc(), F.col("neighbor_id").asc()
        )
        return (
            sims.withColumn("rk", F.row_number().over(w).cast("long"))
            .filter(F.col("rk") <= TOP_K)
        )

    def timed(build) -> float:
        walls = []
        for _ in range(repeats):
            spark.catalog.clearCache()
            release_pinned_rdds(spark)
            t0 = time.time()
            build().write.format("noop").mode("overwrite").save()
            walls.append(round(time.time() - t0, 2))
        return min(walls)

    for B in batches:
        q = emb.filter(F.col("vec_id") < B).select(
            F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
        )
        pt: dict = {}
        if "brute" in arms:
            if n * B <= BRUTE_PAIR_CAP:
                pt["brute"] = timed(lambda: brute_plan(q))
            else:
                pt["brute"] = None
                pt["brute_skipped"] = (
                    f"{n * B:.2e} candidate pairs > cap (interpreted fold)"
                )
        if "pq" in arms:
            if n * B <= PQ_GATHER_CAP:
                pt["pq"] = timed(lambda: pq_topk(emb, q))
            else:
                pt["pq"] = None
                pt["pq_skipped"] = (
                    f"{n * B:.2e} ADC gather rows > cap (shortlist sort)"
                )
        if "ivf" in arms:
            pt["ivf"] = timed(
                lambda: ivf_topk(emb, q, n_lists=auto_lists(n))
            )
        if "ivfauto" in arms:
            from stream_processing_test_spark.llm.similarity import auto_probe

            L = auto_lists(n)
            pt["ivfauto"] = timed(
                lambda: ivf_topk(emb, q, n_lists=L, n_probe=auto_probe(L))
            )
        out["points"][str(B)] = pt
        print(f"[qbatch B={B}] {pt}", flush=True)
    return out


def vector_ivfpq_run(spark, tdir: str, repeats: int) -> dict:
    """Time the registered IVF-PQ composition (``ann_ivfpq_topk``
    verbatim) on the tier corpus and record: the auto_lists /
    auto_rerank operating point, recall@10 against the registered
    exact brute-force baseline, and the MEASURED scored-code volume —
    PQ_SUBS × (probed-list assignment rows across the query set), the
    quantity auto_lists bounds to ~sqrt(n) growth (the composition's
    sublinearity claim). The volume probe re-derives the deterministic
    coarse assignment (same trained centroids — hash-seeded sampled
    Lloyd) and counts rows; it runs once, untimed."""
    from pyspark.sql import functions as F

    from stream_processing_test_spark.llm.pq import PQ_SUBS, auto_rerank
    from stream_processing_test_spark.llm.similarity import (
        N_PROBE,
        N_QUERIES,
        auto_lists,
        kmeans_lists,
    )
    from stream_processing_test_spark.registry import all_queries
    from stream_processing_test_spark.tables import load

    emb = load(spark, tdir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    n = emb.select("vec_id").count()
    out: dict = {
        "n_lists": auto_lists(n),
        "n_probe": N_PROBE,
        "rerank": auto_rerank(n),
        "n_queries": N_QUERIES,
    }
    out.update(time_query(spark, "ann_ivfpq_topk", tdir, repeats))
    exact_pairs = {
        (r["query_id"], r["neighbor_id"])
        for r in all_queries()["ann_cosine_topk"].fn(spark, tdir).collect()
    }
    got_pairs = {
        (r["query_id"], r["neighbor_id"])
        for r in all_queries()["ann_ivfpq_topk"].fn(spark, tdir).collect()
    }
    out["recall_at_10"] = round(
        len(exact_pairs & got_pairs) / max(len(exact_pairs), 1), 3
    )
    out["fraction_searched_floor"] = round(N_PROBE / out["n_lists"], 4)
    # measured scored-code volume: probed lists' member counts × subs
    assign, centroids = kmeans_lists(emb, k=out["n_lists"], n_rows=n)
    sizes = {
        r["list_id"]: r["cnt"]
        for r in assign.groupBy("list_id").agg(F.count("*").alias("cnt")).collect()
    }
    from stream_processing_test_spark.llm.similarity import route_queries

    qv = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    # the operator's own routing — the recorded probed volume measures
    # exactly what ivfpq_topk executes, tie-breaks and all
    probed = route_queries(qv, centroids, N_PROBE).collect()
    out["scored_code_rows"] = PQ_SUBS * sum(
        sizes.get(r["list_id"], 0) for r in probed
    )
    out["full_adc_code_rows"] = PQ_SUBS * n * N_QUERIES
    # the volume probe's own checkpointed assignment (plus the two
    # recall runs') would otherwise stay pinned into the next arm
    release_pinned_rdds(spark)
    return out


def streaming_run(spark, tdir: str, which: str, repeats: int) -> dict:
    """Run one headline streaming pipeline (``scores`` =
    events_stream -> daily_rollup, complete mode — the
    streaming_daily_scores path; ``scores_update`` = the same rollup
    with a 1-day watermark in update mode — the bounded-state
    deployment shape, where windows older than the watermark EXPIRE
    from the store instead of accumulating users x days rows;
    ``streaks`` = events_stream -> failure_streaks, append mode — the
    streaming_failure_streaks path) over the tier's event directory
    with availableNow micro-batches (maxFilesPerTrigger sized for ~4
    sustained batches), into a noop sink (full computation, no
    driver-side result retention).

    Records min-of-``repeats`` wall, the derived sustained events/s,
    and the final-progress state-store numbers (rows + bytes) — the
    state-growth story the batch ladders can't see. Same
    STATE_PARTITIONS setting as the registered queries (scoped to a
    cloned session)."""
    from pyspark.sql import functions as F

    from stream_processing_test_spark.streaming.joins import (
        click_purchase_pairs,
    )
    from stream_processing_test_spark.streaming.pipeline import (
        STATE_PARTITIONS,
        daily_rollup,
        events_stream,
        sliding_rollup,
    )
    from stream_processing_test_spark.streaming.stateful import (
        failure_streaks,
    )

    path = os.path.join(tdir, "events.parquet")
    n_files = len(
        [f for f in os.listdir(path) if not f.startswith("_")]
    )
    n_events = None
    out: dict = {"which": which, "n_files": n_files}
    samples: list[float] = []
    for i in range(repeats):
        scoped = spark.newSession()
        scoped.conf.set("spark.sql.shuffle.partitions", str(STATE_PARTITIONS))

        def stream(scoped=scoped):
            return events_stream(
                scoped, path, max_files_per_trigger=max(1, n_files // 4)
            )

        ev = stream()
        if n_events is None:
            n_events = scoped.read.parquet(path).count()
            out["n_events"] = n_events
        if which == "scores":
            result, mode = daily_rollup(ev), "complete"
        elif which == "enriched":
            # stream-static enrichment (streaming_enriched_rollup's
            # shape): the dim is synthesized over the generator's
            # user-id space (uniform over n_events/STREAM_EVENTS_PER_
            # USER users — _stream_params) with 5 deterministic
            # segments; the wall DELTA vs the "scores" arm prices the
            # per-micro-batch broadcast join on top of the same
            # windowed rollup
            from stream_processing_test_spark.streaming.pipeline import (
                enriched_rollup,
            )

            n_users = max(1, (n_events or scoped.read.parquet(path).count())
                          // STREAM_EVENTS_PER_USER)
            dim = scoped.range(n_users).selectExpr(
                "id AS c_custkey",
                "concat('seg', pmod(hash(id), 5)) AS c_mktsegment",
            )
            result, mode = enriched_rollup(ev, dim, watermark="1 day"), "update"
        elif which in ("ss_join", "ss_join_outer"):
            # stream-stream interval join (streaming_click_purchase_
            # join's exact shape, VERDICT r12 item 6): both sides
            # unbounded file streams over the SAME tier directory,
            # 1 h purchase<-click interval, 2 h watermarks. The rung's
            # point is rows-in-state: the watermark + interval must
            # bound buffered state at (delay window x arrival rate),
            # not at the stream's lifetime — numRowsTotal below is the
            # evidence (vs n_events if eviction were broken).
            # ``ss_join_outer`` (VERDICT r13 item 6) is the left-outer
            # arm: null-padded rows emit ONLY when the watermark
            # proves no click can still match, so its sink counts are
            # direct eviction-timing evidence, and unmatched LEFT rows
            # held to the eviction horizon can exceed the inner arm's
            # state — the rung records both.
            join_type = "inner" if which == "ss_join" else "left_outer"
            result = click_purchase_pairs(stream, join_type)
            mode = "append"
            if which == "ss_join_outer":
                # foreachBatch so the null-padded (unmatched-purchase)
                # rows can be counted separately from the matches
                counts = {"rows": 0, "nulls": 0}

                def count_nulls(batch, _bid, counts=counts):
                    counts["rows"] += batch.count()
                    counts["nulls"] += batch.filter(
                        F.col("click_id").isNull()
                    ).count()

                t0 = time.time()
                q = (
                    result.writeStream.foreachBatch(count_nulls)
                    .trigger(availableNow=True)
                    .start()
                )
                q.awaitTermination()
                samples.append(round(time.time() - t0, 2))
                if i == 0:
                    progs = q.recentProgress
                    out["n_batches"] = len(progs)
                    last_state = (
                        (progs[-1].get("stateOperators") or [{}])[0]
                        if progs
                        else {}
                    )
                    out["state_rows_total"] = last_state.get("numRowsTotal")
                    out["state_memory_bytes"] = last_state.get(
                        "memoryUsedBytes"
                    )
                    out["outer_rows_emitted"] = counts["rows"]
                    out["null_padded_rows"] = counts["nulls"]
                continue
        elif which == "scores_update":
            result, mode = daily_rollup(ev, watermark="1 day"), "update"
        elif which == "sliding":
            # hopping 6h/2h windows, 1-day watermark, update mode: the
            # overlapping-window state shape — 3x the keyed state rows
            # of the tumbling rollup per (window, type) group, bounded
            # by the watermark exactly like scores_update
            result, mode = sliding_rollup(ev, watermark="1 day"), "update"
        else:
            result, mode = failure_streaks(ev), "append"
        t0 = time.time()
        q = (
            result.writeStream.format("noop")
            .outputMode(mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        samples.append(round(time.time() - t0, 2))
        if i == 0:
            progs = q.recentProgress
            out["n_batches"] = len(progs)
            last_state = (progs[-1].get("stateOperators") or [{}])[0] if progs else {}
            out["state_rows_total"] = last_state.get("numRowsTotal")
            out["state_memory_bytes"] = last_state.get("memoryUsedBytes")
            out["sink_rows_final_batch"] = (
                (progs[-1].get("sink") or {}).get("numOutputRows") if progs else None
            )
            # total across batches: for append-mode arms (ss_join,
            # streaks) the final batch alone under-reports the output
            out["sink_rows_total"] = sum(
                (p.get("sink") or {}).get("numOutputRows") or 0 for p in progs
            )
    out["wall_sec"] = min(samples)
    out["samples"] = samples
    out["events_per_sec"] = round(n_events / max(min(samples), 0.01))
    return out


LADDER = [
    "dedup_ngram_jaccard",
    "dup_clusters",
    "dedup_keep_canonical",
    "leakage_safe_split",
]

# The approximate-dedup rungs: also documents-table queries, so the
# same scratch corpora measure their claimed-linear candidate
# generation (banded minhash buckets, simhash pigeonhole blocks,
# hashed-gram decontamination index) beyond sf0.1
EXTRA_LADDER = [
    "dedup_minhash_lsh",
    "dedup_simhash",
    "decontaminate_overlap",
    "decontaminate_bloom",
    # bigram-LM scoring: also a documents-table query; the rungs
    # measure the full-token bigram explode + vocab-scale training
    # aggs + the corpus-scale (w1,w2) fan-back join
    "doc_lm_score",
    # sequence packing: the rungs measure the bounded (source, shard)
    # window cumsum + span explode + co-partitioned rollup — the
    # operator's claim is linear scaling because no partition ever
    # exceeds PACK_SHARD_DOCS rows
    "sequence_pack",
    # span-removal transform: gram hash agg (combiner-side canonical
    # min), duplicated-occurrence position explode, (doc_id, pos)
    # anti-join, per-doc ordered reassembly — claimed linear in
    # corpus positions (no window over the gram key)
    "doc_span_dedup",
    # incremental ingest dedup: one corpus-wide signature pass (same
    # machinery as dedup_minhash_lsh's rung above) + the asymmetric
    # new-probe-vs-base band join + the md5 exact tier — claimed
    # ~minhash-rung cost, never base x base candidates
    "dedup_incremental",
    # per-lang top-K bigrams: the ladder corpus is SINGLE-lang with a
    # 30k vocab, so nearly every bigram is distinct — the worst case
    # for per-group top-k (the aggregate is ~all corpus positions in
    # ONE lang partition). The rungs validate that the salted
    # two-phase window keeps the big sort partition-parallel: claimed
    # linear in positions, never a one-partition sort
    "vocab_top_ngrams",
    # iterative BPE trainer (r15): 6 rounds of (pair count + 1-row
    # argmax + narrow replace), sequences persisted one round deep —
    # claimed ~linear in corpus positions x rounds. The ladder corpus
    # is the trainer's worst case for the COUNT stage (30k vocab,
    # ~every pair distinct -> combiner rows ~ corpus positions)
    "bpe_vocab_merges",
]


def time_query(spark, name: str, sf_dir: str, repeats: int) -> dict:
    from stream_processing_test_spark.registry import all_queries

    fn = all_queries()[name].fn
    samples, rows = [], None
    for _ in range(repeats):
        spark.catalog.clearCache()
        release_pinned_rdds(spark)
        t0 = time.time()
        df = fn(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        samples.append(round(time.time() - t0, 2))
        if rows is None:
            rows = df.count()
    return {"wall_sec": min(samples), "samples": samples, "rows": rows}


def overbudget_staged(spark, sf_dir: str) -> dict:
    """`dedup_keep_canonical` statement by statement, so the gate's
    inputs and the executed join node are recorded alongside the wall
    time. This IS the registered query's computation (same calls in the
    same order) — staged only to expose the gate evidence."""
    from stream_processing_test_spark.llm.cluster import (
        _VERDICT_ROW_BYTES,
        _auto_broadcast_threshold_bytes,
        connected_components,
        with_keep_verdict,
    )
    from stream_processing_test_spark.llm.dedup import dedup_ngram_jaccard
    from stream_processing_test_spark.tables import load

    out: dict = {}
    t0 = time.time()
    pairs = dedup_ngram_jaccard(spark, sf_dir)
    out["pairs_rows"] = pairs.count()
    out["pairs_sec"] = round(time.time() - t0, 2)

    t0 = time.time()
    comp = connected_components(pairs, src="doc_a", dst="doc_b")
    n_nodes = comp.count()
    out["components_sec"] = round(time.time() - t0, 2)
    thr = _auto_broadcast_threshold_bytes(spark)
    out["gate"] = {
        "clustered_nodes": n_nodes,
        "est_bytes": n_nodes * _VERDICT_ROW_BYTES,
        "threshold_bytes": thr,
        "broadcast_hint_applied": bool(thr > 0 and n_nodes * _VERDICT_ROW_BYTES <= thr),
    }

    docs = load(spark, sf_dir, "documents").select("doc_id")
    t0 = time.time()
    verdict = with_keep_verdict(docs, comp).select("doc_id", "component", "keep")
    # collect() executes the frame's OWN QueryExecution (count()/noop
    # write would wrap it in a different one), so the finalized
    # adaptive plan read below is the plan that actually ran
    rows = verdict.collect()
    out["verdict_sec"] = round(time.time() - t0, 2)
    out["verdict_rows_total"] = len(rows)
    out["verdict_rows_kept"] = sum(1 for r in rows if r["keep"])
    del rows
    plan = verdict._jdf.queryExecution().executedPlan().toString()
    out["verdict_join_node"] = next(
        (
            n
            for n in (
                "BroadcastHashJoin",
                "SortMergeJoin",
                "ShuffledHashJoin",
                "BroadcastNestedLoopJoin",
            )
            if n in plan
        ),
        "unknown",
    )
    out["total_sec"] = round(
        out["pairs_sec"] + out["components_sec"] + out["verdict_sec"], 2
    )
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--tiers", default="x1,x10,overbudget")
    ap.add_argument(
        "--scratch",
        default=os.environ.get("SPARK_GRAFT_SCALE_DIR", "/tmp/spark_graft_scale"),
    )
    ap.add_argument(
        "--out", default=str(Path(__file__).resolve().parent.parent / "BENCH_SCALE.json")
    )
    ap.add_argument("--repeats", type=int, default=2)
    ap.add_argument(
        "--queries",
        default="",
        help="comma list: time only these ladder queries (text tiers); "
        "results merge per-query into an existing artifact",
    )
    ap.add_argument(
        "--vec-extras",
        default="",
        help="comma list from {thr08,ivf,ann,recall,policywall,pq,pqdial,ivfpq,ivfprobe,append,appendadc,contam,diverse,qbatch,knn,semclusters}: for the "
        "named vec tiers run ONLY these attribution extras (threshold-0.8 "
        "LSH variant, IVF rung, the REGISTERED ann_lsh_topk verbatim, the "
        "planted-pair recall probe at the registered + policy operating "
        "points, the full-pipeline wall price of auto_tables at planes=16, "
        "PQ ADC+rerank vs brute-force exact with recall@10, the PQ "
        "rerank-shortlist recall dial at 100/400/1600, the registered "
        "IVF-PQ composition with recall@10 + measured scored-code volume),"
        " merging new keys into the existing tier entries",
    )
    args = ap.parse_args()
    vec_extras = {e for e in args.vec_extras.split(",") if e}
    qfilter = {q for q in args.queries.split(",") if q}
    tier_names = args.tiers.split(",")

    def selected(queries: list[str]) -> list[str]:
        return [q for q in queries if not qfilter or q in qfilter]

    # the 53M-row shingle persist at the overbudget tier wants headroom
    # beyond the 8g test default; spill-safe either way
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "48g")
    from stream_processing_test_spark.session import get_spark

    spark = get_spark("scale-stress")
    spark.range(1000).count()
    # JIT warm-up: one untimed pass of the selected ladder queries on a
    # small corpus — the first execution of each operator family pays
    # codegen/JIT (measured ~4-10x on this host), which would land
    # entirely on the first tier's first query and corrupt every ratio
    if any(
        not t.startswith(("vec_", "stream_", "mm_")) for t in tier_names
    ):
        wdir = os.path.join(args.scratch, "warmup")
        _reuse_or_gen(
            wdir,
            _doc_params(2_000, 0.4),
            lambda: gen_corpus(wdir, 2_000, 0.4),
        )
        for q in selected(LADDER + EXTRA_LADDER):
            time_query(spark, q, wdir, 1)
        print("[warmup] ladder JIT pass done", flush=True)
    if any(t.startswith("vec_") for t in tier_names):
        wdir = os.path.join(args.scratch, "warmup_vec")
        _reuse_or_gen(
            wdir,
            _vec_params(2_000, 0.2),
            lambda: gen_vectors(wdir, 2_000, 0.2),
            expect_paths={
                "path": "embeddings.parquet",
                "pairs_path": "planted_pairs.parquet",
            },
        )
        if not vec_extras or "thr08" in vec_extras or "policywall" in vec_extras:
            vector_lsh_run(spark, wdir, 1, None)
        if "ivf" in vec_extras:
            vector_ivf_run(spark, wdir, 1)
        if "ann" in vec_extras:
            time_query(spark, "ann_lsh_topk", wdir, 1)
        if "recall" in vec_extras:
            lsh_recall_probe(spark, wdir, [(6, 4)])
        if "pq" in vec_extras or "pqdial" in vec_extras:
            time_query(spark, "ann_pq_topk", wdir, 1)
            time_query(spark, "ann_cosine_topk", wdir, 1)
        if "ivfpq" in vec_extras:
            time_query(spark, "ann_ivfpq_topk", wdir, 1)
            if "pq" not in vec_extras:
                time_query(spark, "ann_cosine_topk", wdir, 1)
        if "qbatch" in vec_extras:
            vector_qbatch_run(spark, wdir, 1, batches=(5,))
        if "ivfprobe" in vec_extras:
            time_query(spark, "ann_ivf_auto_probe", wdir, 1)
            time_query(spark, "ann_cosine_topk", wdir, 1)
        if "appendadc" in vec_extras:
            vector_appendadc_run(spark, wdir, 1, with_recall=False)
        if "knn" in vec_extras:
            vector_knn_run(spark, wdir, 1)
        if "semclusters" in vec_extras:
            vector_semclusters_run(spark, wdir, 1)
        print("[warmup] vector JIT pass done", flush=True)
    if any(t.startswith("stream_") for t in tier_names):
        wdir = os.path.join(args.scratch, "warmup_stream")
        _reuse_or_gen(
            wdir,
            _stream_params(20_000),
            lambda: gen_events(wdir, 20_000),
        )
        streaming_run(spark, wdir, "scores", 1)
        streaming_run(spark, wdir, "streaks", 1)
        print("[warmup] streaming JIT pass done", flush=True)
    if any(t.startswith("mm_") for t in tier_names):
        wdir = os.path.join(args.scratch, "warmup_mm")
        _reuse_or_gen(
            wdir,
            _mm_params(2_000),
            lambda: gen_media(wdir, 2_000),
            expect_paths={
                "path": "documents.parquet",
                "png_path": "media_png.parquet",
            },
        )
        multimodal_run(spark, wdir, 1)
        print("[warmup] multimodal JIT pass done", flush=True)

    from bench import _calibration_probe

    _calibration_probe(spark)  # JIT the probe
    cal_start = _calibration_probe(spark)
    result: dict = {
        "metric": "dedup_ladder_scale_stress",
        "host_parallelism": spark.sparkContext.defaultParallelism,
        "broadcast_threshold": spark.conf.get(
            "spark.sql.autoBroadcastJoinThreshold"
        ),
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "tiers": {},
    }
    for tier in tier_names:
        n_docs, dup_rate = TIERS[tier]
        tdir = os.path.join(args.scratch, tier)
        t0 = time.time()
        if tier.startswith("stream_"):
            stats = _reuse_or_gen(
                tdir,
                _stream_params(n_docs),
                lambda: gen_events(tdir, n_docs),
            )
            stats["gen_sec"] = round(time.time() - t0, 2)
            entry = {"corpus": stats}
            print(f"[{tier}] corpus: {stats}", flush=True)
            for which in (
                "scores",
                "scores_update",
                "sliding",
                "enriched",
                "ss_join",
                "ss_join_outer",
                "streaks",
            ):
                if qfilter and which not in qfilter:
                    continue
                entry[which] = streaming_run(spark, tdir, which, args.repeats)
                print(f"[{tier}] {which}: {entry[which]}", flush=True)
            result["tiers"][tier] = entry
            continue
        if tier.startswith("mm_"):
            stats = _reuse_or_gen(
                tdir,
                _mm_params(n_docs),
                lambda: gen_media(tdir, n_docs),
                expect_paths={
                    "path": "documents.parquet",
                    "png_path": "media_png.parquet",
                },
            )
            stats["gen_sec"] = round(time.time() - t0, 2)
            entry = {"corpus": stats}
            print(f"[{tier}] corpus: {stats}", flush=True)
            entry.update(multimodal_run(spark, tdir, args.repeats))
            for k in (
                "features_registered",
                "preprocess_registered",
                "png_scan",
                "png_features",
                "png_resize",
                "png_dedup",
            ):
                print(f"[{tier}] {k}: {entry[k]}", flush=True)
            result["tiers"][tier] = entry
            continue
        if tier.startswith("vec_"):
            stats = _reuse_or_gen(
                tdir,
                _vec_params(n_docs, dup_rate),
                lambda: gen_vectors(tdir, n_docs, dup_rate),
                expect_paths={
                    "path": "embeddings.parquet",
                    "pairs_path": "planted_pairs.parquet",
                },
            )
            stats["gen_sec"] = round(time.time() - t0, 2)
            entry = {"corpus": stats}
            print(f"[{tier}] corpus: {stats}", flush=True)
            if vec_extras:
                # attribution extras: thr-0.8 LSH (bounds the output at
                # the planted pairs — separates result-set growth from
                # candidate cost), the IVF rung, and the REGISTERED
                # ann_lsh_topk run verbatim on the tier corpus
                if "thr08" in vec_extras:
                    entry["auto_thr08"] = vector_lsh_run(
                        spark, tdir, args.repeats, None, None, threshold=0.8
                    )
                    print(
                        f"[{tier}] auto_thr08: {entry['auto_thr08']}",
                        flush=True,
                    )
                if "ivf" in vec_extras:
                    entry["ivf"] = vector_ivf_run(spark, tdir, args.repeats)
                    print(f"[{tier}] ivf: {entry['ivf']}", flush=True)
                    if tier == "vec_x4":
                        # contrast arm: full-corpus training (cap
                        # disabled, same numpy engine) on the same
                        # corpus — bounds what the 4096-row sample cap
                        # costs in recall (and shows the wall it buys)
                        entry["ivf_fulltrain"] = vector_ivf_run(
                            spark, tdir, args.repeats, train_target=1 << 40
                        )
                        print(
                            f"[{tier}] ivf_fulltrain: "
                            f"{entry['ivf_fulltrain']}",
                            flush=True,
                        )
                if "ann" in vec_extras:
                    entry["ann_lsh_registered"] = time_query(
                        spark, "ann_lsh_topk", tdir, args.repeats
                    )
                    print(
                        f"[{tier}] ann_lsh_registered: "
                        f"{entry['ann_lsh_registered']}",
                        flush=True,
                    )
                if "knn" in vec_extras:
                    # registered embedding_knn_graph path (r15): the
                    # auto rung's candidate/verify stages plus the
                    # WindowGroupLimit-pruned per-node rank — the rung
                    # prices what the rank tail adds over `auto`
                    entry["knn_graph_registered"] = vector_knn_run(
                        spark, tdir, args.repeats
                    )
                    print(
                        f"[{tier}] knn_graph_registered: "
                        f"{entry['knn_graph_registered']}",
                        flush=True,
                    )
                if "semclusters" in vec_extras:
                    entry["semclusters"] = vector_semclusters_run(
                        spark, tdir, args.repeats
                    )
                    print(
                        f"[{tier}] semclusters: {entry['semclusters']}",
                        flush=True,
                    )
                if "contam" in vec_extras:
                    # registered embedding-space decontamination on the
                    # tier corpus: the asymmetric eval-probe LSH (r13)
                    # — one signature pass + train x eval bucket join;
                    # the claim the rung prices is candidate volume
                    # linear in the ~1% eval slice, never corpus²
                    entry["decontam_embedding_registered"] = time_query(
                        spark, "decontaminate_embedding", tdir, args.repeats
                    )
                    print(
                        f"[{tier}] decontam_embedding_registered: "
                        f"{entry['decontam_embedding_registered']}",
                        flush=True,
                    )
                if "append" in vec_extras:
                    # registered incremental ingest (r13): quantizer
                    # trained on the 90% base, the 10% new batch routed
                    # + searched against the standing lists — the rung
                    # prices per-batch cost at 20x/200x the fixture
                    entry["ann_index_append_registered"] = time_query(
                        spark, "ann_index_append", tdir, args.repeats
                    )
                    print(
                        f"[{tier}] ann_index_append_registered: "
                        f"{entry['ann_index_append_registered']}",
                        flush=True,
                    )
                if "diverse" in vec_extras:
                    # the r14 cluster-stratified sampler: registered
                    # path verbatim (train + Arrow assignment +
                    # broadcast-centroid score + quota-pruned rank)
                    entry["diverse_sample_registered"] = time_query(
                        spark, "embedding_diverse_sample", tdir,
                        args.repeats,
                    )
                    print(
                        f"[{tier}] diverse_sample_registered: "
                        f"{entry['diverse_sample_registered']}",
                        flush=True,
                    )
                if "appendadc" in vec_extras:
                    if tier == "vec_x40":
                        # the monolithic 10%-batch ADC arm is a
                        # MEASURED skip here: the same 2.8G probed
                        # rows as the exact arm's r13 skip, and the
                        # shortlist sort spilled past this host's
                        # disk (r14) — the windowed standing-index
                        # arm below is the shape that completes
                        entry["append_adc"] = {
                            "skipped": "2.8e9 probed ADC rows; "
                            "shortlist sort spilled past local disk "
                            "(r14) — see append_windowed"
                        }
                    else:
                        entry["append_adc"] = vector_appendadc_run(
                            spark, tdir, args.repeats, with_recall=True
                        )
                    print(
                        f"[{tier}] append_adc: {entry['append_adc']}",
                        flush=True,
                    )
                    entry["append_windowed"] = vector_append_windowed_run(
                        spark, tdir
                    )
                    print(
                        f"[{tier}] append_windowed: "
                        f"{entry['append_windowed']}",
                        flush=True,
                    )
                if "recall" in vec_extras:
                    # (None, None) = the REGISTERED operating point
                    # (occupancy-1024 auto_planes + auto_tables — shared
                    # by dedup_embedding_lsh and ann_lsh_topk). The
                    # planes-16/20 points are what the registered rule
                    # reaches at ~33M / ~840M rows: fixed-16-tables
                    # (the retired policy) vs auto_tables, measured on
                    # two corpus sizes to validate that recall is
                    # n-independent. vec_x1 adds (12, 8) — the point
                    # its FULL-pipeline 'auto' entry measured — as the
                    # probe-vs-pipeline cross-check.
                    pts: list = [(None, None)]
                    if tier == "vec_x1":
                        pts.append((12, 8))
                    if tier in ("vec_x4", "vec_x16"):
                        pts += [(16, 16), (16, None), (20, 16), (20, None)]
                    entry["recall_probe"] = lsh_recall_probe(spark, tdir, pts)
                if "pq" in vec_extras:
                    # PQ (ADC+rerank) vs brute-force exact on the same
                    # tier corpus: wall for both (the brute arm IS the
                    # baseline PQ competes with at a fixed 5-query
                    # batch — PQ's encode pass is index-build cost that
                    # amortizes over query batches, so the honest read
                    # is scoring-vs-scoring at large n) and recall@10
                    # of the PQ output against the exact top-k.
                    entry["ann_pq_registered"] = time_query(
                        spark, "ann_pq_topk", tdir, args.repeats
                    )
                    print(
                        f"[{tier}] ann_pq_registered: "
                        f"{entry['ann_pq_registered']}",
                        flush=True,
                    )
                    entry["ann_brute"] = time_query(
                        spark, "ann_cosine_topk", tdir, args.repeats
                    )
                    print(
                        f"[{tier}] ann_brute: {entry['ann_brute']}",
                        flush=True,
                    )
                    from stream_processing_test_spark.registry import (
                        all_queries as _aq,
                    )

                    exact_pairs = {
                        (r["query_id"], r["neighbor_id"])
                        for r in _aq()["ann_cosine_topk"]
                        .fn(spark, tdir)
                        .collect()
                    }
                    pq_pairs = {
                        (r["query_id"], r["neighbor_id"])
                        for r in _aq()["ann_pq_topk"].fn(spark, tdir).collect()
                    }
                    entry["pq_recall_at_10"] = round(
                        len(exact_pairs & pq_pairs) / max(len(exact_pairs), 1),
                        3,
                    )
                    print(
                        f"[{tier}] pq_recall_at_10: "
                        f"{entry['pq_recall_at_10']}",
                        flush=True,
                    )
                if "ivfpq" in vec_extras:
                    entry["ivfpq"] = vector_ivfpq_run(
                        spark, tdir, args.repeats
                    )
                    print(f"[{tier}] ivfpq: {entry['ivfpq']}", flush=True)
                if "ivfprobe" in vec_extras:
                    entry["ivfprobe"] = vector_ivfprobe_run(
                        spark, tdir, args.repeats
                    )
                    print(
                        f"[{tier}] ivfprobe: {entry['ivfprobe']}", flush=True
                    )
                if "qbatch" in vec_extras:
                    entry["qbatch"] = vector_qbatch_run(
                        spark, tdir, args.repeats
                    )
                    print(f"[{tier}] qbatch: {entry['qbatch']}", flush=True)
                if "pqdial" in vec_extras:
                    # the PQ recall dial: the `pq` extra measured
                    # recall@10 decaying to ~0.40 up the ladder with
                    # the fixed PQ_RERANK=100 shortlist — this prices
                    # the documented countermeasure (grow the exact
                    # re-rank shortlist) on the same corpus, exactly
                    # like the LSH family's recall-dial rung priced
                    # n_tables
                    from pyspark.sql import functions as _F

                    from stream_processing_test_spark.registry import (
                        all_queries as _aq2,
                    )
                    from stream_processing_test_spark.llm.pq import pq_topk
                    from stream_processing_test_spark.tables import (
                        load as _load,
                    )

                    exact_pairs = {
                        (r["query_id"], r["neighbor_id"])
                        for r in _aq2()["ann_cosine_topk"]
                        .fn(spark, tdir)
                        .collect()
                    }
                    _emb = _load(spark, tdir, "embeddings").select(
                        "vec_id",
                        _F.col("embedding")
                        .cast("array<double>")
                        .alias("v"),
                    )
                    from stream_processing_test_spark.llm.similarity import (
                        N_QUERIES as _NQ,
                    )

                    _q = _emb.filter(_F.col("vec_id") < _NQ).select(
                        _F.col("vec_id").alias("query_id"),
                        _F.col("v").alias("qv"),
                    )
                    dial = {}
                    for rr in (100, 400, 1600):
                        t0 = time.time()
                        got = {
                            (r["query_id"], r["neighbor_id"])
                            for r in pq_topk(_emb, _q, rerank=rr).collect()
                        }
                        dial[str(rr)] = {
                            "recall_at_10": round(
                                len(exact_pairs & got)
                                / max(len(exact_pairs), 1),
                                3,
                            ),
                            "wall_sec": round(time.time() - t0, 2),
                        }
                        print(
                            f"[{tier}] pq_dial rerank={rr}: {dial[str(rr)]}",
                            flush=True,
                        )
                    entry["pq_rerank_dial"] = dial
                if "policywall" in vec_extras:
                    # full-pipeline wall price of the hold-recall policy
                    # at the planes-16 operating point (auto_tables=22
                    # vs the retired fixed 16), on the same corpus
                    from stream_processing_test_spark.llm.similarity import (
                        auto_tables as _at,
                    )

                    entry["policy_fixed16"] = vector_lsh_run(
                        spark, tdir, args.repeats, 16, 16
                    )
                    print(
                        f"[{tier}] policy_fixed16: {entry['policy_fixed16']}",
                        flush=True,
                    )
                    entry["policy_auto"] = vector_lsh_run(
                        spark, tdir, args.repeats, 16, _at(16)
                    )
                    print(
                        f"[{tier}] policy_auto: {entry['policy_auto']}",
                        flush=True,
                    )
                result["tiers"][tier] = entry
                continue
            tables = 16 if tier.endswith("_t16") else None
            entry["auto"] = vector_lsh_run(
                spark, tdir, args.repeats, None, tables
            )
            print(f"[{tier}] auto: {entry['auto']}", flush=True)
            if tier.startswith("vec_fixed4"):
                entry["fixed4"] = vector_lsh_run(spark, tdir, args.repeats, 4)
                print(f"[{tier}] fixed4: {entry['fixed4']}", flush=True)
            if tier == "vec_fixed4":
                # the 10k tier is where exact ground truth is feasible
                entry["scurve"] = lsh_scurve_probe(spark, tdir)
            result["tiers"][tier] = entry
            continue
        stats = _reuse_or_gen(
            tdir,
            _doc_params(n_docs, dup_rate),
            lambda: gen_corpus(tdir, n_docs, dup_rate),
        )
        stats["gen_sec"] = round(time.time() - t0, 2)
        entry: dict = {"corpus": stats, "queries": {}}
        print(f"[{tier}] corpus: {stats}", flush=True)
        if tier.startswith("overbudget"):
            if not qfilter or "dedup_keep_canonical" in qfilter:
                entry["keep_canonical_staged"] = overbudget_staged(spark, tdir)
                print(
                    f"[{tier}] staged: {entry['keep_canonical_staged']}",
                    flush=True,
                )
            # full-query walls (min-of-repeats) for the ladder rungs,
            # so the large-tier scaling ratios rest on repeated samples
            # — the single-shot staged run above is the GATE evidence,
            # not the timing source (host-throttle windows on this box
            # can inflate a lone sample ~2x; see the calibration probe)
            for q in selected(
                [
                    "dedup_ngram_jaccard",
                    "dup_clusters",
                    "leakage_safe_split",
                ]
                + EXTRA_LADDER
            ):
                entry["queries"][q] = time_query(spark, q, tdir, args.repeats)
                print(f"[{tier}] {q}: {entry['queries'][q]}", flush=True)
        else:
            for q in selected(LADDER + EXTRA_LADDER):
                entry["queries"][q] = time_query(spark, q, tdir, args.repeats)
                print(f"[{tier}] {q}: {entry['queries'][q]}", flush=True)
        result["tiers"][tier] = entry

    # same host-drift calibration as bench.py: a fixed-cost probe at
    # run start and end, so a reader can tell throttle drift from a
    # real scaling surprise inside THIS artifact
    cal_end = _calibration_probe(spark)
    result["calibration"] = {
        "probe": "sum(xxhash64(id)) over range(150e6), 32 tasks",
        "start_sec": cal_start,
        "end_sec": cal_end,
    }
    # per-invocation probe history (merged below): tier walls in this
    # artifact come from different runs on a host with 2-4x throttle
    # windows, so each run's own drift bracket travels with it
    cal_run = {
        "tiers": args.tiers,
        "queries": args.queries or "all",
        "start_sec": cal_start,
        "end_sec": cal_end,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
    }
    # merge with a previous run's artifact so tiers — and with
    # --queries, individual QUERIES within a tier — can be (re)run
    # without losing the others
    out_path = Path(args.out)
    result["calibration_runs"] = [cal_run]
    if out_path.exists():
        try:
            prev = json.loads(out_path.read_text())
            result["calibration_runs"] = prev.get("calibration_runs", []) + [
                cal_run
            ]
            for tname, tprev in prev.get("tiers", {}).items():
                tnew = result["tiers"].get(tname)
                if tnew is None:
                    result["tiers"][tname] = tprev
                    continue
                if "queries" in tprev or "queries" in tnew:
                    tnew["queries"] = {
                        **tprev.get("queries", {}),
                        **tnew.get("queries", {}),
                    }
                for k, v in tprev.items():
                    tnew.setdefault(k, v)
        except (OSError, ValueError):
            pass

    def ratio(a: str, b: str, key: str) -> None:
        ta, tb = result["tiers"].get(a), result["tiers"].get(b)
        if ta and tb:
            result[key] = {
                q: round(
                    tb["queries"][q]["wall_sec"] / ta["queries"][q]["wall_sec"],
                    2,
                )
                for q in LADDER + EXTRA_LADDER
                if q in ta.get("queries", {}) and q in tb.get("queries", {})
            }

    ratio("x1", "x10", "scaling_ratio_x10_over_x1")
    ratio("x10", "overbudget", "scaling_ratio_overbudget_over_x10")  # 8.4x docs
    ratio("overbudget", "overbudget_xl", "scaling_ratio_xl_over_overbudget")  # 4x docs

    def vec_ratio(a: str, b: str, key: str, mode: str = "auto") -> None:
        ta, tb = result["tiers"].get(a), result["tiers"].get(b)
        if ta and tb and mode in ta and mode in tb:
            result[key] = round(
                tb[mode]["wall_sec"] / max(ta[mode]["wall_sec"], 0.01), 2
            )

    # auto-sized rungs: 4x vectors per step, expect ~linear walls
    vec_ratio("vec_x1", "vec_x4", "vec_scaling_ratio_x4_over_x1")
    vec_ratio("vec_x4", "vec_x16", "vec_scaling_ratio_x16_over_x4")
    # contrast pair: fixed 4 planes should ~quadruple for 2x vectors
    # while auto on the SAME corpora stays ~flat-to-2x
    vec_ratio("vec_fixed4", "vec_fixed4_2x", "vec_fixed4_ratio_2x", "fixed4")
    vec_ratio("vec_fixed4", "vec_fixed4_2x", "vec_auto_ratio_2x_same_corpora")
    out_path.write_text(json.dumps(result, indent=1) + "\n")
    print(json.dumps(result, indent=1))


if __name__ == "__main__":
    main()
