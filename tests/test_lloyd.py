"""The shared driver-local Lloyd loop (``similarity.lloyd``) through
both of its trainers: IVF's spherical k-means (``sign=+1``) and PQ's
per-subspace L2 k-means (``sign=-1``). Spark-free — the trainers are
pure numpy over a collected training sample."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from stream_processing_test_spark.llm.hashing import phash_py
from stream_processing_test_spark.llm.pq import PQ_DSUB, _pq_lloyd_numpy
from stream_processing_test_spark.llm.similarity import _ivf_lloyd_numpy


def test_cancelling_members_raise_zero_norm_centroid():
    """Opposed vectors in one list average to the zero vector, whose
    cosine column would be NaN in the next pass: training fails loudly
    instead."""
    with pytest.raises(ValueError, match="zero-norm centroid"):
        _ivf_lloyd_numpy([(1, [1.0, 0.0]), (2, [-1.0, 0.0])], k=1, iters=1)


def _reseed_rows(seed, far, tie):
    """Six training rows whose three seeds (the smallest portable-hash
    ids) are the identical vector ``seed``, so every row joins list 0
    and lists 1 and 2 re-seed from its members. ``far`` is the member
    least like the new centroid; ``tie`` is a pair equally far from it,
    given ids a < b but listed b first, so a row-order tie-break would
    pick the wrong one. Returns (rows, a)."""
    ids = sorted(range(1, 200), key=lambda i: (phash_py(str(i)), i))
    s0, s1, s2, c = ids[:4]
    a, b = sorted(ids[4:6])
    rows = [
        (s0, seed),
        (s1, seed),
        (s2, seed),
        (c, far),
        (b, tie[1]),
        (a, tie[0]),
    ]
    return rows, a


def test_ivf_reseed_takes_lowest_cosine_first_ties_to_smaller_id():
    # new centroid of list 0: mean = [4/6, 0]; cosines: far -1.0,
    # tie pair 0.707107 each, seeds 1.0
    rows, a = _reseed_rows([1.0, 0.0], [-1.0, 0.0], ([1.0, 1.0], [1.0, -1.0]))
    cents = dict(_ivf_lloyd_numpy(rows, k=3, iters=1))
    assert cents == {0: [0.666667, 0.0], 1: [-1.0, 0.0], 2: [1.0, 1.0]}
    assert dict(rows)[a] == [1.0, 1.0]


def test_pq_reseed_takes_largest_distance_first_ties_to_smaller_id():
    # new centroid of code 0: mean = [1, 0, 0, 0]; squared distances:
    # far 25, tie pair 5 each, seeds 1
    pad = [0.0] * (PQ_DSUB - 2)
    rows, a = _reseed_rows(
        [0.0, 0.0] + pad, [6.0, 0.0] + pad, ([0.0, 2.0] + pad, [0.0, -2.0] + pad)
    )
    cents = {c: v for _, c, v in _pq_lloyd_numpy(rows, n_subs=1, n_codes=3, iters=1)}
    assert cents == {
        0: [1.0, 0.0] + pad,
        1: [6.0, 0.0] + pad,
        2: [0.0, 2.0] + pad,
    }
    assert dict(rows)[a] == [0.0, 2.0] + pad
