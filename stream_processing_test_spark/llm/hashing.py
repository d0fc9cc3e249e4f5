"""Portable 60-bit hashing — the same value computable in Spark, in
DuckDB, and in driver-side Python.

Why it exists: the LSH family (MinHash banding, SimHash fingerprints,
random-hyperplane bucketing) originally hashed with Spark's
``xxhash64``, which DuckDB cannot evaluate — so those queries could
only get rows-only driver checks. Deriving every hash from ``md5``
instead makes the full candidate/verify output oracle-checkable:
both engines compute md5 of the same string bit-identically, and both
can turn its first 15 hex chars into the same BIGINT.

15 hex chars = 60 bits, chosen because 2^60 - 1 fits a *signed* 64-bit
integer in both engines (16 chars could overflow to null in Spark's
string→long cast). All values are non-negative, so unsigned shifts and
plain ``>>`` agree everywhere.

The three twins (keep in lockstep):

- :func:`phash` — Spark Column: ``conv(substring(md5(x),1,15),16,10)``
  cast to long.
- :func:`phash_sql` — DuckDB fragment:
  ``CAST('0x' || substr(md5(x),1,15) AS BIGINT)``.
- :func:`phash_py` — ``int(hashlib.md5(x).hexdigest()[:15], 16)``,
  used to materialize literal hyperplane weights on the driver.

Hyperplane weights: component (t, p, d) hashes ``"hp:t:p:d"`` and maps
the 60-bit value to [-1, 1) via ``h / 2**59 - 1``. The division is by a
power of two, so double rounding is an exact scaling in every engine —
the three twins produce bit-identical doubles, and the sign of a
(sequentially-folded) dot product agrees across engines up to genuine
float noise at |dot| ~ 1e-15, negligible for random data.
"""

from __future__ import annotations

import hashlib
from functools import lru_cache

from pyspark.sql import Column
from pyspark.sql import functions as F

PHASH_HEX = 15
PHASH_BITS = 4 * PHASH_HEX  # 60


def phash(col: Column | str, seed: int | None = None) -> Column:
    """Spark twin: portable 60-bit hash of a string column.

    ``seed`` prefixes the input with ``"{seed}:"`` — the cheap way to
    get an independent hash family member per seed (MinHash needs 32).
    """
    c = F.col(col) if isinstance(col, str) else col
    if seed is not None:
        c = F.concat(F.lit(f"{seed}:"), c)
    return F.conv(F.substring(F.md5(c), 1, PHASH_HEX), 16, 10).cast("long")


def phash_sql(expr: str) -> str:
    """DuckDB twin of unseeded :func:`phash`. ``expr`` is a SQL string
    expression."""
    return f"CAST('0x' || substr(md5({expr}), 1, {PHASH_HEX}) AS BIGINT)"


def phash_spark_sql(expr: str, seed: int | None = None) -> str:
    """Spark-SQL-string twin of :func:`phash` — same expression tree
    (``conv(substring(md5(x),1,15),16,10)`` cast to BIGINT), emitted as
    a SQL fragment for builders that assemble one big statement instead
    of Column algebra. Why that matters: a py4j round trip costs 1-10
    ms on the sandbox host (OPTIMIZATION_r16.md §py4j), so an operator
    that assembles hundreds of Column objects pays seconds of pure
    driver latency per invocation; one parsed SQL string is one round
    trip. Keep in lockstep with :func:`phash`/:func:`phash_sql`."""
    if seed is not None:
        expr = f"concat('{seed}:', {expr})"
    return f"CAST(conv(substring(md5({expr}), 1, {PHASH_HEX}), 16, 10) AS BIGINT)"


def phash_py(s: str, seed: int | None = None) -> int:
    """Driver-Python twin of :func:`phash`."""
    if seed is not None:
        s = f"{seed}:{s}"
    return int(hashlib.md5(s.encode()).hexdigest()[:PHASH_HEX], 16)


MINFAM_P = (1 << 31) - 1  # Mersenne prime 2^31-1


@lru_cache(maxsize=4)
def minfam_coeffs(n: int) -> tuple[tuple[int, int], ...]:
    """Coefficients for the portable universal hash family

        h_j(x) = (a_j * (phash(x) % P) + b_j) % P,   P = 2^31 - 1

    MinHash needs ``n`` independent-ish hash functions per shingle;
    computing ``n`` separate md5s costs ``n`` full digests per row
    (the dominant cost of the whole signature stage). One md5 + the
    classic affine family is the standard MinHash construction and is
    ~n× cheaper. Portability: ``phash(x) % P`` and both coefficients
    are < 2^31, so ``a*h + b`` stays below 2^62 — the arithmetic is
    exact, overflow-free int64 in Spark, DuckDB, and Python alike.
    Coefficients derive from :func:`phash_py` (a_j nonzero mod P)."""
    return tuple(
        (
            phash_py(f"mh:a:{j}") % (MINFAM_P - 1) + 1,
            phash_py(f"mh:b:{j}") % MINFAM_P,
        )
        for j in range(n)
    )


def _plane_component(t: int, p: int, d: int) -> float:
    # h / 2**59 - 1: uniform in [-1, 1). Power-of-two scaling keeps the
    # int→double rounding identical to DuckDB's BIGINT/POWER(2,59).
    return phash_py(f"hp:{t}:{p}:{d}") / (1 << (PHASH_BITS - 1)) - 1.0


@lru_cache(maxsize=8)
def plane_weights(
    n_tables: int, n_planes: int, dim: int
) -> tuple[tuple[tuple[float, ...], ...], ...]:
    """Deterministic hyperplane matrix ``W[t][p][d]`` for sign-LSH.

    Derived purely from :func:`phash_py`, so the DuckDB CTE from
    :func:`plane_weights_cte` regenerates the identical doubles and an
    oracle can replay the whole bucketing."""
    return tuple(
        tuple(
            tuple(_plane_component(t, p, d) for d in range(dim))
            for p in range(n_planes)
        )
        for t in range(n_tables)
    )


def plane_weights_cte(n_tables: int, n_planes: int, dim: int) -> str:
    """DuckDB CTE body ``hp(t, p, w)`` regenerating :func:`plane_weights`."""
    comp = phash_sql("'hp:' || t || ':' || p || ':' || d")
    return f"""hp AS (
    SELECT t, p,
           list({comp} / POWER(2, {PHASH_BITS - 1}) - 1.0 ORDER BY d) AS w
    FROM range({n_tables}) tt(t), range({n_planes}) pp(p), range({dim}) dd(d)
    GROUP BY t, p
)"""


def round6_np(x):
    """numpy twin of the engines' 6-decimal HALF-UP rounding (round
    half AWAY FROM ZERO — ``np.round`` is banker's and must not be
    used). One definition, shared by every driver-local trainer
    (``similarity.lloyd`` and its IVF/PQ score functions): the rounding
    boundary is a cross-engine correctness invariant, so a fix here
    reaches every operator family at once."""
    import numpy as np

    return np.copysign(np.floor(np.abs(x) * 1e6 + 0.5), x) / 1e6
