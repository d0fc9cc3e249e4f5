"""Skew-mitigation utilities (SURVEY.md §7 scale posture).

At 100 TB a handful of hot keys (one mega-popular stream source, one
boilerplate document cluster) can pin a whole stage on one task. Two
standard remedies, both expression-level (no custom partitioner):

- ``salted_aggregate``: two-phase aggregation through an explicit
  random salt — pre-aggregate on (key, salt), then final-aggregate on
  key. For algebraic aggregates Spark's partial aggregation usually
  makes this unnecessary; it matters when the partial pass can't
  shrink groups (e.g. collect_list-like state or extreme key skew
  with high-cardinality sub-records).
- ``salted_broadcast_left``: replicate a small right side k ways so a
  hot left key's rows spread over k tasks while still joining
  correctly. (When the right side is small enough, plain broadcast is
  better — this is for the mid-size case.)

AQE's skew-join splitting (enabled in session.py) handles most
sort-merge skew automatically; these helpers cover aggregation skew
and document the technique explicitly.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEFAULT_SALT = 16


def salted_aggregate(
    df: DataFrame,
    keys: Sequence[str],
    partial_aggs: Sequence[Column],
    final_aggs: Sequence[Column],
) -> DataFrame:
    """Two-phase aggregation with an explicit ``DEFAULT_SALT``-way salt.

    ``partial_aggs`` aggregate within (keys..., salt); ``final_aggs``
    combine the partials per key (they reference the partial aliases).
    Example — skew-proof count + sum:

        salted_aggregate(
            df, ["k"],
            partial_aggs=[F.count("*").alias("c"), F.sum("v").alias("s")],
            final_aggs=[F.sum("c").alias("n"), F.sum("s").alias("total")],
        )
    """
    salted = df.withColumn(
        "__salt", (F.rand(seed=42) * DEFAULT_SALT).cast("int")
    )
    partial = salted.groupBy(*keys, "__salt").agg(*partial_aggs)
    return partial.groupBy(*keys).agg(*final_aggs)


def salted_broadcast_left(
    left: DataFrame,
    right: DataFrame,
    key: str,
    n_salts: int = DEFAULT_SALT,
) -> DataFrame:
    """Equi-join where the LEFT side has hot keys: salt the left,
    explode the right across all salt values, join on (key, salt).
    Right-side rows are replicated n_salts times — use only when
    |right| * n_salts is shuffle-affordable."""
    l_salted = left.withColumn("__salt", (F.rand(seed=42) * n_salts).cast("int"))
    r_exploded = right.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    )
    return l_salted.join(r_exploded, [key, "__salt"]).drop("__salt")
