"""Explicit skew handling: hot-key detection + salting.

Dense urban cells make Morton-cell frequency Zipf-like (BASELINE.json
north_star). AQE skew-join splitting is ON session-wide
(session.py); this module adds the two explicit mechanisms on top:

- ``hot_keys``: cheap pre-aggregation finding keys above a row threshold
  (the measurement step — never guess which keys are hot);
- ``with_salt`` / ``salted_aggregate``: two-phase aggregation
  where only the hot keys are salted (cold keys keep single-pass
  aggregation; salting everything doubles shuffle volume for no reason).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def hot_keys(df: DataFrame, key: str, threshold: int) -> DataFrame:
    """Keys with more than ``threshold`` rows (one cheap partial-agg pass)."""
    return df.groupBy(key).count().filter(F.col("count") > threshold).select(key)


def with_salt(df: DataFrame, key: str, hot: DataFrame, n_salt: int = 16,
              salt_col: str = "_salt") -> DataFrame:
    """Add a salt column: pmod(xxhash64(whole row), n_salt) for hot keys,
    0 for cold keys. ``hot`` is broadcast."""
    is_hot = F.col("_is_hot").isNotNull()
    hot_marked = df.join(
        F.broadcast(hot.withColumn("_is_hot", F.lit(1))), key, "left"
    )
    salt = F.when(
        is_hot, F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(n_salt))
    ).otherwise(F.lit(0))
    return hot_marked.withColumn(salt_col, salt).drop("_is_hot")


def salted_aggregate(
    df: DataFrame,
    key: str,
    aggs: dict[str, Column],
    merge: dict[str, Column],
    threshold: int = 1_000_000,
    n_salt: int = 16,
) -> DataFrame:
    """Two-phase groupBy: partial agg on (key, salt), final merge on key.

    ``aggs``  : name -> aggregation Column for the partial phase.
    ``merge`` : name -> aggregation Column over the partial columns for
                the final phase (e.g. sum of partial counts).
    """
    hot = hot_keys(df, key, threshold)
    salted = with_salt(df, key, hot, n_salt)
    partial = salted.groupBy(key, "_salt").agg(
        *[c.alias(n) for n, c in aggs.items()]
    )
    return partial.groupBy(key).agg(*[c.alias(n) for n, c in merge.items()])
