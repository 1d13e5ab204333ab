"""Skew handling: salted two-phase aggregation.

North-rule requirement: hot conversations (millions of turns under one
``conv_id``) must not serialize onto one task.  Catalyst/AQE splits skewed
*joins*, but a skewed ``groupBy(conv_id)`` first phase still hashes every
turn of a hot key to one shuffle partition — salting is on us (SURVEY §4).
"""

from __future__ import annotations

from typing import List

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SALT_COL = "_salt"


def salted_agg(
    df: DataFrame,
    group_col: str,
    aggs: List,
    partial_aggs: List,
    salt_buckets: int = 16,
) -> DataFrame:
    """Two-phase aggregation: groupBy(key, salt) partials → groupBy(key)
    merge.  ``partial_aggs`` run in phase 1 (must be decomposable — sums,
    counts, min/max), ``aggs`` merge the partial columns in phase 2.

    The salt is the input split (``spark_partition_id``) mod
    ``salt_buckets``: any salt assignment merges identically for such
    aggregates, and a retried task reads the same split, so it gets the
    same salt (no rand()).  At 10^12 turns the first shuffle spreads each
    hot conversation across ``salt_buckets`` reducers; the second shuffle
    only moves one row per (key, salt) pair.
    """
    salt = F.pmod(F.spark_partition_id(), F.lit(salt_buckets)).cast("int")
    phase1 = df.withColumn(SALT_COL, salt).groupBy(group_col, SALT_COL).agg(*partial_aggs)
    return phase1.groupBy(group_col).agg(*aggs)
