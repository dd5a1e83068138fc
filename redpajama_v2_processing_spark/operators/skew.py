"""Explicit skew mitigation (salting) beyond AQE's runtime skew-join split.

Web corpora are host-skewed: a handful of hosts contribute a large share of
URLs, and boilerplate pages create hot LSH buckets. AQE splits skewed
shuffle partitions at runtime (on in session.py); these helpers handle the
*logical* hot keys AQE cannot fix (a single group-by key that is itself
huge): two-phase salted aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def with_salt(df: DataFrame, n_salts: int, salt_col: str = "_salt") -> DataFrame:
    """Deterministic per-row salt: hash of all columns mod n_salts.
    (monotonically_increasing_id / rand are not stable across retries;
    a content hash is.)"""
    return df.withColumn(salt_col, F.pmod(F.xxhash64(*df.columns), F.lit(n_salts)))


def salted_count(df: DataFrame, key_col: str, n_salts: int = 32) -> DataFrame:
    """groupBy(key).count() as a two-phase salted aggregation.

    Phase 1 shuffles on (key, salt) — hot keys spread over n_salts reducers;
    phase 2 combines n_salts tiny partials. Result equals the plain count
    (the oracle checks exactly that). Salt mixes all columns, not just the
    key — salting on the key alone would keep a hot key on one reducer.
    """
    salted = with_salt(df, n_salts)
    partial = salted.groupBy(key_col, "_salt").agg(F.count("*").alias("_c"))
    return partial.groupBy(key_col).agg(F.sum("_c").alias("n"))
