"""Partition keys for the per-window stat series.

The stat series themselves are rollups of the engine's fused counts
cube and url profile (plans/fused.py) — one long-format table
(FIXTURES.md F4):

    partition_key string, stat_name string, window_start timestamp,
    value double

that is tiny (windows × partitions × stats rows) regardless of input
size. This module holds the partition-key expression: add it as a
column and name that column in ``ValidationConfig.partition_by`` to get
one series per key.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def domain_bucket(n_buckets: int = 8, domain_col: str = "domain") -> Column:
    """Partition key that buckets domains — bounded cardinality even when
    the domain universe is huge, and the hot domain lands in one bucket so
    skew in raw data does NOT skew the stat series (each bucket is one
    group of ~n_windows rows downstream)."""
    return F.concat(
        F.lit("dom_b"), F.pmod(F.xxhash64(domain_col), F.lit(n_buckets)).cast("string")
    )
