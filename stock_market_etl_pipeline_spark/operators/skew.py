"""Skew mitigation utilities: deterministic salting.

AQE's skew-join splitting handles sort-merge joins automatically
(session.py enables it); these utilities cover the case AQE can't:
aggregations with non-combinable buffers (collect_list/percentile) where
one hot key would pin a single task.

Salt is DERIVED (hash of stable columns mod N), never rand(): task retries
and speculative execution must land rows in the same salt bucket or
results change under failure.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

N_SALTS = 8


def with_salt(df: DataFrame, salt_cols: list[str], n_salts: int) -> DataFrame:
    """Deterministic ``__salt`` in [0, n_salts) from a hash of salt_cols."""
    return df.withColumn(
        "__salt",
        F.pmod(F.hash(*[F.col(c) for c in salt_cols]), F.lit(n_salts)),
    )


def salted_collect_list(df: DataFrame, key: str, value: str) -> DataFrame:
    """Two-phase collect_list: per-(key, salt) partial lists, then a final
    flatten — a hot key builds its buffer across N_SALTS tasks instead of
    one. Output order is normalized by sorting (collect_list order is
    partition-dependent either way)."""
    salted = with_salt(df, [value], N_SALTS)
    partial = salted.groupBy(key, "__salt").agg(
        F.collect_list(value).alias("__part")
    )
    return (
        partial.groupBy(key)
        .agg(F.flatten(F.collect_list("__part")).alias(value + "s"))
        .withColumn(value + "s", F.sort_array(F.col(value + "s")))
    )
