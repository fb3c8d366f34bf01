"""Skew mitigation utilities: deterministic salting.

AQE's skew-join splitting handles sort-merge joins automatically
(session.py enables it); these utilities cover the cases AQE can't:
broadcast-infeasible joins against a replicable side, and aggregations
with non-combinable buffers (collect_list/percentile) where one hot key
would pin a single task.

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


def salted_join(
    skewed: DataFrame,
    small: DataFrame,
    key: str,
    how: str = "inner",
) -> DataFrame:
    """Join a skewed fact against a replicable side without one hot-key task.

    The skewed side gets a salt derived from its first two non-key
    columns (the key itself when it has none); the small side is exploded
    into N_SALTS copies; the join key becomes (key, salt) so a hot key's rows
    spread across N_SALTS tasks. Replication cost: |small| × N_SALTS —
    only use when `small` is broadcast-marginal (too big to broadcast
    whole, small enough to replicate).
    """
    salt_src = [c for c in skewed.columns if c != key][:2] or [key]
    left = with_salt(skewed, salt_src, N_SALTS)
    right = small.withColumn(
        "__salt",
        F.explode(F.sequence(F.lit(0), F.lit(N_SALTS - 1))),
    )
    out = left.join(right, on=[key, "__salt"], how=how)
    return out.drop("__salt")


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
