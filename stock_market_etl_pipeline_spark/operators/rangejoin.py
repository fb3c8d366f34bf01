"""Band (range) self-join via bucketization.

Spark has no native band-join optimization: a plain ``|a.v - b.v| <= w``
join condition plans as a broadcast-nested-loop / cartesian — O(n²) at any
scale. The standard distributed formulation bucketizes: bucket =
floor(v / w), and any pair within w is at most ONE bucket apart, so
emitting each row into buckets {b, b+1} and pairing inside buckets finds
every true pair with an equi-join-shaped plan (grouped pass — see
operators/dedup.bucket_pairs). The exact |Δ| ≤ w verify then removes the
false candidates, so results equal the naive non-equi join bit-for-bit.

Per-bucket membership is bounded by the data density inside one width-w
window — the caller picks w to bound it (same contract as LSH band sizes).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def band_self_pairs(
    df: DataFrame,
    id_col: str,
    value_col: str,
    width: float,
) -> DataFrame:
    """All id pairs (id_a < id_b) whose values differ by at most ``width``.

    Output: (id_a, id_b, value_a, value_b) — exact, via bucketized
    candidates + verify; never a nested-loop over the table.
    """
    bucketed = df.select(
        F.col(id_col).alias("__id"), F.col(value_col).alias("__v")
    ).select(
        "__id",
        "__v",
        F.explode(
            F.array(
                F.floor(F.col("__v") / width).cast("bigint"),
                F.floor(F.col("__v") / width).cast("bigint") + 1,
            )
        ).alias("__bucket"),
    )
    members = (
        bucketed.groupBy("__bucket")
        .agg(F.sort_array(F.collect_set(F.struct("__id", "__v"))).alias("__m"))
        .filter(F.size("__m") > 1)
    )
    pairs = (
        members.select(F.col("__m"), F.posexplode("__m").alias("__i", "__pa"))
        .select(
            "__pa",
            F.explode(
                F.slice(F.col("__m"), F.col("__i") + 2, F.size("__m"))
            ).alias("__pb"),
        )
        .select(
            F.col("__pa.__id").alias("id_a"),
            F.col("__pb.__id").alias("id_b"),
            F.col("__pa.__v").alias("value_a"),
            F.col("__pb.__v").alias("value_b"),
        )
        .distinct()  # same-bucket pairs are emitted from b and b+1
    )
    return pairs.filter(
        F.abs(F.col("value_a") - F.col("value_b")) <= width
    )
