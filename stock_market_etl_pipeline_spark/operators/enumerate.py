"""Distributed global enumeration: contiguous 0..N-1 ids in a total
order, without a single-partition sort.

The naive Spark spelling — ``row_number() OVER (ORDER BY ...)`` with no
PARTITION BY — plans an Exchange SinglePartition: one task sorts the
whole table, the definition of a 100 TB scale cliff.
``monotonically_increasing_id`` scales but is neither contiguous nor
order-respecting. The scalable classic is two-phase:

1. range-repartition on the order key (ordered partitions: every key in
   partition i sorts before every key in partition i+1; Spark's
   RangePartitioner samples boundaries but equal keys never straddle);
2. within-partition ``row_number`` (windows partitioned by
   ``spark_partition_id`` — each task sorts only its slice);
3. per-partition counts → exclusive prefix-sum offsets. The offsets
   window IS unpartitioned, but over #partitions rows (cluster-sized,
   not data-sized — the whole point);
4. broadcast the offsets back: ``global_id = offset[pid] + local_rn - 1``.

Cost: two data-sized shuffles (the range exchange, and the window's hash
exchange on pid) and one broadcast — every stage parallel. Determinism:
ids depend only on the total order of ``order_cols`` (which must be a
unique key), not on where sampling places the boundaries, so the result
is reproducible across runs, partition counts, and engines — and
therefore DuckDB-oracle-checkable (`global_doc_ids` in registry_llm is
hash-green against ``ROW_NUMBER() OVER (ORDER BY ...)``).

Training-data use: stable contiguous sample ids for sharding (id % n_shards),
resumable iteration offsets, and pairing sample ids with packed-sequence
indices. The reference enumerates with a pandas RangeIndex in one process
(reference ``src/transform.py`` index reset); this is the distributed
equivalent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def global_sequence_ids(df: DataFrame, order_cols: list[str]) -> DataFrame:
    """Append ``global_id``: contiguous 0-based rank of each row in the
    total order of ``order_cols`` (which must uniquely key the rows)."""
    parted = df.repartitionByRange(*[F.col(c) for c in order_cols])
    local = parted.select(
        "*", F.spark_partition_id().alias("_pid")
    ).select(
        "*",
        F.row_number()
        .over(Window.partitionBy("_pid").orderBy(*order_cols))
        .alias("_local_rn"),
    ).localCheckpoint()
    # The checkpoint is load-bearing for CORRECTNESS, not just reuse:
    # the data branch and the offsets branch would otherwise each plan
    # their OWN range exchange, and RangePartitioner samples per
    # exchange (seed involves the RDD id) — the two could place
    # boundary rows in different partitions, making offset[pid] count
    # rows the data branch's pid doesn't hold. Freezing the partitioning
    # once makes the pids a single shared fact (and halves the
    # data-sized shuffle work).
    offsets = (
        local.groupBy("_pid")
        .agg(F.count(F.lit(1)).alias("_cnt"))
        .select(
            "_pid",
            F.coalesce(
                F.sum("_cnt").over(
                    Window.orderBy("_pid").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ).alias("_offset"),
        )
    )
    return (
        local.join(F.broadcast(offsets), "_pid")
        .select(
            *df.columns,
            (F.col("_offset") + F.col("_local_rn") - 1)
            .cast("long")
            .alias("global_id"),
        )
    )


def global_prefix_sums(
    df: DataFrame,
    order_cols: list[str],
    value_col: str,
    out_col: str = "cum",
) -> DataFrame:
    """Append ``out_col``: the INCLUSIVE running sum of ``value_col`` in
    the total order of ``order_cols`` (a unique key) — same two-phase
    range-partition shape as :func:`global_sequence_ids`, generalized
    from counting rows to summing a value. The per-partition offsets
    window is again partition-count-sized, never data-sized, so there is
    no Exchange SinglePartition anywhere (the naive
    ``SUM(v) OVER (ORDER BY k)`` spelling plans one). Sums stay in the
    value column's type — pass an integer column for exact prefix sums.
    """
    parted = df.repartitionByRange(*[F.col(c) for c in order_cols])
    local = parted.select(
        "*", F.spark_partition_id().alias("_pid")
    ).select(
        "*",
        F.sum(value_col)
        .over(
            Window.partitionBy("_pid")
            .orderBy(*order_cols)
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        .alias("_local_cum"),
    ).localCheckpoint()
    # localCheckpoint is load-bearing (see global_sequence_ids): both
    # consumers must see ONE range partitioning, not two independently
    # sampled ones.
    offsets = (
        local.groupBy("_pid")
        .agg(F.sum(value_col).alias("_tot"))
        .select(
            "_pid",
            F.coalesce(
                F.sum("_tot").over(
                    Window.orderBy("_pid").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ).alias("_offset"),
        )
    )
    return local.join(F.broadcast(offsets), "_pid").select(
        *df.columns,
        (F.col("_offset") + F.col("_local_cum")).alias(out_col),
    )
