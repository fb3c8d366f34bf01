"""Incrementally-maintained event-transition matrix: KEY-bucket-level
recompute, the per-key analog of rollup.py's time-partition recompute.

Transition pairs are a WINDOW over each user's event sequence, so a pair
can SPAN two micro-batches (batch N ends with user u's click, batch N+1
starts with u's purchase). A naive per-batch increment never sees that
pair; stitching per-user "last event" state into every batch is possible
(applyInPandasWithState) but makes replay non-idempotent — a redelivered
batch would re-emit its boundary pairs.

The scalable idempotent shape is bucket recompute:

1. users hash into ``n_buckets`` stable buckets (pmod(xxhash64(user))) —
   the store's partition key;
2. each micro-batch identifies the buckets its rows touch (bounded
   collect: ≤ n_buckets values, never rows);
3. those buckets' pair counts are recomputed FROM THE LANDING TABLE
   (source of truth) — cross-batch pairs appear because the recompute
   sees the user's whole history, however it was delivered;
4. dynamic partition overwrite swaps the refreshed buckets in
   atomically-per-partition. Re-running a batch rewrites the same
   buckets from the same source — idempotent, which is the exactly-once
   contract foreachBatch needs.

At 100 TB the landing table would itself be bucket-partitioned on the
same key so step 3's scan prunes to the touched buckets; n_buckets
bounds both the recompute fan-in and the per-partition file count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .drive import drain, parquet_landing

DEFAULT_BUCKETS = 32


def user_bucket(n_buckets: int = DEFAULT_BUCKETS):
    return F.pmod(F.xxhash64("user_id"), F.lit(n_buckets)).cast("int")


def transition_pairs(events_df: DataFrame, n_buckets: int = DEFAULT_BUCKETS) -> DataFrame:
    """Per-bucket (from_event, to_event) counts over per-user consecutive
    pairs in (ts, event_id) order — the store's partition contents.
    Same pair definition as the registered ``event_transition_matrix``
    query (registry_ext3), asserted against it in
    tests/test_streaming_transitions.py so they cannot drift."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        events_df.select(
            user_bucket(n_buckets).alias("bucket"),
            F.col("event_type").alias("from_event"),
            F.lead("event_type").over(w).alias("to_event"),
        )
        .filter(F.col("to_event").isNotNull())
        .groupBy("bucket", "from_event", "to_event")
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )


def transition_matrix_from_store(spark: SparkSession, store_dir: str) -> DataFrame:
    """The all-history transition matrix from the persisted per-bucket
    counts: merge KB-sized partials, never rescan the event history —
    same output columns as the registered batch query."""
    pairs = (
        spark.read.parquet(store_dir)
        .groupBy("from_event", "to_event")
        .agg(F.sum("n_transitions").alias("n_transitions"))
    )
    w_from = Window.partitionBy("from_event")
    return pairs.select(
        "from_event", "to_event", "n_transitions",
        (
            F.col("n_transitions") / F.sum("n_transitions").over(w_from)
        ).alias("transition_prob"),
    )


def start_transition_rollup(
    spark: SparkSession,
    landing_dir: str,
    store_dir: str,
    checkpoint_dir: str,
    n_buckets: int = DEFAULT_BUCKETS,
):
    """Maintain ``store_dir`` (parquet partitioned by bucket) as an
    incremental materialization of ``transition_pairs`` over the events
    in ``landing_dir``. Returns the started StreamingQuery (availableNow).
    """

    def refresh(batch_df: DataFrame, batch_id: int) -> None:
        touched = (
            batch_df.select(user_bucket(n_buckets).alias("bucket"))
            .distinct()
            .collect()  # bounded: <= n_buckets values
        )
        if not touched:
            return
        buckets = [r["bucket"] for r in touched]
        src = spark.read.parquet(landing_dir).filter(
            user_bucket(n_buckets).isin(buckets)
        )
        refreshed = transition_pairs(src, n_buckets)
        (
            refreshed.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket")
            .parquet(store_dir)
        )

    return drain(parquet_landing(spark, landing_dir), checkpoint_dir, refresh)
