"""Incrementally-maintained event-transition matrix: KEY-bucket-level
recompute, the per-key analog of rollup.py's time-partition recompute.

Transition pairs are a WINDOW over each user's event sequence, so a pair
can SPAN two micro-batches (batch N ends with user u's click, batch N+1
starts with u's purchase). A naive per-batch increment never sees that
pair; stitching per-user "last event" state into every batch is possible
(applyInPandasWithState) but makes replay non-idempotent — a redelivered
batch would re-emit its boundary pairs.

Users hash into ``N_BUCKETS`` stable buckets (pmod(xxhash64(user))), the
store's partition key, and each micro-batch recomputes the buckets it
touches from the landing table (``drive.recompute_touched``):
cross-batch pairs appear because the recompute sees each user's whole
history, however it was delivered. At 100 TB the landing table would
itself be bucket-partitioned on the same key so the recompute scan
prunes to the touched buckets; N_BUCKETS bounds both the recompute
fan-in and the per-partition file count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .drive import drain, parquet_landing, recompute_touched

N_BUCKETS = 32


def user_bucket():
    return F.pmod(F.xxhash64("user_id"), F.lit(N_BUCKETS)).cast("int")


def transition_pairs(events_df: DataFrame) -> DataFrame:
    """Per-bucket (from_event, to_event) counts over per-user consecutive
    pairs in (ts, event_id) order — the store's partition contents.
    Same pair definition as the registered ``event_transition_matrix``
    query (registry_ext3), asserted against it in
    tests/test_streaming_transitions.py so they cannot drift."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        events_df.select(
            user_bucket().alias("bucket"),
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
):
    """Maintain ``store_dir`` (parquet partitioned by bucket) as an
    incremental materialization of ``transition_pairs`` over the events
    in ``landing_dir``. Returns the started StreamingQuery (availableNow).
    """

    def refresh(batch_df: DataFrame, batch_id: int) -> None:
        recompute_touched(
            spark, batch_df, landing_dir, user_bucket(), transition_pairs,
            store_dir, "bucket",
        )

    return drain(parquet_landing(spark, landing_dir), checkpoint_dir, refresh)
