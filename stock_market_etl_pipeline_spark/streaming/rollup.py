"""Incrementally-maintained rollup (continuous-aggregate / hypertable
pattern): a streaming job keeps a partitioned parquet materialization of a
monthly OHLCV aggregate up to date as new tick rows land.

The reference recomputes its whole transform per daily batch (reference
``src/pipeline.py`` full-table rewrite into Postgres); at 100 TB a full
recompute per arrival is impossible. The scalable shape is PARTITION-LEVEL
RECOMPUTE:

1. each micro-batch identifies the set of (year, month) partitions its
   rows touch (a bounded ``collect`` — #touched partitions per batch, not
   data volume);
2. those partitions — and ONLY those — are re-aggregated from the landing
   table (source of truth), so the result is correct even when a partition
   receives rows across many batches, arbitrarily late or out of order;
3. the refreshed partitions are swapped in atomically-per-partition via
   dynamic partition overwrite (``partitionOverwriteMode=dynamic``).

Re-running a batch recomputes the same partitions from the same source —
the sink is idempotent, which is exactly the exactly-once story Structured
Streaming's checkpoint + deterministic batch ids need from a foreachBatch
writer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .drive import drain, parquet_landing


def monthly_bars(ticks_df: DataFrame) -> DataFrame:
    """Monthly OHLCV bars — the same aggregate as the registered
    `monthly_ohlcv` query (registry_ext2.py), factored so the batch query,
    the incremental maintainer, and the parity test share one definition."""
    return ticks_df.groupBy(
        "symbol",
        F.year("date").cast("int").alias("year"),
        F.month("date").cast("int").alias("month"),
    ).agg(
        F.min_by("open", "date").alias("open"),
        F.max("high").alias("high"),
        F.min("low").alias("low"),
        F.max_by("close", "date").alias("close"),
        F.sum("volume").cast("bigint").alias("volume"),
        F.count(F.lit(1)).alias("trading_days"),
    )


def start_monthly_rollup(
    spark: SparkSession,
    landing_dir: str,
    rollup_dir: str,
    checkpoint_dir: str,
):
    """Maintain ``rollup_dir`` (parquet partitioned by year/month) as an
    incremental materialization of ``monthly_bars`` over the tick rows in
    ``landing_dir``. Returns the started StreamingQuery (availableNow).

    State stays in the checkpoint (file-source offsets only — the rollup
    itself is stateless per batch), so restarts resume where they left
    off and re-deliveries rewrite the same partitions idempotently.
    """

    def refresh(batch_df: DataFrame, batch_id: int) -> None:
        touched = (
            batch_df.select(
                F.year("date").cast("int").alias("year"),
                F.month("date").cast("int").alias("month"),
            )
            .distinct()
            .collect()  # bounded: #touched partitions, not rows
        )
        if not touched:
            return
        months = [(r["year"], r["month"]) for r in touched]
        src = spark.read.parquet(landing_dir)
        cond = F.lit(False)
        for y, m in months:
            cond = cond | (
                (F.year("date") == F.lit(y)) & (F.month("date") == F.lit(m))
            )
        refreshed = monthly_bars(src.filter(cond))
        (
            refreshed.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("year", "month")
            .parquet(rollup_dir)
        )

    return drain(parquet_landing(spark, landing_dir), checkpoint_dir, refresh)
