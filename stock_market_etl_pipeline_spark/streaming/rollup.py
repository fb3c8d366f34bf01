"""Incrementally-maintained rollup (continuous-aggregate / hypertable
pattern): a streaming job keeps a partitioned parquet materialization of a
monthly OHLCV aggregate up to date as new tick rows land.

The reference recomputes its whole transform per daily batch (reference
``src/pipeline.py`` full-table rewrite into Postgres); at 100 TB a full
recompute per arrival is impossible. Each micro-batch instead recomputes
only the (year, month) partitions its rows touch, from the landing table
(``drive.recompute_touched``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .drive import drain, parquet_landing, recompute_touched


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
        recompute_touched(
            spark, batch_df, landing_dir, F.trunc("date", "month"),
            monthly_bars, rollup_dir, "year", "month",
        )

    return drain(parquet_landing(spark, landing_dir), checkpoint_dir, refresh)
