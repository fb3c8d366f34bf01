"""Storage-layout certification: the z-order key's guards, z-order
clustering measured by parquet footer min/max skip ratios, and the
partition-pruning plan proof.

The skip_ratio numbers here are the statistic Spark's pushed parquet
filters act on at scan time — writing the layout well IS the 100 TB
optimization, so the tests assert the measured skipping, not just that
the writers run.
"""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from stock_market_etl_pipeline_spark.operators.layout import zorder_key
from stock_market_etl_pipeline_spark.operators.txtable import TxTable
from stock_market_etl_pipeline_spark.sources.tables import load_table

from conftest import SF_DIR, rowgroup_stats, skip_ratio


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def grid(spark):
    """40k rows, two independent pseudo-random uniform dims in [0, 200).

    Knuth-hash dederived from id so the data is deterministic but NOT
    correlated with write order.
    """
    return (
        spark.range(40_000)
        .select(
            F.col("id"),
            (F.col("id") * 2654435761 % 1_000_003 % 200).alias("x"),
            (F.col("id") * 40503 % 999_983 % 200).alias("y"),
        )
    )


def test_partition_pruning_reaches_the_scan(spark, tmp_path):
    """Month-partitioned orders: a month predicate must show up as a
    PartitionFilter (directory pruning — zero IO for other months), and
    the pruned read must equal the unpruned filter exactly."""
    orders = load_table(spark, SF_DIR, "orders").withColumn(
        "order_month", F.month("o_orderdate")
    )
    path = str(tmp_path / "orders_by_month")
    orders.write.mode("overwrite").partitionBy("order_month").parquet(path)

    back = spark.read.parquet(path).filter(F.col("order_month") == 3)
    plan = plan_of(back)
    assert "PartitionFilters" in plan
    # the month predicate must be IN the partition filters, not a data filter
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert any("order_month" in ln for ln in pf), pf

    expect = orders.filter(F.col("order_month") == 3).count()
    assert back.count() == expect and expect > 0


def test_rowgroup_stats_reports_footer_ranges(spark, grid, tmp_path):
    path = str(tmp_path / "one")
    grid.repartitionByRange(8, "x").sortWithinPartitions("x").write.parquet(path)
    stats = rowgroup_stats(path, "x")
    assert len(stats) >= 4
    assert sum(n for _, _, n in stats) == 40_000
    # sorted layout => non-overlapping-ish ranges; min of first group is 0
    assert min(mn for mn, _, _ in stats) == 0


def test_zorder_key_guards(spark, grid):
    with pytest.raises(ValueError):
        zorder_key(grid, [])
    with pytest.raises(ValueError):
        zorder_key(grid, ["id", "x", "y", "x"])  # 4 x 16 = 64 > 62 key bits


def test_zorder_constant_column_is_harmless(spark, tmp_path):
    """A constant dim contributes rank 0 everywhere; OPTIMIZE ZORDER BY
    degrades to linear on the varying dim instead of crashing on a zero
    span."""
    df = (
        spark.range(5_000)
        .select(
            F.lit(7).alias("x"),
            (F.col("id") % 100).alias("y"),
        )
    )
    t = TxTable(str(tmp_path / "const"))
    t.append(df)
    t.optimize(spark, zorder_by=["x", "y"])
    t.vacuum(keep_last=1)
    assert skip_ratio(t.data_dir, "y", 0, 12) >= 0.5
