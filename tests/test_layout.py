"""Storage-layout certification: z-order vs linear clustering measured by
parquet footer min/max skip ratios, partition-pruning plan proof, and the
skew case that motivates quantile ranks.

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

from stock_market_etl_pipeline_spark.operators.layout import (
    _scaled_rank_quantile,
    linear_layout,
    rowgroup_stats,
    skip_ratio,
    zorder_key,
    zorder_layout,
)
from stock_market_etl_pipeline_spark.sources.tables import load_table

from conftest import SF_DIR


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def grid(spark):
    """40k rows, two independent pseudo-random uniform dims in [0, 200).

    Knuth-hash dederived from id so the data is deterministic but NOT
    correlated with write order — the unsorted baseline really is
    unsorted.
    """
    return (
        spark.range(40_000)
        .select(
            F.col("id"),
            (F.col("id") * 2654435761 % 1_000_003 % 200).alias("x"),
            (F.col("id") * 40503 % 999_983 % 200).alias("y"),
        )
    )


def test_zorder_write_preserves_rows_exactly(spark, grid, tmp_path):
    path = str(tmp_path / "z")
    zorder_layout(grid, path, ["x", "y"])
    back = spark.read.parquet(path)
    assert back.columns == grid.columns
    assert (
        back.exceptAll(grid).count() == 0
        and grid.exceptAll(back).count() == 0
    )


def test_zorder_skips_on_both_dims_linear_only_on_leading(spark, grid, tmp_path):
    """The core claim: linear (x, y) layout serves x-predicates but gives a
    y-only predicate nothing; z-order serves both at once."""
    lin = str(tmp_path / "lin")
    zed = str(tmp_path / "zed")
    linear_layout(grid, lin, ["x", "y"])
    zorder_layout(grid, zed, ["x", "y"])

    # y-only probe, 1/8 of the domain: the composite index dead zone.
    y_lin = skip_ratio(lin, "y", 0, 24)
    y_zed = skip_ratio(zed, "y", 0, 24)
    assert y_lin <= 0.10, f"linear layout should not skip on y, got {y_lin}"
    assert y_zed >= 0.50, f"z-order should skip most row groups on y, got {y_zed}"

    # x-only probe: linear is perfect, z-order still substantial.
    x_lin = skip_ratio(lin, "x", 0, 24)
    x_zed = skip_ratio(zed, "x", 0, 24)
    assert x_lin >= 0.75
    assert x_zed >= 0.50

    # box probe on both dims: z-order skips at least the max of its
    # per-dim ratios (a row group survives only if BOTH ranges overlap).
    both_zed = max(
        skip_ratio(zed, "x", 0, 49), skip_ratio(zed, "y", 0, 49)
    )
    assert both_zed >= 0.4


def test_linear_date_layout_serves_date_band(spark, tmp_path):
    """Real table: lineitem laid out by l_shipdate turns a narrow date band
    into a >=90% row-group skip; the as-generated order gives ~nothing."""
    li = load_table(spark, SF_DIR, "lineitem").select(
        "l_orderkey", "l_shipdate", "l_quantity"
    )
    unsorted = str(tmp_path / "raw")
    sorted_ = str(tmp_path / "bydate")
    # shuffle destroys any incidental date order in the generated file
    li.repartition(16).write.mode("overwrite").parquet(unsorted)
    linear_layout(li, sorted_, ["l_shipdate"])

    lo, hi = li.select(
        F.min("l_shipdate").alias("lo"), F.max("l_shipdate").alias("hi")
    ).first()
    span = (hi - lo).days
    band_lo = lo
    band_hi = lo + type(hi - lo)(days=max(1, span // 20))

    s_sorted = skip_ratio(sorted_, "l_shipdate", band_lo, band_hi)
    s_unsorted = skip_ratio(unsorted, "l_shipdate", band_lo, band_hi)
    assert s_sorted >= 0.85, f"date-sorted layout skipped only {s_sorted}"
    assert s_unsorted <= 0.10, f"shuffled layout skipped {s_unsorted}?"


def test_quantile_rank_survives_skew_minmax_does_not(spark, tmp_path):
    """A handful of 1e9 outliers collapse min/max ranks of the bulk onto
    one value — the z curve loses the skewed dim entirely. Quantile ranks
    (equal row mass per rank) keep it selective."""
    skewed = (
        spark.range(40_000)
        .select(
            (F.col("id") * 2654435761 % 1_000_003 % 200).alias("x"),
            F.when(F.col("id") % 4001 == 0, F.lit(1_000_000_000))
            .otherwise(F.col("id") * 40503 % 999_983 % 100)
            .alias("y"),
        )
    )
    mm = str(tmp_path / "mm")
    qt = str(tmp_path / "qt")
    zorder_layout(skewed, mm, ["x", "y"], rank="minmax")
    zorder_layout(skewed, qt, ["x", "y"], rank="quantile", bits=8)

    s_mm = skip_ratio(mm, "y", 0, 12)   # 1/8 of the bulk's domain
    s_qt = skip_ratio(qt, "y", 0, 12)
    assert s_qt >= 0.4, f"quantile-rank z-order skipped only {s_qt}"
    assert s_qt > s_mm + 0.25, (
        f"quantile ({s_qt}) should clearly beat minmax ({s_mm}) under skew"
    )


def test_quantile_rank_binary_search_counts_boundaries(spark):
    """The per-row quantile rank is the number of boundaries at or below
    the value, in Spark's order (null ranks 0, NaN above every number).
    The binary search must give exactly what a count over every
    boundary gives, ties and non-finite boundaries included."""
    nan, inf = float("nan"), float("inf")
    bits = 4
    bounds = [-inf, -1.0, 0.0, 0.0, 0.0, 2.5, 2.5, 7.0, 9.0, 9.0, 11.0,
              40.0, inf, nan, nan]
    assert len(bounds) == (1 << bits) - 1
    values = [None, nan, inf, -inf, -5.0, -1.0, 0.0, 1.0, 2.5, 3.0, 9.0,
              10.0, 11.0, 39.0, 40.0, 1e9]
    df = spark.createDataFrame([(v,) for v in values], "v double")
    count = F.aggregate(
        F.array(*[F.lit(b) for b in bounds]),
        F.lit(0),
        lambda acc, b: acc + F.when(F.col("v") >= b, 1).otherwise(0),
    )
    rows = df.select(
        count.alias("want"), _scaled_rank_quantile("v", bounds[::-1], bits).alias("got")
    ).collect()
    assert [r.got for r in rows] == [r.want for r in rows]
    assert [r.got for r in rows][:4] == [0, 15, 13, 1]


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
    linear_layout(grid, path, ["x"])
    stats = rowgroup_stats(path, "x")
    assert len(stats) >= 4
    assert sum(n for _, _, n in stats) == 40_000
    # sorted layout => non-overlapping-ish ranges; min of first group is 0
    assert min(mn for mn, _, _ in stats) == 0


def test_zorder_key_guards(spark, grid):
    with pytest.raises(ValueError):
        zorder_key(grid, [], bits=16)
    with pytest.raises(ValueError):
        zorder_key(grid, ["x", "y"], bits=32)  # 64 > 62 key bits
    with pytest.raises(ValueError):
        zorder_key(grid, ["x"], rank="bogus")


def test_zorder_constant_column_is_harmless(spark, tmp_path):
    """A constant dim contributes rank 0 everywhere; layout degrades to
    linear on the varying dim instead of crashing on a zero span."""
    df = (
        spark.range(5_000)
        .select(
            F.lit(7).alias("x"),
            (F.col("id") % 100).alias("y"),
        )
    )
    path = str(tmp_path / "const")
    zorder_layout(df, path, ["x", "y"])
    assert skip_ratio(path, "y", 0, 12) >= 0.5
