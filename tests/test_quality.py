"""Data-quality suite tests (§2.8): one-pass conditional aggregates,
mostly-thresholds, compound uniqueness, ≥90% gate."""

import pytest
from pyspark.sql import functions as F

from stock_market_etl_pipeline_spark.operators.clean import clean_quotes
from stock_market_etl_pipeline_spark.plans.quality import (
    run_quality_suite,
    stock_quality_checks,
    validation_aggregates,
)


@pytest.fixture(scope="module")
def cleaned(raw_quotes):
    from stock_market_etl_pipeline_spark.operators.enrich import enrich

    return enrich(clean_quotes(raw_quotes).drop("extracted_at", "data_source")).cache()


def test_clean_data_passes_suite(cleaned):
    ok, rate, results = run_quality_suite(cleaned, stock_quality_checks())
    assert ok
    assert rate == 1.0
    # 4 exists + 3 not-null + 4 range + volume + change + high>low + unique
    assert len(results) == 15
    names = {r.name for r in results}
    assert "compound_unique_symbol_date" in names


def test_mostly_threshold_allows_outliers(spark):
    # 96 in-range + 4 outliers = 96% >= mostly 0.95
    rows = [("S", f"2024-01-{i%28+1:02d}", 10.0) for i in range(96)]
    rows += [("S", f"2024-02-{i+1:02d}", 99.0) for i in range(4)]
    df = spark.createDataFrame(rows, "symbol string, date string, v double")
    from stock_market_etl_pipeline_spark.plans.quality import Check, _fraction

    checks = [Check("v_mostly", _fraction(F.col("v").between(-50, 50)), mostly=0.95)]
    ok, rate, results = run_quality_suite(df, checks)
    assert results[0].success
    assert results[0].pass_fraction == pytest.approx(0.96)


def test_duplicate_keys_fail_uniqueness(spark):
    df = spark.createDataFrame(
        [("A", "2024-01-01", 1.0), ("A", "2024-01-01", 2.0)],
        "symbol string, date string, close double",
    )
    ok, rate, results = run_quality_suite(df, [])
    assert not ok
    assert not results[0].success


def test_validation_aggregates_zero_violations(cleaned):
    row = validation_aggregates(cleaned).collect()[0]
    assert row["null_symbol"] == 0
    assert row["high_lt_low"] == 0
    assert row["duplicate_keys"] == 0
    assert row["total_rows"] == 35
