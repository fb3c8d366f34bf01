"""Cleaning-stage tests: every dirty-row case from FIXTURES.md §1
(reference cleaning rules src/transform.py:167-204)."""

import pytest
from pyspark.sql import functions as F

from stock_market_etl_pipeline_spark.operators.clean import (
    clean_quotes,
    dedup_keep_last,
)


@pytest.fixture(scope="module")
def cleaned(raw_quotes):
    return clean_quotes(raw_quotes).cache()


def test_all_bad_rows_removed(cleaned):
    assert cleaned.filter(F.col("symbol") == "BAD").count() == 0


def test_clean_symbols_survive(cleaned):
    counts = {
        r["symbol"]: r["n"]
        for r in cleaned.groupBy("symbol").agg(F.count("*").alias("n")).collect()
    }
    assert counts["AAPL"] == 25
    assert counts["MSFT"] == 8
    assert counts["ONE"] == 1


def test_types_after_cast(cleaned):
    types = dict(cleaned.dtypes)
    assert types["open"] == "double"
    assert types["volume"] == "bigint"
    assert types["date"] == "date"


def test_dedup_keeps_later_extracted_at(cleaned):
    dup = cleaned.filter(F.col("symbol") == "DUP").collect()
    assert len(dup) == 1
    assert dup[0]["close"] == 13.0
    assert dup[0]["data_source"] == "second"


def test_dedup_keep_last_tiebreak(spark):
    df = spark.createDataFrame(
        [(1, "a", 1, 10.0), (1, "a", 2, 20.0), (1, "b", 3, 30.0)],
        "k int, g string, ord int, v double",
    )
    out = dedup_keep_last(df, keys=["k", "g"], order_by=["ord"]).collect()
    got = {(r["k"], r["g"]): r["v"] for r in out}
    assert got == {(1, "a"): 20.0, (1, "b"): 30.0}
