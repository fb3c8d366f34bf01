"""Enrichment tests in the reference's recompute-the-oracle style
(tests/test_transform.py:39-54): recompute lag/rolling features with plain
Python over the fixture and compare, plus the SURVEY.md §7 semantic
gotchas (dayofweek remap, NaN→False booleans, 1-row stddev, shrinking
rolling head, volatility bucket boundaries)."""

import datetime as dt
import math

import pytest
from pyspark.sql import functions as F

from stock_market_etl_pipeline_spark.functions.stock import categorize_volatility
from stock_market_etl_pipeline_spark.operators.clean import clean_quotes
from stock_market_etl_pipeline_spark.operators.enrich import enrich


@pytest.fixture(scope="module")
def enriched(raw_quotes):
    return enrich(clean_quotes(raw_quotes).drop("extracted_at", "data_source")).cache()


def rows_for(enriched, symbol):
    return sorted(
        enriched.filter(F.col("symbol") == symbol).collect(),
        key=lambda r: r["date"],
    )


def test_daily_change_recomputed(enriched):
    rows = rows_for(enriched, "AAPL")
    assert rows[0]["daily_change"] is None
    for prev, cur in zip(rows, rows[1:]):
        assert cur["daily_change"] == pytest.approx(cur["close"] - prev["close"])
        assert cur["daily_change_percent"] == pytest.approx(
            (cur["close"] / prev["close"] - 1) * 100
        )


def test_moving_average_shrinking_head(enriched):
    rows = rows_for(enriched, "AAPL")
    closes = [r["close"] for r in rows]
    for i, r in enumerate(rows):
        win5 = closes[max(0, i - 4): i + 1]
        assert r["ma_5"] == pytest.approx(sum(win5) / len(win5))
        win20 = closes[max(0, i - 19): i + 1]
        assert r["ma_20"] == pytest.approx(sum(win20) / len(win20))


def test_volatility_first_row_null_then_sample_std(enriched):
    rows = rows_for(enriched, "AAPL")
    # row 0: 1-element frame of a null change -> null; row 1: single non-null
    # value -> sample stddev of 1 obs -> null (pandas ddof=1 NaN)
    assert rows[0]["volatility_indicator"] is None
    assert rows[1]["volatility_indicator"] is None
    changes = [r["daily_change_percent"] for r in rows]
    for i in range(2, len(rows)):
        vals = [v for v in changes[max(0, i - 19): i + 1] if v is not None]
        mean = sum(vals) / len(vals)
        std = math.sqrt(sum((v - mean) ** 2 for v in vals) / (len(vals) - 1))
        assert rows[i]["volatility_indicator"] == pytest.approx(std)


def test_single_row_symbol_semantics(enriched):
    one = rows_for(enriched, "ONE")[0]
    assert one["daily_change"] is None
    assert one["ma_5"] == one["close"]
    assert one["volatility_indicator"] is None
    assert one["volatility_category"] == "Unknown"
    # pandas NaN > 0 is False -> both indicators False, not null
    assert one["is_positive_day"] is False
    assert one["is_negative_day"] is False


def test_day_of_week_pandas_convention(enriched):
    for r in rows_for(enriched, "MSFT"):
        assert r["day_of_week"] == r["date"].weekday()  # 0=Monday
        iso = r["date"].isocalendar()
        assert r["week_of_year"] == iso[1]
        assert r["quarter"] == (r["date"].month - 1) // 3 + 1


def test_price_range_identity(enriched):
    for r in rows_for(enriched, "AAPL"):
        assert r["price_range"] == pytest.approx(r["high"] - r["low"])


def test_volatility_bucket_boundaries(spark):
    df = spark.createDataFrame(
        [(0.5,), (1.0,), (1.99,), (2.0,), (3.49,), (3.5,), (4.99,), (5.0,), (None,)],
        "v double",
    )
    got = [
        r["c"]
        for r in df.select(categorize_volatility(F.col("v")).alias("c")).collect()
    ]
    assert got == [
        "Very Low", "Low", "Low", "Medium", "Medium", "High", "High",
        "Very High", "Unknown",
    ]


def test_volume_quartile_categories(enriched):
    # AAPL volumes strictly ascending -> quartile buckets by position
    rows = rows_for(enriched, "AAPL")
    cats = [r["volume_category"] for r in rows]
    assert cats[0] == "Low" and cats[-1] == "Very High"
    order = {"Low": 0, "Medium": 1, "High": 2, "Very High": 3}
    assert [order[c] for c in cats] == sorted(order[c] for c in cats)
    # quartiles of 25 ascending values: 6 rows per lowest bucket boundary
    assert cats.count("Low") == 7  # ranks 1..7 (<= Q1 with linear interp)


def test_enriched_date(enriched):
    assert rows_for(enriched, "ONE")[0]["date"] == dt.date(2024, 1, 1)


def test_approx_quartile_bucket_agreement_with_exact(spark):
    """The executable exact→approx percentile switch (VERDICT r4 #4):
    ``enrich(quartiles='approx')`` must agree with the exact path on the
    bucket LABEL for all but the rank-error band around each quartile
    boundary. On the real ticks table (sf0.001: ~100 symbols × ~530 rows,
    accuracy 10000 ⇒ rank error < 1 row per symbol) the only possible
    flips are rows sitting exactly between the interpolated exact
    quartile and the nearest-data-point approx quartile — ≤ 1 row per
    boundary per symbol, so ≥ 99% agreement overall. Non-bucket columns
    must be IDENTICAL (the switch touches only the quartile source)."""
    from conftest import SF_DIR

    from stock_market_etl_pipeline_spark.sources.ticks import ticks

    t = ticks(spark, SF_DIR)
    exact = enrich(t).select("symbol", "date", "volume", "volume_category")
    approx = enrich(t, quartiles="approx").select(
        "symbol", "date", "volume", "volume_category"
    )
    e = {(r["symbol"], r["date"]): r for r in exact.collect()}
    a = {(r["symbol"], r["date"]): r for r in approx.collect()}
    assert set(e) == set(a)  # same rows, same keys
    n = len(e)
    agree = sum(
        1
        for k in e
        if e[k]["volume_category"] == a[k]["volume_category"]
    )
    assert agree / n >= 0.99, (agree, n)
    # every disagreement must be an ADJACENT bucket (a boundary flip),
    # never a two-bucket jump
    order = {"Low": 0, "Medium": 1, "High": 2, "Very High": 3}
    for k in e:
        d = abs(order[e[k]["volume_category"]] - order[a[k]["volume_category"]])
        assert d <= 1, (k, e[k]["volume_category"], a[k]["volume_category"])


def test_clean_enrich_invariant_to_partitions_and_aqe(spark):
    """enrich(clean_quotes(raw)) gives the same rows whatever the shuffle
    width and whether AQE re-plans the exchange, and keep-last picks the
    latest extracted_at among revised duplicates. The dedup and every
    enrich window share clean_quotes' one hash(symbol) exchange, so a
    width or AQE change that split a symbol across tasks, or ordered a
    revision after its original, would show here."""
    from stock_market_etl_pipeline_spark.schema import RAW_QUOTE_SCHEMA

    from conftest import make_raw_rows

    t0 = dt.datetime(2024, 6, 1, 12, 0, 0)
    rows = []
    for i, sym in enumerate(["AAA", "BBB", "CCC", "DDD", "EEE"]):
        rows += make_raw_rows(sym, 30, base=100.0 + 50 * i)
    latest = {}
    for i, sym in enumerate(["AAA", "CCC", "EEE"]):
        for day in (0, 7, 29):
            d = (dt.date(2024, 1, 1) + dt.timedelta(days=day)).isoformat()
            close = 120.0 + 50 * i + day
            # the latest revision sits between the original and an older
            # one in input order, so input order cannot pick it
            rows += [
                (sym, d, str(close), str(close + 9), str(close - 9),
                 str(close), "777", t0 + dt.timedelta(days=2), "latest"),
                (sym, d, str(close), str(close + 9), str(close - 9),
                 str(close + 1), "555", t0 + dt.timedelta(days=1), "older"),
            ]
            latest[(sym, dt.date.fromisoformat(d))] = close
    raw = spark.createDataFrame(rows, RAW_QUOTE_SCHEMA)

    keys = ("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
    saved = {k: spark.conf.get(k) for k in keys}
    results = {}
    try:
        for parts in (1, 7):
            for aqe in ("true", "false"):
                spark.conf.set(keys[0], str(parts))
                spark.conf.set(keys[1], aqe)
                out = enrich(
                    clean_quotes(raw).drop("extracted_at", "data_source")
                ).collect()
                results[(parts, aqe)] = sorted(
                    out, key=lambda r: (r["symbol"], r["date"])
                )
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)

    first = results[(1, "true")]
    assert len(first) == 5 * 30
    for cfg, got in results.items():
        assert got == first, cfg
    by_key = {(r["symbol"], r["date"]): r for r in first}
    for key, close in latest.items():
        assert by_key[key]["close"] == close, key
        assert by_key[key]["volume"] == 777, key
