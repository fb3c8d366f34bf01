"""IO sink tests: partitioned parquet roundtrip, bucketed-table co-located
join (no Exchange in the joined plan)."""

import io
import contextlib

from pyspark.sql import functions as F

from stock_market_etl_pipeline_spark.io_sink import write_bucketed, write_parquet
from stock_market_etl_pipeline_spark.sources.ticks import ticks

from conftest import SF_DIR


def test_partitioned_parquet_roundtrip(spark, tmp_path):
    t = ticks(spark, SF_DIR)
    path = str(tmp_path / "ticks_pq")
    write_parquet(t, path)
    back = spark.read.parquet(path)
    assert back.count() == t.count()
    assert set(back.columns) == set(t.columns)
    # partition pruning: the symbol predicate must land in the scan's
    # PartitionFilters (directory-level pruning — at 100 TB this is the
    # difference between reading one partition dir and the whole dataset),
    # NOT survive as a post-scan Filter over all partitions
    one = back.filter(F.col("symbol") == 1)
    plan = one._jdf.queryExecution().executedPlan().toString()
    import re as _re

    m = _re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "= 1" in m.group(1), plan
    assert one.count() > 0


def test_bucketed_join_skips_exchange(spark, tmp_path):
    t = ticks(spark, SF_DIR)
    write_bucketed(t.select("symbol", "date", "close"), "t_close",
                   bucket_by="symbol")
    write_bucketed(t.select("symbol", "date", "volume"), "t_vol",
                   bucket_by="symbol")
    a = spark.table("t_close")
    b = spark.table("t_vol").groupBy("symbol").agg(F.sum("volume").alias("v"))
    joined = a.join(b, "symbol")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        joined.explain("formatted")
    plan = buf.getvalue()
    # bucketed layout satisfies the join's clustering: no shuffle exchange
    # (BroadcastExchange may appear if the agg side broadcasts; forbid
    # shuffle exchanges specifically)
    assert "Exchange hashpartitioning" not in plan
    assert joined.count() == a.count()
    spark.sql("DROP TABLE IF EXISTS t_close")
    spark.sql("DROP TABLE IF EXISTS t_vol")


def test_merge_schema_reads_evolved_columns(spark, tmp_path):
    from stock_market_etl_pipeline_spark.sources.tables import (
        read_parquet_evolving,
    )

    path = str(tmp_path / "evolving")
    spark.createDataFrame([(1, 10.0)], "id long, close double").write.mode(
        "append"
    ).parquet(path)
    spark.createDataFrame(
        [(2, 20.0, "NASDAQ")], "id long, close double, exchange string"
    ).write.mode("append").parquet(path)

    df = read_parquet_evolving(spark, path)
    assert set(df.columns) == {"id", "close", "exchange"}
    rows = {r["id"]: r["exchange"] for r in df.collect()}
    assert rows == {1: None, 2: "NASDAQ"}


def test_create_table_ddl_and_insert(spark, tmp_path):
    from stock_market_etl_pipeline_spark.io_sink import create_table_ddl

    spark.sql("DROP TABLE IF EXISTS quotes_ddl")
    create_table_ddl(
        spark,
        "quotes_ddl",
        {"symbol": "BIGINT", "date": "DATE", "close": "DOUBLE"},
        partitioned_by=("symbol",),
    )
    # insertInto is positional: non-partition columns first, partition last
    t = ticks(spark, SF_DIR).select("date", "close", "symbol").limit(50)
    t.write.mode("append").insertInto("quotes_ddl")
    got = spark.table("quotes_ddl")
    assert got.count() == 50
    # partition column registered -> partition pruning available
    parts = spark.sql("SHOW PARTITIONS quotes_ddl").collect()
    assert len(parts) >= 1
    spark.sql("DROP TABLE quotes_ddl")


def test_retain_recent_drops_old_rows(spark, tmp_path):
    from stock_market_etl_pipeline_spark.io_sink import retain_recent

    sink = str(tmp_path / "retain")
    df = spark.createDataFrame(
        [("A", f"2024-01-{d:02d}", float(d)) for d in range(1, 21)],
        "symbol string, date string, close double",
    ).select("symbol", F.to_date("date").alias("date"), "close")
    df.write.partitionBy("symbol").parquet(sink)
    n = retain_recent(spark, sink, cutoff_date="2024-01-11")
    assert n == 10
    out = spark.read.parquet(sink)
    assert out.count() == 10
    assert out.agg(F.min("date")).collect()[0][0].isoformat() == "2024-01-11"


def test_retain_recent_full_expiry(spark, tmp_path):
    """A cutoff beyond every row is a normal outcome (0 retained), not a
    crash: the zero-row partitioned rewrite has no files to infer a schema
    from, so the count must use the known schema."""
    from stock_market_etl_pipeline_spark.io_sink import retain_recent

    sink = str(tmp_path / "retain_all")
    df = spark.createDataFrame(
        [("A", "2024-01-01", 1.0), ("B", "2024-01-02", 2.0)],
        "symbol string, date string, close double",
    ).select("symbol", F.to_date("date").alias("date"), "close")
    df.write.partitionBy("symbol").parquet(sink)
    n = retain_recent(spark, sink, cutoff_date="2025-01-01")
    assert n == 0


def test_merge_upsert_keep_last(spark, tmp_path):
    from stock_market_etl_pipeline_spark.io_sink import merge_upsert_parquet

    sink = str(tmp_path / "merged")
    day1 = spark.createDataFrame(
        [("A", "2024-01-01", 10.0, 1), ("A", "2024-01-02", 11.0, 1),
         ("B", "2024-01-01", 5.0, 1)],
        "symbol string, date string, close double, batch int",
    )
    n1 = merge_upsert_parquet(spark, sink, day1, keys=["symbol", "date"],
                              order_by=["batch"])
    assert n1 == 3

    # overlapping refetch: corrected close for A/01-02 + one new day
    day2 = spark.createDataFrame(
        [("A", "2024-01-02", 99.0, 2), ("A", "2024-01-03", 12.0, 2)],
        "symbol string, date string, close double, batch int",
    )
    n2 = merge_upsert_parquet(spark, sink, day2, keys=["symbol", "date"],
                              order_by=["batch"])
    assert n2 == 4
    got = {
        (r["symbol"], r["date"]): r["close"]
        for r in spark.read.parquet(sink).collect()
    }
    assert got[("A", "2024-01-02")] == 99.0   # later batch wins
    assert got[("A", "2024-01-01")] == 10.0   # untouched rows survive
    assert ("A", "2024-01-03") in got


def test_bucketed_corpus_fingerprints_anti_join_shuffles_only_the_batch(spark):
    """The dedup_incremental scale story made concrete: with the corpus
    fingerprint set persisted as a table bucketed on the digest, the
    steady-state anti-join hashes ONLY the incoming batch — the corpus
    side reads bucket-aligned with no exchange."""
    from conftest import SF_DIR

    from stock_market_etl_pipeline_spark.functions.text import (
        normalized_fingerprint,
    )
    from stock_market_etl_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, SF_DIR, "documents")
    corpus_fp = (
        docs.filter(F.col("doc_id") % 5 != 0)
        .select(normalized_fingerprint(F.col("text")).alias("fp"))
        .distinct()
    )
    write_bucketed(corpus_fp, "corpus_fp_bucketed", bucket_by="fp")
    try:
        stored = spark.table("corpus_fp_bucketed")
        batch = docs.filter(F.col("doc_id") % 5 == 0).select(
            "doc_id", normalized_fingerprint(F.col("text")).alias("fp")
        )
        # merge-hint both sides: at test scale the tiny corpus would
        # broadcast (also exchange-free, but that proves nothing about
        # the bucketed layout); at 100 TB the corpus cannot broadcast and
        # the sort-merge path below is the one that runs
        admitted = batch.hint("merge").join(
            stored.hint("merge"), "fp", "left_anti"
        )
        full = admitted._jdf.queryExecution().executedPlan().toString()
        # AQE toString repeats the tree under "== Initial Plan =="; count
        # exchanges in the current plan section only
        plan = full.split("== Initial Plan ==")[0]
        # exactly one exchange: the batch side; the bucketed corpus scan
        # satisfies the join's distribution requirement from storage
        assert plan.count("Exchange hashpartitioning") == 1, plan
        assert "Bucketed: true" in plan
        assert "SortMergeJoin" in plan and "LeftAnti" in plan
        assert admitted.count() > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS corpus_fp_bucketed")
