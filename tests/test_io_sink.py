"""IO sink tests: partitioned parquet roundtrip with partition pruning,
and the CREATE TABLE DDL."""

from pyspark.sql import functions as F

from stock_market_etl_pipeline_spark.io_sink import write_parquet
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
