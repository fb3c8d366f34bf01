"""JDBC round-trip against embedded Derby (S6, S8-S10).

No external database exists in the test environment, but Spark ships the
Derby embedded engine for its Hive metastore — a real JDBC write + read
path end-to-end: chunked append (batchsize), projection/limit pushdown,
and a partitioned parallel scan. This is the same code path a Postgres
deployment runs; only the URL/dialect differs.
"""

import pytest
from pyspark.sql import functions as F

from stock_market_etl_pipeline_spark.io_sink import write_jdbc
from stock_market_etl_pipeline_spark.sources.jdbc import read_jdbc

DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"


@pytest.fixture(scope="module")
def derby_url(tmp_path_factory):
    db = tmp_path_factory.mktemp("derby") / "testdb"
    return f"jdbc:derby:{db};create=true"


@pytest.fixture(scope="module")
def quotes_in_db(spark, derby_url):
    df = spark.range(100).select(
        F.col("id").alias("symbol_id"),
        (F.col("id") % 10).alias("bucket"),
        (F.lit(100.0) + F.col("id")).alias("close"),
    )
    write_jdbc(df, derby_url, "quotes", driver=DRIVER)
    return derby_url


def test_jdbc_write_read_roundtrip(spark, quotes_in_db):
    out = read_jdbc(spark, quotes_in_db, "quotes", driver=DRIVER)
    assert out.count() == 100
    assert {r["symbol_id"] for r in out.collect()} == set(range(100))


def test_jdbc_projection_and_filter_pushdown(spark, quotes_in_db):
    out = read_jdbc(spark, quotes_in_db, "quotes", driver=DRIVER).select(
        "symbol_id"
    ).filter(F.col("symbol_id") < 10)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the JDBC scan ships the predicate and prunes the projection: only
    # symbol_id reaches the database query
    assert "LessThan(symbol_id,10)" in plan
    assert "ReadSchema: struct<symbol_id:bigint>" in plan
    assert out.count() == 10


def test_jdbc_partitioned_parallel_scan(spark, quotes_in_db):
    out = read_jdbc(
        spark, quotes_in_db, "quotes",
        partition_column="symbol_id", lower_bound=0, upper_bound=100,
        num_partitions=4, driver=DRIVER,
    )
    assert out.rdd.getNumPartitions() == 4
    assert out.count() == 100


def test_jdbc_limit_pushdown(spark, quotes_in_db):
    out = read_jdbc(spark, quotes_in_db, "quotes", driver=DRIVER).limit(7)
    assert out.count() == 7
