"""Sinks (SURVEY.md §2.1 S6-S7): parquet (primary), JDBC, table DDL.

Parquet-first: partitioned by symbol (the reference's composite
(symbol, date) index maps to partition-by-symbol + within-file date order,
src/load.py:87-89). JDBC mirrors the reference's chunked append
(batchsize=1000, src/load.py:239-256) and is import-gated — no Postgres in
the test environment.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_parquet(df: DataFrame, path: str) -> None:
    (
        df.repartition("symbol")
        .sortWithinPartitions("symbol", "date")
        .write.mode("overwrite")
        .partitionBy("symbol")
        .parquet(path)
    )


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    **options: str,
) -> None:
    """S6: chunked JDBC append — a writer-side batchsize of 1000 replaces
    the reference's manual 1000-row chunk loop; 8 write partitions bound
    the concurrent connections so the database isn't overwhelmed
    (SURVEY.md §4)."""
    (
        df.repartition(8)
        .write.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("batchsize", "1000")
        .options(**options)
        .mode("append")
        .save()
    )


def create_table_ddl(
    spark,
    table: str,
    columns: dict[str, str],
    partitioned_by: tuple[str, ...] = (),
    location: str | None = None,
) -> None:
    """S7: explicit CREATE TABLE DDL (reference ``src/load.py:26-92`` issues
    CREATE TABLE + composite index via SQLAlchemy). Spark analog: a parquet
    table in the catalog, optionally external (LOCATION) and partitioned —
    partition columns play the index role (partition pruning at scan)."""
    cols = ", ".join(
        f"{name} {dtype}" for name, dtype in columns.items()
        if name not in partitioned_by
    )
    ddl = f"CREATE TABLE IF NOT EXISTS {table} ({cols}) USING PARQUET"
    if partitioned_by:
        parts = ", ".join(
            f"{name} {columns[name]}" for name in partitioned_by
        )
        ddl += f" PARTITIONED BY ({parts})"
    if location:
        ddl += f" LOCATION '{location}'"
    spark.sql(ddl)
