"""Sinks (SURVEY.md §2.1 S6-S7): parquet (primary), JDBC, bucketed tables.

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


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_by: str,
) -> None:
    """Bucketed managed table (16 buckets): pre-shuffled storage layout so
    repeated joins/aggregations on the bucket key skip the exchange entirely —
    the storage-level answer to 'this join shuffles every run' at 100 TB.
    Requires a metastore-backed saveAsTable (works with the default local
    warehouse)."""
    (df.write.mode("overwrite").bucketBy(16, bucket_by)
     .format("parquet").saveAsTable(table))


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


def retain_recent(
    spark,
    path: str,
    cutoff_date: str,
) -> int:
    """Retention sweep (VACUUM analog for a raw-parquet sink): rewrite the
    symbol-partitioned dataset keeping only rows with ``date`` >=
    cutoff_date, then swap directories atomically (same pattern as
    compact_parquet). With a table format this is `DELETE WHERE` +
    VACUUM; on raw parquet the rewrite is the portable fallback. The
    cutoff is an explicit parameter — retention policy belongs to the
    caller, not a wall clock buried in the engine.
    Returns the retained row count (parquet footer metadata, no rescan)."""
    import shutil
    import uuid

    from pyspark.sql import functions as F

    df = spark.read.parquet(path).filter(F.col("date") >= F.lit(cutoff_date))
    tmp = f"{path}__retain_{uuid.uuid4().hex[:8]}"
    df.write.mode("overwrite").partitionBy("symbol").parquet(tmp)
    # full-expiry case: a zero-row partitioned write leaves only _SUCCESS, so
    # a schemaless read of tmp would fail ('Unable to infer schema') before
    # the swap; reading with the known schema makes count-0 a normal result
    n = spark.read.schema(df.schema).parquet(tmp).count()
    shutil.rmtree(path)
    shutil.move(tmp, path)
    return n


def compact_parquet(spark, path: str, target_partitions: int) -> None:
    """Small-files compaction: rewrite a parquet dataset into
    target_partitions files.
    At 100 TB, streaming/append sinks accrete small files that destroy scan
    parallelism economics (one task per tiny file); periodic compaction
    restores ~maxPartitionBytes-sized splits. Writes to a temp subdir then
    swaps, so a failed compaction never corrupts the dataset."""
    import shutil
    import uuid

    df = spark.read.parquet(path)
    tmp = f"{path}__compact_{uuid.uuid4().hex[:8]}"
    df.repartition(target_partitions).write.mode("overwrite").parquet(tmp)
    shutil.rmtree(path)
    shutil.move(tmp, path)


def merge_upsert_parquet(
    spark,
    sink_path: str,
    updates: "DataFrame",
    keys: list[str],
    order_by: list[str],
) -> int:
    """Batch MERGE (upsert) into a symbol-partitioned parquet dataset: union
    existing + updates, keep-last per key by order_by, atomically swap
    directories. The batch half of the reference's daily append+dedup
    cycle (the streaming half is streaming/ingest.py). With a table
    format (Delta/Iceberg) this becomes a real MERGE INTO; on raw parquet
    the rewrite is the portable fallback.
    Returns the merged row count."""
    import os
    import shutil
    import uuid

    from .operators.clean import dedup_keep_last

    if os.path.exists(sink_path):
        existing = spark.read.parquet(sink_path)
        combined = existing.unionByName(updates, allowMissingColumns=True)
    else:
        combined = updates
    merged = dedup_keep_last(combined, keys=keys, order_by=order_by)
    tmp = f"{sink_path}__merge_{uuid.uuid4().hex[:8]}"
    (
        merged.repartition("symbol")
        .write.mode("overwrite")
        .partitionBy("symbol")
        .parquet(tmp)
    )
    # count() on the freshly-written parquet is metadata-only: Spark's
    # count pushdown reads row counts from file footers, no data scan —
    # cheaper than persisting `merged` just to count it
    n = spark.read.parquet(tmp).count()
    if os.path.exists(sink_path):
        shutil.rmtree(sink_path)
    shutil.move(tmp, sink_path)
    return n
