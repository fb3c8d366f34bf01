"""The one scaffold every streaming maintainer runs on.

Each ``start_*`` in this package is a batch body handed to a
``foreachBatch`` sink under an availableNow trigger: the query drains
whatever has landed, in micro-batches, records its progress in the
checkpoint, and stops. That is the streaming form of the reference's
daily rerun over overlapping recent history (``scheduler.py:110``,
``src/load.py:252``). Trigger and checkpoint policy live here, once;
the maintainers only say what a batch does (Structured Streaming,
SIGMOD 2018: the engine, not each query, owns execution policy).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery


def drain(
    stream: DataFrame,
    checkpoint_dir: str,
    on_batch: Callable[[DataFrame, int], None],
) -> StreamingQuery:
    """Run ``on_batch(batch_df, batch_id)`` over every micro-batch of
    ``stream`` until the available input is drained, with offsets and
    commits in ``checkpoint_dir``. Empty batches reach ``on_batch`` too:
    whether they do anything is the batch body's decision. Returns the
    started query; callers await ``query.awaitTermination()``."""
    return (
        stream.writeStream.foreachBatch(on_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def parquet_landing(spark: SparkSession, landing_dir: str) -> DataFrame:
    """File stream over a parquet landing directory. A file stream needs
    its schema up front, so it is read from the files already there."""
    schema = spark.read.parquet(landing_dir).schema
    return spark.readStream.schema(schema).parquet(landing_dir)
