"""The one scaffold every streaming maintainer runs on.

Each ``start_*`` in this package is a batch body handed to a
``foreachBatch`` sink under an availableNow trigger: the query drains
whatever has landed, in micro-batches, records its progress in the
checkpoint, and stops. That is the streaming form of the reference's
daily rerun over overlapping recent history (``scheduler.py:110``,
``src/load.py:252``). Trigger and checkpoint policy live here, once;
the maintainers only say what a batch does (Structured Streaming,
SIGMOD 2018: the engine, not each query, owns execution policy).

That policy includes the width a batch body runs at. Spark plans a
stateful streaming query on a clone of the session with AQE off, so its
stateful operators keep the partition count stored in the checkpoint,
and each ``foreachBatch`` body inherits that clone. ``drain`` runs each body with
the caller's ``spark.sql.adaptive.enabled`` instead and puts the clone's
own value back afterwards. The body plans on top of the batch Spark has
already planned (an ``ExistingRDD`` scan), so its own shuffles coalesce
to the rows a micro-batch carries, and the stateful exchange of the next
micro-batch is planned as before.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

_AQE = "spark.sql.adaptive.enabled"


def drain(
    stream: DataFrame,
    checkpoint_dir: str,
    on_batch: Callable[[DataFrame, int], None],
) -> StreamingQuery:
    """Run ``on_batch(batch_df, batch_id)`` over every micro-batch of
    ``stream`` until the available input is drained, with offsets and
    commits in ``checkpoint_dir``. Empty batches reach ``on_batch`` too:
    whether they do anything is the batch body's decision. Returns the
    started query; callers await ``query.awaitTermination()``.

    The body runs with the caller's ``spark.sql.adaptive.enabled`` (see
    the module docstring); the stream's own session gets its value back
    before the next micro-batch is planned."""
    adaptive = stream.sparkSession.conf.get(_AQE)

    def run_batch(batch_df: DataFrame, batch_id: int) -> None:
        conf = batch_df.sparkSession.conf
        own = conf.get(_AQE)
        conf.set(_AQE, adaptive)
        try:
            on_batch(batch_df, batch_id)
        finally:
            conf.set(_AQE, own)

    return (
        stream.writeStream.foreachBatch(run_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def parquet_landing(spark: SparkSession, landing_dir: str) -> DataFrame:
    """File stream over a parquet landing directory. A file stream needs
    its schema up front, so it is read from the files already there."""
    schema = spark.read.parquet(landing_dir).schema
    return spark.readStream.schema(schema).parquet(landing_dir)


def _read_store_if_exists(spark: SparkSession, store_dir: str):
    """Read a maintained parquet store, or None iff the path does not
    exist yet (first batch). Any OTHER read failure (FS hiccup,
    permissions, corrupt footer) must propagate and fail the micro-batch
    so the checkpoint retries — swallowing it would let the batch body
    overwrite the touched partitions from the batch alone and
    permanently lose history."""
    try:
        return spark.read.parquet(store_dir)
    except AnalysisException as e:
        getter = getattr(e, "getCondition", None) or getattr(
            e, "getErrorClass", lambda: None
        )
        if getter() == "PATH_NOT_FOUND":
            return None
        raise


def overwrite_partitions(df: DataFrame, store_dir: str, *cols: str) -> None:
    """Write ``df`` into ``store_dir`` partitioned by ``cols``, replacing
    only the partitions ``df`` has rows for (dynamic partition
    overwrite). Rewriting a partition from the same rows gives the same
    partition, so a replayed batch is a no-op: the idempotent sink
    foreachBatch needs for exactly-once."""
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*cols)
        .parquet(store_dir)
    )


def recompute_touched(
    spark: SparkSession,
    batch_df: DataFrame,
    landing_dir: str,
    key: Column,
    rebuild: Callable[[DataFrame], DataFrame],
    store_dir: str,
    *cols: str,
) -> None:
    """Touched-key recompute, the batch body of the maintainers whose
    aggregate cannot be merged from the batch alone:

    1. collect the distinct ``key`` values the batch touches (bounded:
       touched partitions, never rows);
    2. re-read the rows with those keys from the landing table (the
       source of truth), so a partition that receives rows across many
       batches, late or out of order, is still recomputed whole;
    3. ``rebuild`` them and swap the result in with
       :func:`overwrite_partitions` on ``cols``.

    Re-running a batch recomputes the same partitions from the same
    source, so the sink is idempotent."""
    touched = [r[0] for r in batch_df.select(key).distinct().collect()]
    if not touched:
        return
    src = spark.read.parquet(landing_dir).filter(key.isin(touched))
    overwrite_partitions(rebuild(src), store_dir, *cols)
