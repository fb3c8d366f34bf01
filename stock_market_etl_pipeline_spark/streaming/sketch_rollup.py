"""Incrementally-maintained HLL sketch table: streaming distinct-count
rollups without ever rescanning history.

`streaming/rollup.py` maintains exact aggregates by partition-level
RECOMPUTE from the landing table (correct for any aggregate, but each
refresh re-reads the touched partitions from the source of truth). A
sketch rollup can do strictly better: HLL union is register-wise max —
associative, commutative, and **idempotent** — so maintenance is PURE
MERGE: per micro-batch, sketch the batch, union it into the stored
per-(key, day) sketch, rewrite only the touched day-partitions. History
is never rescanned; each batch costs O(batch + touched sketches).

Idempotence is the load-bearing property: re-unioning the SAME batch
sketch is a no-op (max(max(a,b), b) = max(a,b)), so batch replay after a
crash between sink-write and checkpoint-commit converges to the same
registers — the sketch sink gets its exactly-once story from the algebra
instead of from transactional machinery (contrast the dedup gate the
exact-parquet sink needs in streaming/ingest.py). The replay test in
tests/test_streaming_sketch.py re-runs a batch deliberately and asserts
byte-level convergence.

The reference has no streaming or sketch surface (reference
``src/pipeline.py`` recomputes exact aggregates per scheduled batch);
this composes the engine's streaming story with operators/sketches.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.sketches import DEFAULT_LGK, kll_daily_rollup
from .drive import (
    _read_store_if_exists,
    drain,
    overwrite_partitions,
    parquet_landing,
    recompute_touched,
)


def sketch_batch(
    df: DataFrame, key_cols: list[str], day_col: str, value_col: str,
) -> DataFrame:
    """(keys, day, hll) for one batch of rows."""
    return df.groupBy(*key_cols, F.to_date(day_col).alias("day")).agg(
        F.hll_sketch_agg(value_col, F.lit(DEFAULT_LGK)).alias("hll")
    )


def merge_into_store(
    spark: SparkSession,
    batch_sk: DataFrame,
    sketch_dir: str,
    key_cols: list[str],
    sketch_col: str = "hll",
    union_agg=None,
) -> None:
    """Union a batch's sketches into the persisted sketch table, touching
    only the day-partitions the batch hit. The merged frame is
    localCheckpoint'd before the write because it reads from the same
    path it overwrites (dynamic partition overwrite cannot read its own
    target mid-write); the materialization is tiny — sketches for the
    touched days only.

    ``union_agg`` is the mergeable union aggregate for ``sketch_col``
    (default: HLL register-max). Pure-merge maintenance is only correct
    for IDEMPOTENT unions (HLL register max, theta retained-hash-set
    union) — see start_quantile_sketch_rollup's docstring for why KLL
    must NOT go through this path."""
    if union_agg is None:
        union_agg = lambda c: F.hll_union_agg(c, F.lit(False))  # noqa: E731
    stored = _read_store_if_exists(spark, sketch_dir)

    if stored is not None:
        days = [r["day"] for r in batch_sk.select("day").distinct().collect()]
        relevant = stored.filter(F.col("day").isin(days))
        merged = (
            relevant.unionByName(batch_sk)
            .groupBy(*key_cols, "day")
            .agg(union_agg(sketch_col).alias(sketch_col))
            .localCheckpoint()
        )
    else:
        merged = batch_sk
    overwrite_partitions(merged, sketch_dir, "day")


def start_distinct_sketch_rollup(
    spark: SparkSession,
    landing_dir: str,
    sketch_dir: str,
    checkpoint_dir: str,
    key_cols: list[str],
    day_col: str,
    value_col: str,
):
    """Maintain ``sketch_dir`` (parquet partitioned by day) as an
    incrementally-merged HLL sketch table over the rows landing in
    ``landing_dir``. Returns the started StreamingQuery (availableNow)."""

    def refresh(batch_df: DataFrame, batch_id: int) -> None:
        batch_sk = sketch_batch(batch_df, key_cols, day_col, value_col)
        if not batch_sk.take(1):
            return
        merge_into_store(spark, batch_sk, sketch_dir, key_cols)

    return drain(parquet_landing(spark, landing_dir), checkpoint_dir, refresh)


def distinct_estimates(
    spark: SparkSession, sketch_dir: str, key_cols: list[str]
) -> DataFrame:
    """Answer "distinct per key over all history" from the sketch table
    alone — merge the per-day sketches, never touching the landing data."""
    return (
        spark.read.parquet(sketch_dir)
        .groupBy(*key_cols)
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("hll", F.lit(False))).alias(
                "approx_distinct"
            )
        )
    )


def theta_batch(
    df: DataFrame, key_cols: list[str], day_col: str, value_col: str,
) -> DataFrame:
    """(keys, day, theta) for one batch of rows."""
    return df.groupBy(*key_cols, F.to_date(day_col).alias("day")).agg(
        F.theta_sketch_agg(value_col, F.lit(DEFAULT_LGK)).alias("theta")
    )


def start_theta_sketch_rollup(
    spark: SparkSession,
    landing_dir: str,
    sketch_dir: str,
    checkpoint_dir: str,
    key_cols: list[str],
    day_col: str,
    value_col: str,
):
    """Maintain a per-(key, day) THETA sketch table by pure merge — the
    set-algebra-capable sibling of :func:`start_distinct_sketch_rollup`.

    Theta union is a union of retained hash samples below the running
    theta threshold: associative, commutative, and idempotent (re-unioning
    a redelivered batch adds no new hashes), so it inherits the same
    replay-safe merge maintenance as HLL. What the theta store buys over
    the HLL store is the QUESTION SURFACE: the persisted sketches support
    intersection and difference (operators/sketches.py theta_set_algebra),
    so "customers active in both X and Y over all history" is answered
    from KB-size sketches without ever rescanning the landing table."""

    def refresh(batch_df: DataFrame, batch_id: int) -> None:
        batch_sk = theta_batch(batch_df, key_cols, day_col, value_col)
        if not batch_sk.take(1):
            return
        merge_into_store(
            spark, batch_sk, sketch_dir, key_cols,
            sketch_col="theta",
            union_agg=lambda c: F.theta_union_agg(c, F.lit(DEFAULT_LGK)),
        )

    return drain(parquet_landing(spark, landing_dir), checkpoint_dir, refresh)


def set_algebra_from_store(
    spark: SparkSession,
    sketch_dir: str,
    group_col: str,
    a,
    b,
) -> DataFrame:
    """Set algebra between two groups' all-history populations from the
    persisted theta store alone: merge each group's per-day sketches,
    then |A|, |B|, |A∪B|, |A∩B|, |A∖B|, |B∖A| off the two merged rows."""
    from ..operators.sketches import theta_merged_per_group, theta_set_algebra

    rollup = spark.read.parquet(sketch_dir)
    merged = theta_merged_per_group(rollup, [group_col])
    return theta_set_algebra(merged, group_col, a, b)


def start_quantile_sketch_rollup(
    spark: SparkSession,
    landing_dir: str,
    sketch_dir: str,
    checkpoint_dir: str,
    key_cols: list[str],
    day_col: str,
    value_col: str,
):
    """Maintain a per-(key, day) KLL quantile-sketch table — via
    PARTITION RECOMPUTE, not pure merge, and deliberately so.

    The contrast with :func:`start_distinct_sketch_rollup` is the point:
    HLL union is idempotent (register max), so merging a redelivered
    batch is a no-op and the merge-maintained store is replay-safe for
    free. KLL merge is NOT idempotent — items accumulate, so re-merging
    a redelivered batch over-weights its rows relative to the rest of
    the store and shifts every quantile the batch's distribution
    differs on. A merge-maintained KLL store would therefore need
    transactional batch-id fencing; recomputing the touched day
    partitions from the landing table (``drive.recompute_touched``, as
    rollup.py and transitions.py do) gets exactly-once from idempotent
    overwrite instead, at the cost of re-reading only the touched days.
    tests/test_streaming_sketch.py
    proves both halves: recompute-rerun is a no-op, while a naive
    double-merge of the same batch visibly shifts the merged sketch.
    """

    def refresh(batch_df: DataFrame, batch_id: int) -> None:
        day = F.to_date(day_col)
        recompute_touched(
            spark, batch_df, landing_dir, day,
            lambda src: kll_daily_rollup(src, key_cols, day, value_col),
            sketch_dir, "day",
        )

    return drain(parquet_landing(spark, landing_dir), checkpoint_dir, refresh)


def sliding_distinct_from_store(spark: SparkSession, sketch_dir: str) -> DataFrame:
    """30-day trailing-window distinct (MAU) answered from the
    STREAMING-MAINTAINED sketch store: per-day HLL rows merge across the
    trailing window (and across any key columns the store carries —
    register-wise-max union of per-key day sketches IS the day sketch),
    so the continuously-ingested store serves the same sliding curve as
    the batch `sketch_rolling_active_users` query without ever rescanning
    the landing data. Union order-independence makes the answer identical
    to a batch rebuild — asserted in tests/test_streaming_sketch.py."""
    from ..operators.sketches import hll_sliding_distinct

    store = spark.read.parquet(sketch_dir).select("day", "hll")
    return hll_sliding_distinct(store, window_days=30)


# ---------------------------------------------------------------------------
# Count-min frequency store: the THIRD exactly-once pattern
# ---------------------------------------------------------------------------


def start_frequency_sketch_rollup(
    spark: SparkSession,
    landing_dir: str,
    sketch_dir: str,
    checkpoint_dir: str,
    value_col: str,
):
    """Maintain a count-min frequency store over the landing rows —
    via BATCH-PARTITIONED IDEMPOTENT DELTAS, the third maintenance
    pattern in this module, chosen by the merge algebra:

    - HLL/theta union is idempotent → PURE MERGE (replay is a no-op by
      algebra).
    - KLL merge is lossy under replay → PARTITION RECOMPUTE (replay is
      a no-op by idempotent overwrite from the source of truth).
    - CM counters are ADDITIVE — merge is lossless (linearity) but NOT
      idempotent (a re-added batch double-counts), and unlike KLL the
      sum NEVER needs the raw rows again. So each micro-batch writes
      its own depth·width counter table under ``batch_id=N``: a
      replayed batch dynamically overwrites ITS OWN partition —
      exactly-once from partition-keyed idempotence — and readers just
      SUM across batch partitions (linearity makes the delta store
      exactly equal to a one-shot sketch). The delta/compaction split
      every log-structured store uses, here at sketch size.

    Returns the started availableNow StreamingQuery."""
    from ..operators.sketches import count_min_rollup

    def refresh(batch_df: DataFrame, batch_id: int) -> None:
        cm = count_min_rollup(batch_df, [], value_col)
        if not cm.take(1):
            return
        overwrite_partitions(
            cm.withColumn("batch_id", F.lit(batch_id)), sketch_dir, "batch_id"
        )

    return drain(parquet_landing(spark, landing_dir), checkpoint_dir, refresh)


def frequency_estimates(
    spark: SparkSession, sketch_dir: str, keys: DataFrame, key_col: str
) -> DataFrame:
    """Point-frequency estimates over ALL ingested history from the
    delta store alone: sum-merge the batch partitions (exact, by
    counter linearity), then the standard CM min-probe."""
    from ..operators.sketches import count_min_estimate, count_min_merge

    store = spark.read.parquet(sketch_dir).drop("batch_id")
    merged = count_min_merge(store, [])
    return count_min_estimate(merged, keys, key_col)


def compact_frequency_store(spark: SparkSession, sketch_dir: str) -> None:
    """Fold all batch partitions into one: the store grows by
    depth·width rows per batch, so a periodic compaction keeps it
    bounded. Sum-merging is exact, so estimates before and after are
    identical (asserted in tests). The rewrite is idempotent — a
    crashed-and-rerun compaction converges to the same single
    partition."""
    from ..operators.sketches import count_min_merge

    store = spark.read.parquet(sketch_dir).drop("batch_id")
    merged = count_min_merge(store, []).withColumn(
        "batch_id", F.lit(-1)
    ).localCheckpoint()  # reads the dir it rewrites
    merged.write.mode("overwrite").partitionBy("batch_id").parquet(sketch_dir)
