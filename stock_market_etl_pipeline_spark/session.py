"""SparkSession builder tuned for this engine.

Local-mode defaults are sized for the test harness (local[32], 128 GiB);
every setting here is also the right *shape* for a 1000-executor cluster —
AQE handles runtime shuffle-partition coalescing and skew joins, so the
static ``shuffle.partitions`` value only sets the upper bound pre-AQE.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def get_spark(app_name: str = "stock-market-etl-pipeline-spark",
              master: str | None = None) -> SparkSession:
    """Create (or get) a SparkSession with the engine's standard config.

    - AQE on: runtime coalescing of shuffle partitions, skew-join splitting,
      dynamic broadcast-join demotion/promotion. Symbol-partitioned market
      data is mildly skewed (listing age), so skewJoin matters at scale.
    - Arrow on: any future pandas_udf extension operators get vectorized
      batch transfer for free.
    - Timezone pinned to UTC so date extraction is deterministic across
      driver/executor locales (and matches the DuckDB oracle).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", DEFAULT_SHUFFLE_PARTITIONS)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Split skewed join partitions EVEN when the join's output
        # partitioning is reused downstream (e.g. a count-distinct whose
        # grouping contains the join key — the subset rule makes
        # hash(join_key) satisfy it, and stock AQE then refuses the
        # split to avoid the extra exchange). Measured on a 50%-hot-key
        # sf10 variant (SCALING.md round-12 skew study): priority_revenue
        # 27.6 s stock → 13.3 s forced, SortMergeJoin(skew=true) in the
        # finalized plan; with no skewed partition the flag is inert, so
        # unskewed plans are untouched.
        .config("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Older testdata generations ship events.ts as TIMESTAMP(NANOS);
        # read as int64 ns and convert in sources/events.py (Spark has no
        # ns timestamp type). Harmless for µs files.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
        # At 100 TB the scan parallelism is governed by this; 128 MiB splits
        # keep per-task memory bounded and saturate a wide cluster.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # Whole-stage-codegen class cache (default 100 entries): a
        # session that cycles through many distinct plans — the bench's
        # 17 interleaved headliners, a 299-query registry, any real
        # multi-tenant engine — evicts and RECOMPILES every generated
        # class on each revisit. Measured r11 (the sessionize_events
        # drift adjudication): the interleaved bench recompiled every
        # query every pass, inflating per-query minima ~30-60% since
        # the r7 protocol change (sessionize 0.74 s -> 0.44 s with the
        # cache sized to the working set; 14-query subtotal -34%).
        # Compiled classes are KB-scale, so 4096 entries is a few
        # hundred MB at worst against the driver/executor heap.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    # Pre-coalesce shuffle width: sources/tables.py sizes AQE's
    # initialPartitionNum from the bytes of the largest table a session
    # reads (next pow2 of bytes/32 MiB, clamped [shuffle.partitions,
    # 2048] — at sf100 that lands on the 512 the NOTES r5 probe measured:
    # ticks 255 s -> 161 s, validation 268 s -> 118 s; at <=sf1 it stays
    # at the floor so small-scale plans are unchanged).
    if master is not None:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER_OVERRIDE_DISABLED"):
        builder = builder.master(f"local[{cpus}]")
    return builder.getOrCreate()
