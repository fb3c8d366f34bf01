"""Parquet table readers for the driver testdata layout.

One parquet file per table under ``{sf_dir}/{name}.parquet`` (TESTDATA.md).
Reading is lazy; Catalyst pushes projections and predicates into the
parquet scan, so callers should select/filter on the returned DataFrame
rather than pre-materializing.
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLE_NAMES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

# Per-path schema memo: the driver testdata schemas are fixed (TESTDATA.md),
# so after the first read we pass the schema explicitly and skip the
# file-listing + footer schema-inference job Spark otherwise runs on every
# `spark.read.parquet` — ~0.1 s of driver latency per read, per query build.
_SCHEMA_CACHE: dict[str, StructType] = {}

# Per-path on-disk byte memo (filled alongside the schema memo) — feeds the
# data-size-driven shuffle-width default below.
_BYTES_CACHE: dict[str, int] = {}

_AQE_INITIAL = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"

# Pre-AQE shuffle-width sizing: one map output ≈ 32 MiB of COMPRESSED
# parquet input ≈ 128 MiB in-memory rows (the ~4× parquet decode
# expansion), the per-task size maxPartitionBytes already targets on the
# scan side. The sf100 probe (NOTES r5 session 4) measured the failure
# mode this removes: 600M-row shuffles at the static 32 partitions =
# ~19M rows/task → spill + GC-locker stalls (ticks_ohlcv ×12.3,
# validation_aggregates ×20); 512 initial partitions (10.8 GB lineitem
# → this formula) cut them to 161 s / 118 s while AQE coalesced every
# small stage back down.
_TARGET_INPUT_BYTES_PER_TASK = 32 * 1024 * 1024
_MAX_INITIAL_PARTITIONS = 2048


def _path_bytes(path: str) -> int:
    p = Path(path)
    if p.is_dir():
        return sum(f.stat().st_size for f in p.rglob("*") if f.is_file())
    try:
        return p.stat().st_size
    except OSError:
        return 0


def shuffle_width_for(input_bytes: int, floor: int) -> int:
    """Initial (pre-AQE) shuffle partition count for an input of
    ``input_bytes``: next power of two of bytes/32 MiB, clamped to
    [floor, 2048]. Power-of-two rounding keeps AQE's coalescing merges
    even-sized; the floor is the session's static shuffle.partitions so
    small inputs keep today's plans byte-identical."""
    n = max(1, -(-input_bytes // _TARGET_INPUT_BYTES_PER_TASK))
    p = 1
    while p < n:
        p <<= 1
    return max(floor, min(p, _MAX_INITIAL_PARTITIONS))


def tune_shuffle_width(spark: SparkSession, input_bytes: int) -> int:
    """Raise the session's AQE ``initialPartitionNum`` to fit the largest
    input seen so far (monotonic — a big fact table widens the session,
    later dim reads never shrink it). AQE coalesces small stages back
    down, so the only cost of a wide ceiling is map-side fan-out on the
    queries that actually shuffle the big table. Runtime-settable conf:
    applies to every query planned after this read, including under the
    driver's own plain SparkSession where session.py configs are absent."""
    try:
        floor = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        # some platforms set the conf to "auto"; fall back to Spark's
        # documented default rather than crashing the read (ADVICE r6)
        floor = 200
    target = shuffle_width_for(input_bytes, floor)
    current = spark.conf.get(_AQE_INITIAL, None)
    try:
        current_n = int(current) if current is not None else None
    except (TypeError, ValueError):
        current_n = None
    if current_n is None or target > current_n:
        spark.conf.set(_AQE_INITIAL, str(target))
        return target
    return current_n


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = f"{sf_dir}/{name}.parquet"
    cached = _SCHEMA_CACHE.get(path)
    if cached is None:
        _BYTES_CACHE[path] = _path_bytes(path)
        tune_shuffle_width(spark, _BYTES_CACHE[path])
        df = spark.read.parquet(path)
        _SCHEMA_CACHE[path] = df.schema
        return df
    tune_shuffle_width(spark, _BYTES_CACHE.get(path, 0))
    return spark.read.schema(cached).parquet(path)


def read_parquet_evolving(spark: SparkSession, path: str) -> DataFrame:
    """Schema-evolution-tolerant parquet read: mergeSchema unions the
    schemas of all files (columns added over time arrive as nulls in old
    files). The append-sink reality at scale — daily drops gain columns;
    a plain read would silently pick one file's schema."""
    return spark.read.option("mergeSchema", "true").parquet(path)
