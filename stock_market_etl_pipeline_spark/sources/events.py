"""events.parquet reader with timestamp normalization.

The driver's events table has shipped ``ts`` in two physical forms across
testdata generations:

- parquet TIMESTAMP(NANOS), which Spark's vectorized reader rejects
  ([PARQUET_TYPE_ILLEGAL]). With ``spark.sql.legacy.parquet.nanosAsLong=true``
  the column arrives as a raw int64 of nanoseconds and is converted to
  TimestampType at microsecond precision — the same truncation DuckDB
  applies when casting ns→µs.
- parquet timestamp[us] with isAdjustedToUTC=false, which Spark 4 reads as
  TIMESTAMP_NTZ. Event-time watermarks require TIMESTAMP (LTZ), so the
  column is cast; with the session timezone pinned to UTC (session.py) the
  cast is wall-clock-preserving and matches DuckDB's naive TIMESTAMP.

Either way callers see one stable schema: ``ts TIMESTAMP``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .tables import load_table


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Self-sufficient: the driver passes its own SparkSession, which won't
    # have session.py's config. The conf is runtime-settable.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ev = load_table(spark, sf_dir, "events")
    ts_type = ev.schema["ts"].dataType
    if isinstance(ts_type, T.LongType):
        ev = ev.withColumn(
            "ts", F.timestamp_micros(F.floor(F.col("ts") / 1000).cast("long"))
        )
    elif isinstance(ts_type, T.TimestampNTZType):
        ev = ev.withColumn("ts", F.col("ts").cast("timestamp"))
    return ev
