"""Broadcast-threshold probe: measure where broadcast-hash beats
shuffle-join for a fact⋈dim join on this hardware, and check the session
threshold against the measurement.

Usage:  python tools/broadcast_probe.py [sf_dir]

For geometrically growing dim sizes, times the same lineitem⋈dim join
twice — once with the dim broadcast-hinted, once with both sides
merge-hinted (a join-strategy hint outranks the size-based broadcast
planning, forcing the sort-merge shuffle path without touching session
conf) — and prints one line per size plus a crossover summary. Single-node local[] understates broadcast's
advantage (no network between executors), so the crossover printed here is
a LOWER bound on the cluster crossover: if broadcast wins locally it wins
harder on a 1000-executor cluster, where the shuffle path pays network for
the whole fact and the broadcast path ships only the dim once per
executor.

This is a diagnostic, not a benchmark: one warm JVM, best-of-2 timings.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from stock_market_etl_pipeline_spark.obs import profile  # noqa: E402
from stock_market_etl_pipeline_spark.session import get_spark  # noqa: E402
from stock_market_etl_pipeline_spark.sources.tables import load_table  # noqa: E402

DIM_ROWS = [1_000, 10_000, 100_000, 1_000_000]

_UNITS = {"b": 1, "k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}


def parse_byte_size(conf_value: str) -> int:
    """Spark size confs come as '10485760', '10485760b', '10MB', '10m', or
    '-1' (disabled). rstrip('b') is NOT a suffix strip (it removes a char
    SET, mangling e.g. '10MB' → error); parse the unit properly and fall
    back to -1 on anything unrecognized."""
    s = conf_value.strip().lower()
    try:
        num = s.rstrip("kmgtb")
        unit = s[len(num):] or "b"
        return int(num) * _UNITS[unit.rstrip("b") or "b"]
    except (ValueError, KeyError):
        return -1


def time_join(spark, fact, dim, hint: str) -> float:
    if hint == "broadcast":
        joined = fact.join(F.broadcast(dim), "l_partkey")
    else:
        joined = fact.hint("merge").join(dim.hint("merge"), "l_partkey")
    query = joined.groupBy("bucket").agg(F.sum("l_quantity").alias("q"))
    return min(
        profile(spark, f"broadcast_probe.{hint}", lambda: query)["wall_s"]
        for _ in range(2)
    )


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    spark = get_spark("broadcast-probe")
    fact = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity"
    )
    threshold = parse_byte_size(
        spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    )
    print(f"# session autoBroadcastJoinThreshold = {threshold} bytes")
    crossover = None
    for n in DIM_ROWS:
        dim = spark.range(n).select(
            F.col("id").alias("l_partkey"),
            (F.col("id") % 97).alias("bucket"),
        )
        b = time_join(spark, fact, dim, "broadcast")
        s = time_join(spark, fact, dim, "shuffle")
        verdict = "broadcast" if b < s else "shuffle"
        print(
            f"dim_rows={n:>9,}  broadcast={b:6.3f}s  shuffle={s:6.3f}s"
            f"  -> {verdict}"
        )
        if crossover is None and b >= s:
            crossover = n
    if crossover is None:
        print(
            "# broadcast won at every probed size — the default threshold is"
            " conservative on this hardware; explicit F.broadcast() hints on"
            " known dims (registry_dim.py) stay justified"
        )
    else:
        print(f"# crossover at ~{crossover:,} dim rows on this hardware")


if __name__ == "__main__":
    main()
