"""Profile registry queries: one JSON line per query, Spark's own counters
included.

Usage: python tools/profile_queries.py <query...> [--sf DIR] [--reps N]

Each query runs once untimed (codegen compilation and parquet footer reads
land there), then N times through ``obs.profile`` (build, plan, noop-sink
write), cached data dropped before every rep. The printed line holds the
min-of-reps wall (build + write), every rep's wall, and the full record of
the fastest rep: build/plan/exec seconds, jobs started during build and
action, per-stage tasks, CPU and shuffle bytes, per-operator SQL metrics.
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from stock_market_etl_pipeline_spark import registry  # noqa: E402
from stock_market_etl_pipeline_spark.obs import profile  # noqa: E402
from stock_market_etl_pipeline_spark.session import get_spark  # noqa: E402


def drop_caches(spark) -> None:
    """Nothing cached survives into the next rep: cached tables and any
    leftover ``localCheckpoint`` RDDs, which the ContextCleaner drops only
    asynchronously."""
    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist()


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--reps", type=int, default=3)
    args = ap.parse_args()

    spark = get_spark("profile")
    spark.sparkContext.setLogLevel("ERROR")
    qs = registry.queries()
    for name in args.queries:
        build = lambda: qs[name](spark, args.sf)  # noqa: E731
        profile(spark, name, build)
        records = []
        for _ in range(args.reps):
            drop_caches(spark)
            records.append(profile(spark, name, build))
        best = min(records, key=lambda r: r["wall_s"])
        print(json.dumps({
            "query": name, "sf_dir": args.sf, "reps": args.reps,
            "wall_s": best["wall_s"],
            "walls": [r["wall_s"] for r in records],
            "record": best,
        }), flush=True)


if __name__ == "__main__":
    main()
