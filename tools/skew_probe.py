"""Skew-injection probe (VERDICT r11 #5): run the window/join headline
queries on a scaled dir AND its deliberately-skewed variant
(tools/make_skewed_testdata.py — one symbol/user/orderkey = 50% of its
fact table) and record, per query:

- wall time on both dirs (min of 2, noop sink) and the degradation ×,
- whether AQE's OptimizeSkewedJoin fired in the FINALIZED plan on the
  skewed run (``skew=true`` on a SortMergeJoin / ShuffledHashJoin) and
  how many AQEShuffleRead nodes acted.

What the numbers are expected to show, and why (the 100 TB argument):

- **Aggregations with map-side combine** (ticks groupBy, pricing):
  near-immune — the hot key collapses to one partial row per input
  split BEFORE the exchange.
- **Shuffle joins on a skewed key** (priority_revenue's
  lineitem⋈orders): AQE splits the hot partition at runtime
  (skew=true in the plan) — degradation bounded without any rewrite.
- **Per-key WINDOW queries** (enriched_features, trading_signals):
  AQE can NOT split a window partition (ordered-frame semantics pin
  one key to one task), so a 50%-hot key serializes half the data on
  one core — this family degrades, and the engine's answer is the
  skew-safe rewrite (operators/skewsafe.py — chunked spine + halo;
  ``enriched_features_skew_safe`` is measured here beside the plain
  form to show the rewrite holds under the same skew).

Usage: python tools/skew_probe.py [BASE_DIR] [SKEW_DIR] [query ...]
       python tools/skew_probe.py /tmp/sf1 /tmp/sf1skew
Emits a markdown table on stdout (paste into SCALING.md).

Note on thresholds: OptimizeSkewedJoin splits a partition only when it
exceeds BOTH skewedPartitionFactor x median AND
skewedPartitionThresholdInBytes (default 256 MB — a CLUSTER-scale
setting). A 50%-hot key at sf1 is ~90 MB, under the bar by design; the
sf10 variant (~900 MB hot partition) trips it with stock settings.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from stock_market_etl_pipeline_spark import registry  # noqa: E402
from stock_market_etl_pipeline_spark.obs import profile  # noqa: E402
from stock_market_etl_pipeline_spark.session import get_spark  # noqa: E402

from plan_audit_aqe import final_plan  # noqa: E402  (tools/ is the script dir)

PROBE = [
    # aggregation family (map-side combine should absorb the hot key)
    "ticks_ohlcv",
    "pricing_summary",
    "performance_summary",
    # shuffle-join family (AQE skew-split territory)
    "priority_revenue",
    "asof_last_order_value",
    # per-key window family (AQE cannot split; skew-safe rewrite is the
    # engine's answer)
    "enriched_features",
    "enriched_features_skew_safe",
    "trading_signals",
    "predictions",
    "sessionize_events",
]


def wall(spark, name: str, fn, sf_dir: str) -> float:
    """Min wall of two profiled runs (build + noop-sink write)."""
    return round(min(
        profile(spark, name, lambda: fn(spark, sf_dir))["wall_s"]
        for _ in range(2)
    ), 2)


def main() -> None:
    base = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf1"
    skew = sys.argv[2] if len(sys.argv) > 2 else "/tmp/sf1skew"
    probe = sys.argv[3:] or PROBE
    spark = get_spark("skew-probe")
    spark.sparkContext.setLogLevel("ERROR")
    qs = registry.queries()
    # warm codegen on both dirs
    qs["pricing_summary"](spark, base).write.format("noop").mode(
        "overwrite"
    ).save()
    qs["pricing_summary"](spark, skew).write.format("noop").mode(
        "overwrite"
    ).save()

    print(f"| query | {base} s | {skew} s | × | skew-splits | aqe_reads |")
    print("|---|---|---|---|---|---|")
    degraded = []
    for name in probe:
        t_base = wall(spark, name, qs[name], base)
        t_skew = wall(spark, name, qs[name], skew)
        p = final_plan(spark, qs[name](spark, skew))
        n_split = len(re.findall(r"skew=true", p))
        aqe_reads = len(re.findall(r"^\(\d+\) AQEShuffleRead", p, re.M))
        ratio = round(t_skew / t_base, 2) if t_base else None
        print(
            f"| {name} | {t_base} | {t_skew} | ×{ratio} "
            f"| {n_split} | {aqe_reads} |"
        )
        if ratio and ratio >= 2 and ("SortMergeJoin" in p or "ShuffledHashJoin" in p):
            degraded.append(name)

    # Degraded shuffle joins with NO recorded split: by default
    # OptimizeSkewedJoin refuses to split when the join's output
    # partitioning is reused by a downstream requirement (e.g. a
    # count-distinct whose grouping contains the join key — hash(key)
    # satisfies it by the subset rule), because splitting would force
    # an extra shuffle. forceOptimizeSkewedJoin=true accepts that
    # trade; measure whether it pays.
    if degraded:
        print()
        print("| query (forceOptimizeSkewedJoin) | skew s | skew-splits |")
        print("|---|---|---|")
        spark.conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
        try:
            for name in degraded:
                t_forced = wall(spark, name, qs[name], skew)
                p = final_plan(spark, qs[name](spark, skew))
                n_split = len(re.findall(r"skew=true", p))
                print(f"| {name} | {t_forced} | {n_split} |")
        finally:
            spark.conf.set(
                "spark.sql.adaptive.forceOptimizeSkewedJoin", "false"
            )


if __name__ == "__main__":
    main()
