"""AQE-final plan audit of the headline queries at bench scale (sf0.1).

The plan-shape freezes (tests/test_plan_shapes.py) and PLANS.md assert
STATIC plans at sf0.001, where AQE barely acts. At bench scale AQE
coalescing / skew-splitting / join demotion can change exchange counts at
RUNTIME, so a freeze that only holds at toy scale is a weaker invariant
(VERDICT r9 #5). This tool EXECUTES each headline query at sf0.1 through
its own QueryExecution (``toRdd().count()`` — same QueryExecution object,
so the AdaptiveSparkPlan finalizes in place, unlike ``df.count()`` which
plans a different query) and records the FINAL adaptive plan's node
counts next to the static sf0.001 ones. Output: the "AQE-final" section
appended to PLANS.md by tools/plan_audit.py --with-aqe, or standalone
markdown on stdout.

Reading the columns: ``shuffles`` counts Exchange nodes in the final plan
(the physical data movements that actually ran); ``aqe_reads`` counts
AQEShuffleRead nodes (coalesced / skew-split consumers — evidence AQE
acted); ``join demotions`` would surface as a SortMergeJoin appearing
where the static plan had BroadcastHashJoin, or vice versa.
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from stock_market_etl_pipeline_spark import registry  # noqa: E402
from stock_market_etl_pipeline_spark.session import get_spark  # noqa: E402

from bench import HEADLINE  # noqa: E402  (the repo root is on sys.path)
from plan_audit import node_count  # noqa: E402  (tools/ is the script dir)


def final_plan(spark, df) -> str:
    """Execute df through ITS OWN QueryExecution and return the
    finalized adaptive plan text."""
    qe = df._jdf.queryExecution()
    qe.toRdd().count()  # executes; AdaptiveSparkPlan finalizes in place
    return qe.explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def audit_rows(spark, sf_dir: str) -> list[tuple[str, ...]]:
    qs = registry.queries()
    rows = []
    for name in HEADLINE:
        df = qs[name](spark, sf_dir)
        p = final_plan(spark, df)
        # plans without exchanges/subqueries are not wrapped by AQE at
        # all (no AdaptiveSparkPlan node) — nothing to finalize
        assert "AdaptiveSparkPlan" not in p or "isFinalPlan=true" in p, (
            f"{name}: adaptive plan did not finalize"
        )
        scans = node_count(p, "Scan parquet") + node_count(p, "Range")
        shuffles = node_count(p, "Exchange")
        aqe_reads = node_count(p, "AQEShuffleRead")
        joins = []
        for j in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
                  "BroadcastNestedLoopJoin"):
            n = len(re.findall(rf"^\(\d+\) {j}", p, re.M))
            if n:
                joins.append(f"{j.replace('Join', '')}×{n}")
        windows = node_count(p, "Window") + node_count(p, "WindowGroupLimit")
        rows.append(
            (name, str(scans), str(shuffles), str(aqe_reads),
             ",".join(joins) or "—", str(windows))
        )
    return rows


def section_md(rows: list[tuple[str, ...]], sf_dir: str) -> str:
    out = [
        "",
        "## AQE-final plans at bench scale (executed, "
        f"`{sf_dir}`)",
        "",
        "Counts from the FINALIZED AdaptiveSparkPlan after running each",
        "headline query (tools/plan_audit_aqe.py). `aqe_reads` = ",
        "AQEShuffleRead nodes (coalesce/skew-split applied at runtime).",
        "Reading note: the finalized plan prints each materialized",
        "ShuffleQueryStage's Exchange subtree where it is DEFINED and",
        "again where it is CONSUMED, so `shuffles` ≈ 2× the static",
        "count (and window/stage nodes repeat likewise) is the",
        "no-replan signature — the load-bearing comparisons are the",
        "JOIN strategies (a SortMergeJoin where the static plan had",
        "BroadcastHashJoin = a runtime demotion) and `aqe_reads` > 0",
        "(evidence AQE actually acted at this scale).",
        "",
        "| query | scans | shuffles | aqe_reads | joins | windows |",
        "|---|---|---|---|---|---|",
    ]
    for r in rows:
        out.append("| " + " | ".join(r) + " |")
    return "\n".join(out) + "\n"


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark("plan-audit-aqe")
    spark.sparkContext.setLogLevel("ERROR")
    print(section_md(audit_rows(spark, sf_dir), sf_dir))


if __name__ == "__main__":
    main()
