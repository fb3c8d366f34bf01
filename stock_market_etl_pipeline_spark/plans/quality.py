"""Declarative data-quality suite as ONE conditional-aggregate pass.

The reference runs 14 Great Expectations checks, each a separate scan
(``src/data_quality.py:8-239``). Here the whole suite collapses into a
single ``df.agg(...)`` — one job, one scan, which is the difference
between 14×100 TB and 1×100 TB of I/O at scale (SURVEY.md §2.8).

A check is (name, expression-that-counts-passing-rows, mostly-threshold).
Success mirrors GX semantics: pass_fraction ≥ mostly. Suite success is
passed/total ≥ 0.90 (reference ``src/data_quality.py:222``).

The suite runs either as its own ``agg`` (:func:`run_quality_suite`) or as
observed metrics on a frame that some other action runs
(:func:`observe_suite`); both score the same aggregates with
:func:`score_suite`.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F

# the compound key the suite checks for uniqueness
UNIQUE_KEY = ("symbol", "date")


@dataclass
class Check:
    name: str
    # fraction of rows passing (Column -> double in [0,1]), or a schema probe
    pass_fraction: Column | None
    mostly: float = 1.0
    # schema-level checks evaluate driver-side against df.columns
    column_exists: str | None = None


@dataclass
class CheckResult:
    name: str
    success: bool
    pass_fraction: float


def _fraction(pred: Column) -> Column:
    """Fraction of rows satisfying pred (null counts as fail, like GX)."""
    return F.avg(F.when(F.coalesce(pred, F.lit(False)), 1.0).otherwise(0.0))


def stock_quality_checks() -> list[Check]:
    """The reference's 14-expectation suite (src/data_quality.py:18-126)."""
    checks: list[Check] = []
    for c in ("symbol", "date", "close", "volume"):
        checks.append(Check(f"column_exists_{c}", None, column_exists=c))
    for c in ("symbol", "date", "close"):
        checks.append(Check(f"not_null_{c}", _fraction(F.col(c).isNotNull())))
    for c in ("open", "high", "low", "close"):
        checks.append(
            Check(f"range_{c}", _fraction(F.col(c).between(0.0, 10000.0)))
        )
    checks.append(Check("volume_nonnegative", _fraction(F.col("volume") >= 0)))
    checks.append(
        Check(
            "daily_change_percent_within_50",
            # first row per symbol has null change; GX's between check
            # ignores nulls, so count them as passing here
            F.avg(
                F.when(F.col("daily_change_percent").isNull(), 1.0)
                .when(F.col("daily_change_percent").between(-50.0, 50.0), 1.0)
                .otherwise(0.0)
            ),
            mostly=0.95,
        )
    )
    checks.append(Check("high_gt_low", _fraction(F.col("high") > F.col("low"))))
    return checks


def suite_aggregates(
    checks: list[Check],
    distinct_keys: Column | None = None,
) -> list[Column]:
    """The suite's aggregates as Columns, ready for ``agg`` or ``observe``.

    One ``__chk_<i>`` pass fraction per aggregate check, then ``__total``
    and ``__distinct_keys`` for the compound-uniqueness check on
    :data:`UNIQUE_KEY`. ``distinct_keys`` replaces the default
    ``count(DISTINCT key-struct)``: observed metrics reject DISTINCT, so an
    observer supplies an equivalent count (see :func:`observe_suite`).
    """
    aggs = [
        c.pass_fraction.alias(f"__chk_{i}")
        for i, c in enumerate(c for c in checks if c.pass_fraction is not None)
    ]
    if distinct_keys is None:
        distinct_keys = F.countDistinct(F.struct(*UNIQUE_KEY))
    aggs.append(F.count(F.lit(1)).alias("__total"))
    aggs.append(distinct_keys.alias("__distinct_keys"))
    return aggs


def score_suite(
    row,
    checks: list[Check],
    columns: list[str],
) -> tuple[bool, float, list[CheckResult]]:
    """Score one collected row of :func:`suite_aggregates` (a ``Row`` or the
    dict ``Observation.get`` returns); ``columns`` answers the schema-level
    checks. Returns (success, rate, results); success is a pass rate of
    at least 90%, the reference's gate."""
    results: list[CheckResult] = []
    for c in checks:
        if c.column_exists is not None:
            ok = c.column_exists in columns
            results.append(CheckResult(c.name, ok, 1.0 if ok else 0.0))
    agg_checks = [c for c in checks if c.pass_fraction is not None]
    for i, c in enumerate(agg_checks):
        frac = float(row[f"__chk_{i}"] or 0.0)
        results.append(CheckResult(c.name, frac >= c.mostly, frac))
    ok = row["__total"] == row["__distinct_keys"]
    results.append(
        CheckResult(
            "compound_unique_" + "_".join(UNIQUE_KEY),
            ok,
            1.0 if ok else row["__distinct_keys"] / max(row["__total"], 1),
        )
    )
    passed = sum(1 for r in results if r.success)
    rate = passed / len(results) if results else 1.0
    return rate >= 0.90, rate, results


def run_quality_suite(
    df: DataFrame,
    checks: list[Check],
) -> tuple[bool, float, list[CheckResult]]:
    """Run all checks in one aggregate pass; returns (success, rate, results).

    The compound-uniqueness check rides in the same pass as
    ``count(*) == count(distinct key-struct)`` — no extra scan.
    """
    row = df.agg(*suite_aggregates(checks)).collect()[0]
    return score_suite(row, checks, df.columns)


def observe_suite(
    df: DataFrame,
    observation: Observation,
    checks: list[Check],
) -> DataFrame:
    """Attach the suite to ``df`` as observed metrics: the checks are then
    computed by whatever action runs ``df`` (the pipeline's sink write)
    instead of by a scan of their own. Score ``observation.get`` with
    :func:`score_suite`.

    Without DISTINCT, the key counts come from ``lag(date)`` over the
    (symbol ORDER BY date) window, in which equal keys are adjacent:

    - ``__distinct_keys`` = rows − rows whose date equals the previous date;
    - ``__groups`` (distinct symbols) = rows with no previous row.

    Both are exact when the key columns are non-null, as they are after
    ``clean_quotes``. Its spec equals ``enrich``'s (symbol ORDER BY date)
    spec, so over an enriched frame Catalyst collapses it into enrich's
    last Window node: it adds no exchange, no sort and no Window. The
    returned frame has ``df``'s columns.
    """
    prev = F.lag("date").over(Window.partitionBy("symbol").orderBy("date"))
    total = F.count(F.lit(1))
    repeats = F.count_if(F.col("date") == F.col("__prev"))
    metrics = suite_aggregates(checks, distinct_keys=total - repeats)
    metrics.append(F.count_if(F.col("__prev").isNull()).alias("__groups"))
    return (
        df.withColumn("__prev", prev)
        .observe(observation, *metrics)
        .drop("__prev")
    )


def save_validation_report(
    results: list[CheckResult],
    rate: float,
    success: bool,
    path: str,
) -> dict:
    """Persist the validation outcome, stamped with the current UTC time,
    as a JSON artifact (machine-readable,
    unlike the reference's prose .txt — ``src/data_quality.py:242-273``).

    The report is driver-side metadata (the check results are already
    collected scalars), so this is a plain json.dump, not a Spark write.
    Returns the report dict that was written.
    """
    import json
    import os
    from datetime import datetime, timezone

    report = {
        "success": success,
        "success_rate": round(rate * 100, 1),
        "passed_checks": sum(1 for r in results if r.success),
        "total_checks": len(results),
        "failed_expectations": [
            {"expectation": r.name, "pass_fraction": round(r.pass_fraction, 6)}
            for r in results
            if not r.success
        ],
        "timestamp": datetime.now(timezone.utc).isoformat(timespec="seconds"),
    }
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    with open(path, "w") as f:
        json.dump(report, f, indent=2)
    return report


def validation_aggregates(df: DataFrame) -> DataFrame:
    """Distributed (no-collect) flavor: one row of violation counts.

    This is the oracle-checkable surface of the suite (A12) — each GX
    expectation as a conditional aggregate over the ticks table.

    The duplicate-key check is a PRE-GROUPED two-stage aggregate, not
    ``count(*) − count(distinct struct)``: single-count-distinct plans
    Expand the scan ×2 through a hash aggregate keyed on every distinct
    (symbol, date) — at the sf100 probe (NOTES r5 session 4) that was a
    measured ×20 for 10× rows with GC-locker stalls, the one cliff the
    third-decade sweep found. Grouping by (symbol, date) FIRST reuses the
    exact hash partitioning ticks' own groupBy just produced (same
    attributes ⇒ Catalyst plans NO new exchange and no Expand), and the
    closing global aggregate sees one tiny row per partition.
    Re-measured after the rewrite: ×4.69 (268 s → 63 s at sf100).
    """
    c = F.col
    per_key = df.groupBy("symbol", "date").agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(F.when(c("symbol").isNull(), 1).otherwise(0)).alias("__null_symbol"),
        F.sum(F.when(c("date").isNull(), 1).otherwise(0)).alias("__null_date"),
        F.sum(F.when(c("close").isNull(), 1).otherwise(0)).alias("__null_close"),
        F.sum(F.when(~c("close").between(0, 1_000_000), 1).otherwise(0)).alias("__range"),
        F.sum(F.when(c("volume") < 0, 1).otherwise(0)).alias("__neg_vol"),
        F.sum(F.when(c("high") < c("low"), 1).otherwise(0)).alias("__hl"),
    )
    n = F.sum("__n")
    return per_key.agg(
        n.cast("bigint").alias("total_rows"),
        F.sum("__null_symbol").cast("bigint").alias("null_symbol"),
        F.sum("__null_date").cast("bigint").alias("null_date"),
        F.sum("__null_close").cast("bigint").alias("null_close"),
        F.sum("__range").cast("bigint").alias("close_out_of_range"),
        F.sum("__neg_vol").cast("bigint").alias("negative_volume"),
        F.sum("__hl").cast("bigint").alias("high_lt_low"),
        (n - F.count(F.lit(1))).cast("bigint").alias("duplicate_keys"),
    )
