"""End-to-end ETL pipeline orchestration (reference §3.1 lifecycle).

The reference's ``run_etl_pipeline`` (``src/pipeline.py:119-378``) runs
extract → transform → validate → load → summary → alert as eager stages.
Here the whole thing is ONE lazy plan with ONE data action, the
partitioned parquet write (which also executes read + clean + enrich).
Everything else rides on that write as ``Observation`` metrics:

1. the corrupt-record count, observed on the raw JSON read;
2. the quality suite (validation gate, ≥90% like the reference — which
   also proceeds to load on warning, ``pipeline.py:244``, so the gate
   reports on the write rather than guarding it), observed on the
   enriched frame together with the loaded-row and symbol counts that
   the summary used to scan for.

Nothing is cached. Alerts are returned as data (result records), not side
effects — the scheduler/mailer glue the reference bakes in
(``scheduler.py``, ``src/alerts.py``) stays out of the engine by design
(SURVEY.md §7.8).

Run: ``python -m stock_market_etl_pipeline_spark.pipeline <in> <out>``
where <in> is a directory of raw-quote JSON drops. Parquet drops are read
by calling ``run_pipeline(..., input_format="parquet")``.
"""

from __future__ import annotations

import sys
from dataclasses import asdict, dataclass

from pyspark.sql import Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import obs
from .io_sink import write_parquet
from .operators.clean import clean_quotes, typed_quotes
from .operators.enrich import enrich
from .plans.analytics import db_summary  # noqa: F401 -- not called; perfbench patches this name
from .plans.quality import (
    observe_suite,
    run_quality_suite,  # noqa: F401 -- not called; perfbench patches this name
    save_validation_report,
    score_suite,
    stock_quality_checks,
)
from .schema import RAW_QUOTE_SCHEMA
from .session import get_spark


@dataclass
class PipelineResult:
    success: bool
    validation_rate: float
    validation_passed: bool
    records_loaded: int
    unique_symbols: int
    sink_path: str
    report_path: str | None = None
    checks_passed: int = 0
    checks_total: int = 0
    corrupt_records: int = 0


def health_check(spark: SparkSession) -> bool:
    """S14: SELECT 1 liveness probe (reference ``dashboard/app.py:125-137``
    pings the database the same way before rendering)."""
    try:
        with obs.labelled(spark, "pipeline.health_check"):
            return spark.sql("SELECT 1 AS ok").collect()[0]["ok"] == 1
    except Exception:  # noqa: BLE001
        return False


def run_pipeline(
    spark: SparkSession,
    input_path: str,
    sink_path: str,
    input_format: str = "json",
    report_path: str | None = None,
) -> PipelineResult:
    if not health_check(spark):
        raise RuntimeError("Spark session failed the SELECT 1 health probe")
    corrupt_obs: Observation | None = None
    if input_format == "json":
        # PERMISSIVE + corrupt-record column: malformed JSON lines land in
        # __corrupt instead of silently becoming all-null rows; they are
        # counted, surfaced on the result, and excluded from the load.
        # The count is observed BELOW the filter (Spark pushes no filter
        # through an observation); the scan still reads every column, so
        # Spark's ban on corrupt-column-only JSON queries does not apply.
        # It is observed on the typed rows, so the cleaning filters stay
        # above the casts and each raw field is cast once.
        schema = T.StructType(
            RAW_QUOTE_SCHEMA.fields
            + [T.StructField("__corrupt", T.StringType(), True)]
        )
        corrupt_obs = Observation("corrupt_records")
        raw = (
            typed_quotes(
                spark.read.schema(schema)
                .option("mode", "PERMISSIVE")
                .option("columnNameOfCorruptRecord", "__corrupt")
                .json(input_path)
            )
            .observe(corrupt_obs, F.count("__corrupt").alias("n"))
            .filter(F.col("__corrupt").isNull())
            .drop("__corrupt")
        )
    else:
        raw = spark.read.schema(RAW_QUOTE_SCHEMA).parquet(input_path)
    enriched = enrich(
        clean_quotes(raw).drop("extracted_at", "data_source")
    )
    checks = stock_quality_checks()
    quality_obs = Observation("quality")
    # reference proceeds to load even on warning (pipeline.py:244), so the
    # gate is observed on the write instead of run before it
    with obs.labelled(spark, "pipeline.write"):
        write_parquet(observe_suite(enriched, quality_obs, checks), sink_path)
    metrics = quality_obs.get
    ok, rate, results = score_suite(metrics, checks, enriched.columns)
    if report_path:
        save_validation_report(results, rate, ok, report_path)
    return PipelineResult(
        success=True,
        validation_rate=rate,
        validation_passed=ok,
        records_loaded=metrics["__total"],
        unique_symbols=metrics["__groups"],
        sink_path=sink_path,
        report_path=report_path,
        checks_passed=sum(1 for r in results if r.success),
        checks_total=len(results),
        corrupt_records=corrupt_obs.get["n"] if corrupt_obs is not None else 0,
    )


def main() -> None:
    if len(sys.argv) != 3:
        print(
            "usage: python -m stock_market_etl_pipeline_spark.pipeline "
            "<input_dir> <sink_dir>",
            file=sys.stderr,
        )
        raise SystemExit(2)
    spark = get_spark("etl-pipeline")
    result = run_pipeline(spark, sys.argv[1], sys.argv[2])
    print(asdict(result))


if __name__ == "__main__":
    main()
