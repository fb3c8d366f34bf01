"""obs.py: labelled jobs and per-query profiles from Spark's status stores.

A profile is the record a timing tool reads instead of a printed line, so
these tests pin that its parts are really filled: jobs split between the
build and the action, per-stage counters and per-operator SQL metrics. The
driver-table readers are pinned here too, because a profile is how their
schema jobs show: a second build of the same table starts none.
"""

import pytest

from stock_market_etl_pipeline_spark import registry
from stock_market_etl_pipeline_spark.obs import labelled, profile
from stock_market_etl_pipeline_spark.sources.events import load_events
from stock_market_etl_pipeline_spark.sources.overview import company_overview

from conftest import SF_DIR


def test_profile_counts_build_jobs_apart_from_action_jobs(spark):
    r = profile(
        spark, "obs-test", lambda: spark.range(10).localCheckpoint(eager=True)
    )
    assert r["build_jobs"] >= 1
    assert r["jobs"] == 1
    # every job of the build and the action carries the label's tag
    tagged = spark.sparkContext._jsc.sc().statusTracker().getJobIdsForTag(
        "obs-test")
    assert len(tagged) == r["build_jobs"] + r["jobs"]


def test_labelled_tags_only_the_block_and_keeps_the_job_group(spark):
    sc = spark.sparkContext
    sc.setJobGroup("obs-outer", "obs-outer")
    try:
        with labelled(spark, "obs-inner"):
            spark.range(3).collect()
        spark.range(3).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    group = sorted(sc.statusTracker().getJobIdsForGroup("obs-outer"))
    tagged = list(sc._jsc.sc().statusTracker().getJobIdsForTag("obs-inner"))
    assert len(group) == 2
    assert tagged == group[:1]
    assert "obs-inner" not in sc.getJobTags()


def test_profile_reads_stage_and_operator_metrics(spark):
    fn = registry.queries()["ticks_ohlcv"]
    r = profile(spark, "ticks_ohlcv", lambda: fn(spark, SF_DIR))
    assert r["jobs"] >= 1
    assert any(s["tasks"] > 0 and s["cpu_ms"] > 0 for s in r["stages"])
    assert any(
        "number of output rows" in op["metrics"] for op in r["operators"]
    )
    assert r["wall_s"] == pytest.approx(r["build_s"] + r["exec_s"], abs=2e-3)


@pytest.mark.parametrize("read", [load_events, company_overview])
def test_driver_table_readers_start_no_job_on_a_second_build(spark, read):
    """Both readers go through load_table's schema memo: only the first
    read of a table infers its schema (one job)."""
    read(spark, SF_DIR)
    assert profile(spark, "reader", lambda: read(spark, SF_DIR))[
        "build_jobs"] == 0
