"""The single streaming scaffold (streaming/drive.py): no maintainer carries
its own writeStream scaffold or partition-overwrite write, ``drain`` over a parquet landing
directory delivers every landed row once and stops on its own, and the
quality-gated pipeline stream runs one Spark job per micro-batch."""

import datetime as dt
import glob
import json
import os

from stock_market_etl_pipeline_spark.streaming.drive import drain, parquet_landing
from stock_market_etl_pipeline_spark.streaming.ingest import start_pipeline_stream

from conftest import await_drained, make_raw_rows

_STREAMING = os.path.join(
    os.path.dirname(__file__), "..", "stock_market_etl_pipeline_spark", "streaming"
)


def test_trigger_and_checkpoint_policy_live_only_in_drive():
    offenders = {}
    for path in sorted(glob.glob(os.path.join(_STREAMING, "*.py"))):
        if os.path.basename(path) == "drive.py":
            continue
        with open(path, encoding="utf-8") as fh:
            src = fh.read()
        found = [
            t
            for t in (".trigger(", "checkpointLocation", "foreachBatch(",
                      "partitionOverwriteMode")
            if t in src
        ]
        if found:
            offenders[os.path.basename(path)] = found
    assert offenders == {}


def test_drain_delivers_every_landed_row_once(spark, tmp_path):
    landing = str(tmp_path / "landing")
    ckpt = str(tmp_path / "ckpt")
    spark.range(0, 40).coalesce(1).write.parquet(landing)
    spark.range(40, 100).coalesce(1).write.mode("append").parquet(landing)
    assert len(glob.glob(os.path.join(landing, "*.parquet"))) == 2

    seen = []

    def on_batch(batch_df, batch_id):
        seen.extend(r.id for r in batch_df.collect())

    q = drain(parquet_landing(spark, landing), ckpt, on_batch)
    assert q.awaitTermination(120)  # availableNow stops by itself
    assert q.exception() is None
    await_drained(spark, q)
    assert sorted(seen) == list(range(100))

    seen.clear()
    q = drain(parquet_landing(spark, landing), ckpt, on_batch)
    assert q.awaitTermination(120)
    await_drained(spark, q)
    assert seen == []  # the checkpoint already covers both files


def test_gated_stream_runs_one_job_per_micro_batch(spark, tmp_path):
    """17 daily drops with one day of overlap: at 16 files per trigger the
    drain is two data batches plus the no-data batch that advances the
    watermark, and each of the three is one job (stage, observe, route)
    with no probe, cache fill or suite collect beside the write."""
    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    cols = ("symbol", "date", "open", "high", "low", "close", "volume")
    history = {s: make_raw_rows(s, 17) for s in ("AAA", "BBB")}
    for k in range(17):
        stamp = (dt.datetime(2024, 6, 1) + dt.timedelta(days=k)).isoformat()
        path = os.path.join(landing, f"drop-{k:02d}.json")
        with open(path, "w") as fh:
            for rows in history.values():
                for row in rows[max(k - 1, 0): k + 1]:
                    line = dict(zip(cols, row), extracted_at=stamp)
                    fh.write(json.dumps(line) + "\n")
        # the file source orders a trigger's files by modification time
        os.utime(path, (1_700_000_000 + k,) * 2)

    sink = str(tmp_path / "sink")
    q = start_pipeline_stream(
        spark, landing, sink, str(tmp_path / "quarantine"), str(tmp_path / "ckpt")
    )
    await_drained(spark, q)
    batches = q.recentProgress
    assert [p["numInputRows"] for p in batches] == [62, 4, 0]
    jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(str(q.runId))
    assert len(jobs) == len(batches)
    assert spark.read.parquet(sink).count() == 34

    with open(os.path.join(_STREAMING, "ingest.py"), encoding="utf-8") as fh:
        src = fh.read()
    assert [t for t in (".cache(", "isEmpty(", "run_quality_suite") if t in src] == []
