"""The single streaming scaffold (streaming/drive.py): no maintainer carries
its own writeStream scaffold or partition-overwrite write, ``drain`` over a parquet landing
directory delivers every landed row once and stops on its own, each batch
body runs with the caller's AQE setting while the stream's own session
keeps AQE off, and the quality-gated pipeline stream writes each
micro-batch at its batch's width."""

import datetime as dt
import glob
import json
import os

from stock_market_etl_pipeline_spark.streaming.drive import drain, parquet_landing
from stock_market_etl_pipeline_spark.streaming.ingest import start_pipeline_stream

from conftest import await_drained, make_raw_rows

_AQE = "spark.sql.adaptive.enabled"

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


def test_drain_runs_body_with_callers_aqe(spark, tmp_path):
    """Spark plans a stateful stream on a session clone with AQE off.
    The body plans with the caller's AQE setting instead; the clone reads
    AQE off again once the drain is over, so the stateful operators of
    later micro-batches are planned as Spark plans them."""
    landing = str(tmp_path / "landing")
    spark.range(0, 10).coalesce(1).write.parquet(landing)
    spark.range(5, 20).coalesce(1).write.mode("append").parquet(landing)
    assert spark.conf.get(_AQE) == "true"
    sessions, inside = [], []

    def on_batch(batch_df, batch_id):
        sessions.append(batch_df.sparkSession)
        inside.append(batch_df.sparkSession.conf.get(_AQE))
        batch_df.count()  # a stateful batch must run for its state to commit

    stream = parquet_landing(spark, landing).dropDuplicates(["id"])
    q = drain(stream, str(tmp_path / "ckpt"), on_batch)
    await_drained(spark, q)
    assert inside and set(inside) == {"true"}
    assert [s.conf.get(_AQE) for s in sessions] == ["false"] * len(sessions)


def test_gated_stream_writes_each_micro_batch_at_its_width(spark, tmp_path):
    """17 daily drops with one day of overlap: at 16 files per trigger the
    drain is two data batches plus the no-data batch that advances the
    watermark. Each of the three is two jobs: the shuffle-map stage that
    AQE runs on its own, then the write (stage, observe, route), with no
    probe, cache fill or suite collect beside them. AQE coalesces the
    write to the rows a micro-batch carries: one task, not one per
    shuffle partition."""
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
    tracker = spark.sparkContext.statusTracker()
    jobs = sorted(tracker.getJobIdsForGroup(str(q.runId)))
    per_batch = len(jobs) // len(batches)
    last_stages = [
        max(tracker.getJobInfo(j).stageIds) for j in jobs[per_batch - 1::per_batch]
    ]
    assert [tracker.getStageInfo(s).numTasks for s in last_stages] == [1, 1, 1]
    assert len(jobs) == 2 * len(batches)
    assert spark.read.parquet(sink).count() == 34

    with open(os.path.join(_STREAMING, "ingest.py"), encoding="utf-8") as fh:
        src = fh.read()
    assert [t for t in (".cache(", "isEmpty(", "run_quality_suite") if t in src] == []
