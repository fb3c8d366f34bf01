"""The single streaming scaffold (streaming/drive.py): no maintainer carries
its own writeStream scaffold or partition-overwrite write, and ``drain`` over a parquet landing
directory delivers every landed row once and stops on its own."""

import glob
import os

from stock_market_etl_pipeline_spark.streaming.drive import drain, parquet_landing

from conftest import await_drained

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
