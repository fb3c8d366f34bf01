"""Streaming inter-session gap monitor: a stateful operator that turns
an event stream into the COMPLETED idle-time gaps between each user's
sessions, exactly-once into a TxTable with an incrementally-maintained
histogram view.

The batch twin is ``registry_stats4.intersession_gap_quartiles``: that
query re-derives every session boundary from the full events table. The
streaming form keeps ONE number per user — the open session's last
event time — in the state store (applyInPandasWithState; state scales
with |users|, not |events|), and each arriving batch emits exactly the
gaps it completes:

1. per user, sort the batch's event times, prepend the stored session
   end, and scan the diffs: every diff > 30 min CLOSES a session and
   emits (user_id, gap seconds, gap_min bucket); the stored end
   advances to the batch's last event.
2. the emitted gaps append to a ``gaps`` TxTable inside foreachBatch
   with ``txn_id = gaps-<batch_id>`` — a crash-replayed batch re-emits
   the same rows and the commit is a recorded no-op (the lakehouse
   exactly-once argument, applied to a STATEFUL operator's output).
3. ``refresh_view`` maintains minute-bucket gap counts off the change
   feed, so the histogram read touches a |bucket-domain| table.

Ordering contract: events may arrive in any order WITHIN a batch (the
kernel sorts), but a user's batches must not interleave backwards
across the 30-minute horizon (the same open-before-ship discipline as
streaming/balance.py); with an out-of-order feed, front it with the
watermarked dedup ingest (``start_event_feed_ingest`` below — composed
end-to-end in tests/test_streaming_gaps.py): each drain consolidates
the disordered landing zone into ONE deduplicated staged drop, so the
monitor's batch boundaries never interleave backwards and re-delivered
duplicates can't re-open closed sessions (a duplicate of an already-
consumed event would otherwise merge BEHIND the stored session end and
re-emit a spurious gap).

At 100 TB: state is 8 bytes/user; per-batch work is the batch itself
plus a churn-bounded view refresh; nothing rescans history.

Reference lineage: no streaming surface in the reference (extension per
SURVEY §2.10).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..operators.txtable import TxTable
from ..operators.txview import refresh_view
from .drive import drain

SESSION_GAP_US = 30 * 60 * 1_000_000
OUTPUT_SCHEMA = "user_id long, gap_s bigint, gap_min bigint"
STATE_SCHEMA = "end_us bigint"


def _gap_kernel(
    key: tuple[Any, ...],
    pdfs: Iterator["pd.DataFrame"],
    state: GroupState,
) -> Iterator["pd.DataFrame"]:
    import numpy as np
    import pandas as pd

    parts = [p["ts_us"].to_numpy(dtype=np.int64) for p in pdfs]
    if state.exists:
        (end_us,) = state.get
        parts.append(np.array([end_us], dtype=np.int64))
    ts = np.sort(np.concatenate(parts))  # sort AFTER merging the stored
    # end so the state can never regress on a (contract-violating) late
    # batch and diffs run over one monotone sequence
    d = np.diff(ts)
    gap_us = d[d > SESSION_GAP_US]
    state.update((int(ts[-1]),))
    gap_s = gap_us // 1_000_000
    yield pd.DataFrame(
        {
            "user_id": np.full(len(gap_s), key[0], dtype=np.int64),
            "gap_s": gap_s.astype(np.int64),
            "gap_min": (gap_s // 60).astype(np.int64),
        }
    )


def completed_gaps(stream: DataFrame) -> DataFrame:
    """The stateful operator alone: event stream (user_id, ts) →
    completed inter-session gaps, one row per closed session boundary."""
    return (
        stream.select(
            "user_id", F.unix_micros(F.col("ts")).alias("ts_us")
        )
        .groupBy("user_id")
        .applyInPandasWithState(
            _gap_kernel,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def _tables(state_dir: str) -> dict[str, TxTable]:
    return {
        "gaps": TxTable(f"{state_dir}/gaps"),
        "gaps_view": TxTable(f"{state_dir}/gaps_view"),
    }


def start_gap_monitor(
    spark: SparkSession,
    landing_dir: str,
    state_dir: str,
    checkpoint: str,
):
    """Consume a JSON event stream (``user_id``, ``ts`` ISO timestamp)
    until drained (availableNow), appending completed gaps exactly-once
    and refreshing the minute-bucket histogram view. Returns the
    streaming query."""
    t = _tables(state_dir)
    stream = (
        spark.readStream.schema("user_id long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .json(landing_dir)
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.isEmpty():
            t["gaps"].append(batch_df, txn_id=f"gaps-{batch_id}")
        if t["gaps"].latest_snapshot() is not None:
            refresh_view(spark, t["gaps"], t["gaps_view"], ["gap_min"], [])

    return drain(completed_gaps(stream), checkpoint, sink)


def start_event_feed_ingest(
    spark: SparkSession,
    landing_dir: str,
    staging_dir: str,
    checkpoint: str,
):
    """Fronting stage for an out-of-order / duplicated event feed — the
    module docstring's prescription, concretely:

        landing JSON → event-time watermark → dropDuplicatesWithinWatermark
        on (user_id, ts) → ONE exactly-once staged drop per drain

    - duplicates (re-sent events, at-least-once upstreams) are dropped
      by bounded watermark state — a duplicate reaching the gap monitor
      after its user's state advanced would re-emit a spurious gap;
    - each availableNow drain lands as a single ``batch-<id>`` drop
      (overwrite into a batch-keyed dir = replay-idempotent, as
      ingest.start_pipeline_stream's sink is), so however
      disordered the landing files were, the monitor sees them as one
      batch and its in-kernel sort restores order;
    - events later than the watermark horizon are the composition's
      (documented, standard-streaming) lateness contract.

    Point the gap monitor at ``f"{staging_dir}/*"``. Run the drain to
    completion before the monitor's drain (the test harness pattern);
    a staged drop is re-written only if stage 1 crashed BEFORE its
    checkpoint commit, i.e. before the monitor could have seen it."""
    raw = (
        spark.readStream.schema("user_id long, ts timestamp")
        .json(landing_dir)
    )
    deduped = raw.withWatermark("ts", "1 day").dropDuplicatesWithinWatermark(
        ["user_id", "ts"]
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        (
            batch_df.coalesce(1)
            .write.mode("overwrite")
            .json(f"{staging_dir}/batch-{batch_id}")
        )

    return drain(deduped, checkpoint, sink)


def gap_histogram_frame(spark: SparkSession, state_dir: str) -> DataFrame:
    """Minute-bucket histogram of completed gaps off the incremental
    view: (gap_min, n_gaps)."""
    t = _tables(state_dir)
    return t["gaps_view"].read(spark).select(
        "gap_min", F.col("n_rows").cast("bigint").alias("n_gaps")
    )
