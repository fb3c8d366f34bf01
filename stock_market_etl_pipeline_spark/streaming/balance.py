"""Streaming open-orders balance: an event-sourced running balance
maintained exactly-once over THREE event kinds with different update
semantics — append-only opens, MOVABLE closes, and DELETE-shaped
cancellations (the insert/update/delete triangle of a change feed).

The batch query (registry_stats3.open_orders_balance) computes the
monthly opened/closed counts and the cumulative open balance from the
full fact tables. The streaming form must handle what the batch form
gets for free: a LATE shipment can extend an order's close date into a
different month, which is a RETRACTION — the old month's close count
must go down and the new month's up. The composition:

1. ``opens`` TxTable — append-only (order, open_month) rows, one
   txn-marked append per batch (replays are recorded no-ops).
2. ``closes`` TxTable — one row per order holding its CURRENT close
   date (max shipdate so far) and close_month. Each batch does a
   read-modify-write bounded to the batch's order keys: new_closed =
   greatest(arriving max, stored) — and MERGEs only rows that actually
   changed. max is idempotent, so a crash-after-merge replay recomputes
   the same values and the txn marker makes the merge a no-op anyway.
   Ships for CANCELLED orders are dropped before this merge via an
   anti-join against the ``cancelled`` tombstone table (one key per
   cancelled order, maintained before the ship path each batch) — a
   late shipment arriving after its order's cancel would otherwise
   resurrect a close row with no matching open and drive the balance
   negative (ADVICE r11).
3. two incremental views (operators/txview.refresh_view) — counts per
   open_month / close_month off each table's change feed. The merge
   that moves an order's close month surfaces in the feed as
   delete(old row) + insert(new row), so the view applies the
   retraction WITHOUT any special-casing: -1 on the old month, +1 on
   the new.
4. ``open_orders_balance_frame`` — read-time full-outer join of the
   two month views plus a cumulative window over the months-sized
   rollup; row-for-row equal to the batch query on the same events
   (asserted in tests/test_streaming_balance.py).

Crash anywhere and the replayed batch re-runs every step: appends and
merges are txn-recorded no-ops, refresh_view recovers its last synced
snapshot from the view log — the lakehouse module's end-to-end
exactly-once argument, extended with an UPDATE (not just append)
bronze table.

At 100 TB: per-batch work is the batch itself plus a key-bounded
read-modify-write against ``closes`` (the same class as MERGE's
discovery scan — file-prunable on a clustered layout) and churn-bounded
view refreshes; the balance read touches only the two month rollups.

Reference lineage: no streaming surface in the reference (extension per
SURVEY §2.10); the balance shape mirrors registry_stats3's batch query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.txtable import TxTable
from ..operators.txview import refresh_view
from .drive import drain

EVENT_SCHEMA = "kind string, orderkey long, d string"


def _tables(state_dir: str) -> dict[str, TxTable]:
    return {
        "opens": TxTable(f"{state_dir}/opens"),
        "closes": TxTable(f"{state_dir}/closes"),
        "cancelled": TxTable(f"{state_dir}/cancelled"),
        "opens_view": TxTable(f"{state_dir}/opens_view"),
        "closes_view": TxTable(f"{state_dir}/closes_view"),
    }


def start_balance_maintainer(
    spark: SparkSession,
    landing_dir: str,
    state_dir: str,
    checkpoint: str,
):
    """Consume a JSON event stream (``kind`` = 'open' | 'ship' |
    'cancel', ``orderkey``, ``d`` = the event date; a cancel removes
    the order's open — and its close if one was recorded) until drained
    (availableNow), maintaining the four state tables. Returns the
    streaming query."""
    t = _tables(state_dir)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        b = batch_df.select(
            "kind", "orderkey", F.to_date("d").alias("d")
        ).localCheckpoint()  # one evaluation feeds both kinds

        op = b.filter(F.col("kind") == "open").select(
            "orderkey", F.trunc("d", "month").alias("open_month")
        )
        if not op.isEmpty():
            t["opens"].append(op, txn_id=f"open-{batch_id}")

        # Tombstone set for cancelled orders, marked BEFORE the ship
        # path runs (ADVICE r11): a late 'ship' arriving in the same or
        # a LATER batch than its order's 'cancel' must NOT re-insert a
        # close row — the open was deleted, so a resurrected close would
        # drive open_balance negative. The tombstone table is one
        # 8-byte key per cancelled order ever seen (churn-, not
        # history-, sized); the ship path anti-joins against it via the
        # same key-bounded bloom+stats point lookup as the closes
        # read-modify-write. merge is upsert-idempotent and txn-marked,
        # so crash-replays re-mark as no-ops. Ordering contract is now
        # only open-before-cancel; ship-vs-cancel order is free.
        cx = (
            b.filter(F.col("kind") == "cancel")
            .select("orderkey")
            .distinct()
        )
        has_cancels = not cx.isEmpty()
        if has_cancels:
            t["cancelled"].merge(
                spark, cx, ["orderkey"], txn_id=f"cancel-mark-{batch_id}"
            )

        sh = (
            b.filter(F.col("kind") == "ship")
            .groupBy("orderkey")
            .agg(F.max("d").alias("ship_d"))
        )
        if not sh.isEmpty() and t["cancelled"].latest_snapshot() is not None:
            probe_keys = [
                r.orderkey for r in sh.select("orderkey").collect()
            ]
            if len(probe_keys) <= TxTable.BLOOM_MAX_PROBE_KEYS:
                tomb = t["cancelled"].read_predicate(
                    spark, {"orderkey": ("in", probe_keys)}
                )
            else:
                tomb = t["cancelled"].read(spark)
            sh = sh.join(
                tomb.select("orderkey"), "orderkey", "left_anti"
            )
        if not sh.isEmpty():
            if t["closes"].latest_snapshot() is not None:
                # Key-bounded read-modify-write (ADVICE r10): the
                # greatest() comparison only needs the stored rows for
                # THIS batch's orderkeys, so read them via the
                # bloom+stats IN-leaf lookup (read_predicate) instead of
                # scanning the whole closes table — per-batch cost is
                # then churn-bounded, as the module docstring claims.
                # The key list is one micro-batch's distinct orderkeys
                # (bounded by the trigger size); past the probe cap the
                # full read + broadcast-key join is the documented
                # fallback, same rows either way.
                ship_keys = [r.orderkey for r in sh.select("orderkey")
                             .collect()]
                if len(ship_keys) <= TxTable.BLOOM_MAX_PROBE_KEYS:
                    cur_src = t["closes"].read_predicate(
                        spark, {"orderkey": ("in", ship_keys)}
                    )
                else:
                    cur_src = t["closes"].read(spark)
                cur = cur_src.select(
                    "orderkey", F.col("closed").alias("__cur")
                )
                merged = sh.join(cur, "orderkey", "left")
            else:
                merged = sh.withColumn("__cur", F.lit(None).cast("date"))
            upd = (
                merged.select(
                    "orderkey",
                    F.greatest(
                        F.col("ship_d"), F.coalesce("__cur", "ship_d")
                    ).alias("closed"),
                    F.col("__cur"),
                )
                # merge only rows that actually move — keeps the change
                # feed (and the view refresh) proportional to real churn
                .filter(
                    F.col("__cur").isNull()
                    | (F.col("closed") > F.col("__cur"))
                )
                .select(
                    "orderkey", "closed",
                    F.trunc("closed", "month").alias("close_month"),
                )
            )
            if not upd.isEmpty():
                t["closes"].merge(
                    spark, upd, ["orderkey"], txn_id=f"close-{batch_id}"
                )

        # DELETE-shaped event (VERDICT r10 #5): a cancellation retracts
        # the OPEN itself — the third change-feed shape after append
        # (open) and update (movable close). merge(when_matched=
        # 'delete') tombstones the order's row in BOTH tables (the
        # close too, if a ship already recorded one); the change feed
        # then shows delete(old row) with no insert, so the views
        # decrement the open/close months with no special-casing.
        # Replays are txn-marked no-ops like every other commit here.
        # Ordering contract: the cancel must not precede its order's
        # open across batches — within a batch the open is appended
        # above before the delete runs. Ship-after-cancel is handled
        # (dropped via the tombstone anti-join above), not a violation.
        if has_cancels:
            if t["opens"].latest_snapshot() is not None:
                t["opens"].merge(
                    spark, cx, ["orderkey"], when_matched="delete",
                    txn_id=f"cancel-open-{batch_id}",
                )
            if t["closes"].latest_snapshot() is not None:
                t["closes"].merge(
                    spark, cx, ["orderkey"], when_matched="delete",
                    txn_id=f"cancel-close-{batch_id}",
                )

        if t["opens"].latest_snapshot() is not None:
            refresh_view(
                spark, t["opens"], t["opens_view"], ["open_month"], []
            )
        if t["closes"].latest_snapshot() is not None:
            refresh_view(
                spark, t["closes"], t["closes_view"], ["close_month"], []
            )

    stream = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(landing_dir)
    )
    return drain(stream, checkpoint, sink)


def open_orders_balance_frame(
    spark: SparkSession, state_dir: str
) -> DataFrame:
    """The running balance off the two month views — same columns and
    values as registry_stats3.open_orders_balance over the equivalent
    fact tables (months where nothing opened or closed both show 0)."""
    t = _tables(state_dir)
    op = t["opens_view"].read(spark).select(
        F.col("open_month").alias("month_start"),
        F.col("n_rows").alias("n_opened"),
    )
    cl = t["closes_view"].read(spark).select(
        F.col("close_month").alias("month_start"),
        F.col("n_rows").alias("n_closed"),
    )
    mm = (
        op.join(cl, "month_start", "full_outer")
        .select(
            "month_start",
            F.coalesce("n_opened", F.lit(0)).cast("bigint")
            .alias("n_opened"),
            F.coalesce("n_closed", F.lit(0)).cast("bigint")
            .alias("n_closed"),
        )
    )
    wb = Window.orderBy("month_start").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return mm.select(
        "month_start", "n_opened", "n_closed",
        F.sum(F.col("n_opened") - F.col("n_closed")).over(wb)
        .cast("bigint").alias("open_balance"),
    )
