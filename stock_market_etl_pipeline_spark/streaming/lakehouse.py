"""Streaming lakehouse ingest: a Structured Streaming source feeding a
TxTable exactly-once, with an incrementally-maintained aggregate view
refreshed in the SAME micro-batch cycle.

This is the composition the storage layer exists for — the three pieces
are each certified alone (TxTable txn-idempotent commits under replay:
tests/test_txtable.py; CDC-driven view refresh == full recompute:
tests/test_txview.py; at-least-once foreachBatch semantics:
streaming/ingest.py) and this module wires them into the classic
bronze→gold pattern:

    stream → TxTable.append(txn_id=batch_id)      # bronze, exactly-once
           → refresh_view(src, view, …)           # gold, incremental

Crash anywhere and the replayed batch re-runs both steps: the append is
a recorded no-op (same txn_id), and refresh_view recovers the last
synced snapshot from the view's own log — if the view already applied
the source snapshot the batch produced, the refresh is a no-op too; if
the crash hit between append and refresh, the refresh applies exactly
the missing delta. No step reads the checkpoint to decide — all
recovery state lives in the two table logs, which is what makes the
pair exactly-once END TO END rather than per-component.

At 100 TB: each refresh reads only the files the batch added (CDC cost
∝ churn) and rewrites only view files containing touched groups — the
view never recomputes, the table never rescans.

Reference parity: the reference's closest analog is the load step
rewriting its SQL table per run (``src/load.py``); this is the
continuous, incremental, crash-safe version of that contract.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from ..operators.txtable import TxTable
from ..operators.txview import refresh_view
from .drive import drain


def start_lakehouse_ingest(
    spark: SparkSession,
    source_dir: str,
    source_schema: str,
    table_root: str,
    view_root: str,
    group_cols: list[str],
    sum_cols: list[str],
    checkpoint: str,
):
    """Run the bronze→gold cycle over a file stream until no data is
    left (availableNow trigger): append each micro-batch to the TxTable
    with txn_id = batch id, then advance the aggregate view to the
    table's new snapshot. Returns the streaming query (await it)."""
    table = TxTable(table_root)
    view = TxTable(view_root)

    def sink(batch_df, batch_id: int) -> None:
        if not batch_df.isEmpty():
            table.append(batch_df, txn_id=f"batch-{batch_id}")
        if table.latest_snapshot() is not None:
            refresh_view(spark, table, view, group_cols, sum_cols)

    stream = (
        spark.readStream.schema(source_schema)
        .option("maxFilesPerTrigger", 1)
        .json(source_dir)
    )
    return drain(stream, checkpoint, sink)
