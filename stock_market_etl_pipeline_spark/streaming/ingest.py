"""Structured Streaming translation of the reference's daily append cycle.

The reference reruns the batch pipeline daily, appending ~100 recent days
per symbol with overlap, then dedups on (symbol, date)
(``scheduler.py:110``, ``src/load.py:252``, ``src/transform.py:199-204``;
SURVEY.md §2.10). Here that becomes a continuous micro-batch stream:

    landing dir (JSON drops) → readStream → clean → watermarked
    keep-last dedup → foreachBatch upsert into a parquet/Delta-style sink

- The watermark bounds dedup state: late duplicates older than the horizon
  age out of state instead of accumulating forever (the unbounded-state
  bug a naive dropDuplicates would have at 100 TB).
- ``dropDuplicatesWithinWatermark`` keeps the FIRST arrival; the
  reference's keep-LAST semantics are preserved by the foreachBatch merge,
  which applies per-batch keep-last against the sink (same tiebreak as
  operators/clean.py::dedup_keep_last).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.clean import clean_quotes, dedup_keep_last
from ..operators.enrich import enrich
from ..operators.txtable import AlreadyStaged, TxTable
from ..plans.quality import run_quality_suite, stock_quality_checks
from ..schema import RAW_QUOTE_SCHEMA
from .drive import drain


def _quote_landing(spark: SparkSession, landing_dir: str) -> DataFrame:
    """Raw quote stream over a JSON landing directory, at most 16 files
    per micro-batch (ingestion throttle, S3 analog)."""
    return (
        spark.readStream.schema(RAW_QUOTE_SCHEMA)
        .option("maxFilesPerTrigger", 16)
        .json(landing_dir)
    )


def _enrich_batch(batch_df: DataFrame) -> DataFrame:
    """One micro-batch of raw quotes cleaned and enriched, as the batch
    pipeline does it."""
    return enrich(clean_quotes(batch_df).drop("extracted_at", "data_source"))


def dedup_stream(stream: DataFrame) -> DataFrame:
    """Watermarked streaming dedup on (symbol, date).

    State is keyed by (symbol, date) and dropped once the watermark passes
    ``extracted_at`` + 2 days — bounded memory at any scale.
    """
    return stream.withWatermark("extracted_at", "2 days").dropDuplicatesWithinWatermark(
        ["symbol", "date"]
    )


def start_quote_ingest(
    spark: SparkSession,
    landing_dir: str,
    sink_dir: str,
    checkpoint_dir: str,
):
    """File-source micro-batch ingest: landing JSON → cleaned parquet sink.

    ``foreachBatch`` writes per-micro-batch with keep-last dedup INSIDE the
    batch (cross-batch duplicates are handled by the watermark state above).
    Returns the StreamingQuery; callers await ``query.awaitTermination()``.
    """

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        resolved = dedup_keep_last(
            batch_df, keys=["symbol", "date"], order_by=["extracted_at"]
        )
        (
            resolved.write.mode("append")
            .partitionBy("symbol")
            .parquet(sink_dir)
        )

    return drain(
        dedup_stream(_quote_landing(spark, landing_dir)), checkpoint_dir, write_batch
    )


def enrich_stream_with_dim(stream: DataFrame, dim: DataFrame) -> DataFrame:
    """Stream-static join: each micro-batch joins against the (small,
    broadcast) dimension snapshot — Spark re-plans the static side per
    batch, so a refreshed dim table is picked up without restarting the
    query. The canonical pattern for enriching a quote stream with the
    company-overview fundamentals at any scale (dim is KB-sized per
    symbol universe; the stream side never shuffles for the join)."""
    return stream.join(F.broadcast(dim), "symbol", "left")


def _gate_and_write(sink_dir: str, quarantine_dir: str, exactly_once: bool):
    """The per-micro-batch quality gate: clean + enrich the batch, run the
    one-pass quality suite on it, and write it whole to the sink if it
    meets the ≥90% threshold, else to ``quarantine_dir/batch_id=N``.
    Blind append, unless ``exactly_once``: then the batch overwrites its
    own ``batch_id=N`` directory (see start_pipeline_stream)."""

    def gate_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        enriched = _enrich_batch(batch_df).cache()
        try:
            ok, _rate, _results = run_quality_suite(
                enriched, stock_quality_checks()
            )
            quarantine = f"{quarantine_dir}/batch_id={batch_id}"
            if exactly_once:
                target = f"{sink_dir}/batch_id={batch_id}" if ok else quarantine
                mode = "overwrite"
            else:
                target = sink_dir if ok else quarantine
                mode = "append"
            enriched.write.mode(mode).partitionBy("symbol").parquet(target)
        finally:
            enriched.unpersist()

    return gate_batch


def start_gated_quote_ingest(
    spark: SparkSession,
    landing_dir: str,
    sink_dir: str,
    quarantine_dir: str,
    checkpoint_dir: str,
):
    """Quality-gated streaming ingest: the batch pipeline's ≥90% validation
    gate (reference ``src/pipeline.py:227-251``) applied per micro-batch.

    Each micro-batch is cleaned + enriched, then run through the one-pass
    quality suite; batches meeting the threshold append to the sink, the
    rest divert whole to a quarantine directory with the batch id — bad
    feeds never contaminate the serving table, and nothing is silently
    dropped. Returns the StreamingQuery.
    """
    return drain(
        _quote_landing(spark, landing_dir),
        checkpoint_dir,
        _gate_and_write(sink_dir, quarantine_dir, exactly_once=False),
    )


def start_pipeline_stream(
    spark: SparkSession,
    landing_dir: str,
    sink_dir: str,
    quarantine_dir: str,
    checkpoint_dir: str,
    exactly_once: bool = False,
):
    """The WHOLE batch pipeline as one streaming composition:

        landing JSON → watermarked cross-batch dedup → clean (incl.
        within-batch keep-last) → enrich → per-micro-batch quality gate →
        partitioned parquet sink (failing batches divert to quarantine)

    The streaming twin of ``pipeline.run_pipeline``: for a single
    availableNow drop the sink contents are row-identical to the batch
    pipeline's output (asserted in tests/test_streaming_pipeline_e2e.py).
    Enrichment windows are computed per micro-batch — matching the
    reference's daily rerun-over-recent-history model, where each drop
    carries the full lookback window it needs (scheduler.py:110).

    ``exactly_once=True`` makes the sink write REPLAY-IDEMPOTENT: each
    micro-batch overwrites its own ``batch_id=N`` subdirectory instead of
    blind-appending to the sink root. foreachBatch gives at-least-once
    delivery — a crash between the sink write and the checkpoint commit
    replays the batch on restart, and an append sink would duplicate every
    row (proven in tests/test_streaming_pipeline_e2e.py). Keyed-by-batch
    overwrite makes the replay write the SAME directory with the SAME
    deterministic content: exactly-once by idempotence, the parquet-sink
    analog of a transactional MERGE. Readers see batch_id as an ordinary
    partition column.
    """
    return drain(
        dedup_stream(_quote_landing(spark, landing_dir)),
        checkpoint_dir,
        _gate_and_write(sink_dir, quarantine_dir, exactly_once),
    )


def start_wap_gated_ingest(
    spark: SparkSession,
    landing_dir: str,
    table_root: str,
    quarantine_root: str,
    checkpoint_dir: str,
):
    """The quality gate as WRITE-AUDIT-PUBLISH into transactional
    tables: each micro-batch is cleaned + enriched, STAGED invisibly
    into the serving TxTable (operators/txtable.stage_wap), audited by
    the one-pass quality suite READING THE STAGED FILES (staging is the
    single materialization — no cache/unpersist dance), then atomically
    published (txn_id-idempotent) or diverted whole to a quarantine
    TxTable. start_gated_quote_ingest writes raw parquet directories;
    this is the same ≥90% gate (reference ``src/pipeline.py:227-251``)
    upgraded to the lakehouse contract: readers of the serving table see
    a batch entirely or not at all, at EVERY crash point —

    - crash before/during stage: unreferenced orphans, vacuum sweeps;
    - crash after stage, before the audit/publish: the replay finds the
      pending marker and audits THE SAME staged files (stage_wap is
      wap_id-idempotent here by reuse, not re-write);
    - crash after publish/quarantine-append, before the checkpoint
      commit: the replay sees the txn marker on whichever table won and
      drops the stale pending marker without recomputing anything —
      decisions are never re-derived against moved state (the
      semantic_dedup ADVICE-r7 lesson applied at design time).

    Returns the started StreamingQuery (availableNow).
    """
    table = TxTable(table_root)
    quarantine = TxTable(quarantine_root)

    def gate_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        txn = f"wapgate-{batch_id}"
        wap = f"gate-{batch_id}"
        if table.txn_committed(txn) or quarantine.txn_committed(txn):
            # this batch already landed on a previous delivery; a crash
            # between the commit and the marker cleanup may have left a
            # stale pending WAP — drop it, never re-audit
            try:
                table.abort_wap(wap)
            except ValueError:
                pass
            return
        try:
            table.stage_wap(_enrich_batch(batch_df), wap)
        except AlreadyStaged:
            pass  # staged by a crashed earlier attempt: audit those files
        staged = table.read_wap(spark, wap)
        ok, _rate, _results = run_quality_suite(staged, stock_quality_checks())
        if ok:
            table.publish_wap(spark, wap, txn_id=txn)
        else:
            # copy staged rows to quarantine FIRST, then release the
            # staged files (replay after a crash in between is caught
            # by the quarantine txn marker above)
            quarantine.append(staged, txn_id=txn)
            table.abort_wap(wap)

    return drain(_quote_landing(spark, landing_dir), checkpoint_dir, gate_batch)
