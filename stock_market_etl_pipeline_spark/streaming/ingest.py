"""Structured Streaming translation of the reference's daily append cycle.

The reference reruns the batch pipeline daily, appending ~100 recent days
per symbol with overlap, then dedups on (symbol, date)
(``scheduler.py:110``, ``src/load.py:252``, ``src/transform.py:199-204``;
SURVEY.md §2.10). Here that becomes a continuous micro-batch stream:

    landing dir (JSON drops) → readStream → watermarked dedup →
    foreachBatch: clean → enrich → quality gate → batch-keyed sink

- The watermark bounds dedup state: late duplicates older than the horizon
  age out of state instead of accumulating forever (the unbounded-state
  bug a naive dropDuplicates would have at 100 TB).
- ``dropDuplicatesWithinWatermark`` runs before the batch body and keeps
  the first copy of a (symbol, date) its state operator sees, across
  batches and within one trigger alike. ``clean_quotes``' keep-LAST
  tiebreak (operators/clean.py::dedup_keep_last) therefore never sees a
  duplicate in these streams: a revised quote that arrives after its
  first copy is dropped, not applied. The stream tests land identical
  copies for this reason.
- The quality-gated ingests (``start_pipeline_stream``,
  ``start_wap_gated_ingest``) share one body: stage, observe, route. A
  micro-batch is written once with the quality suite observed on that
  write, then moved whole to the sink or to quarantine. Both keep their
  output by batch id (a ``batch_id=N`` directory, a ``wapgate-N`` txn),
  so a replayed batch replaces or skips its own output: exactly-once
  under foreachBatch's at-least-once delivery.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame, Observation, SparkSession

from ..operators.clean import clean_quotes
from ..operators.enrich import enrich
from ..operators.txtable import TxTable
from ..plans.quality import observe_suite, score_suite, stock_quality_checks
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


def _stage_observed(
    batch_df: DataFrame, stage: Callable[[DataFrame], None]
) -> bool | None:
    """The quality gate's one write: ``stage`` writes the cleaned and
    enriched batch with the one-pass quality suite observed on it
    (``plans/quality.observe_suite``, as ``run_pipeline`` does), so the
    audit reads no data of its own. Returns None for an empty batch,
    else whether it met the ≥90% threshold (reference
    ``src/pipeline.py:227-251``)."""
    checks = stock_quality_checks()
    obs = Observation()
    enriched = _enrich_batch(batch_df)
    stage(observe_suite(enriched, obs, checks))
    metrics = obs.get
    if metrics["__total"] == 0:
        return None
    return score_suite(metrics, checks, enriched.columns)[0]


def start_pipeline_stream(
    spark: SparkSession,
    landing_dir: str,
    sink_dir: str,
    quarantine_dir: str,
    checkpoint_dir: str,
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

    Each micro-batch is one data action: stage, observe, route. The batch
    is written once to ``sink_dir/_staging/batch_id=N`` with the quality
    suite observed on that write, then the staged directory is renamed
    to ``batch_id=N`` under the sink (pass) or ``quarantine_dir`` (fail).
    An empty batch still runs its write, which keeps the dedup state
    store's version chain intact, and then leaves nothing behind.

    The sink is exactly-once by idempotence. foreachBatch delivers at
    least once: a crash between the rename and the checkpoint commit
    replays the batch with the same id and the same deterministic rows,
    and the replay replaces the same ``batch_id=N`` directory (Structured
    Streaming, SIGMOD 2018: exactly-once needs an idempotent sink).
    Readers see ``batch_id`` as an ordinary partition column; the
    ``_staging`` directory is hidden from Spark and pyarrow readers.
    """

    def gate_batch(batch_df: DataFrame, batch_id: int) -> None:
        part = f"batch_id={batch_id}"
        staging = os.path.join(sink_dir, "_staging", part)
        ok = _stage_observed(
            batch_df,
            lambda df: df.write.mode("overwrite")
            .partitionBy("symbol")
            .parquet(staging),
        )
        if ok is None:
            shutil.rmtree(staging)
            return
        root = sink_dir if ok else quarantine_dir
        os.makedirs(root, exist_ok=True)
        target = os.path.join(root, part)
        shutil.rmtree(target, ignore_errors=True)
        os.rename(staging, target)

    return drain(
        dedup_stream(_quote_landing(spark, landing_dir)), checkpoint_dir, gate_batch
    )


def start_wap_gated_ingest(
    spark: SparkSession,
    landing_dir: str,
    table_root: str,
    quarantine_root: str,
    checkpoint_dir: str,
):
    """The quality gate as WRITE-AUDIT-PUBLISH into transactional
    tables, with the same stage, observe, route body as
    start_pipeline_stream: each micro-batch is cleaned, enriched and
    STAGED invisibly into the serving TxTable (operators/txtable.stage_wap)
    with the quality suite observed on that write, then atomically
    published (txn_id-idempotent) or copied whole to a quarantine
    TxTable. start_pipeline_stream renames parquet directories; this is
    the same ≥90% gate upgraded to the lakehouse contract: readers of the
    serving table see a batch entirely or not at all, at EVERY crash
    point —

    - crash before/during stage: unreferenced orphans, vacuum sweeps;
    - crash after stage, before publish/quarantine: the replay drops the
      pending marker (its files become orphans) and stages again, so an
      observation is attached to exactly one write per delivery;
    - crash after publish/quarantine-append, before the checkpoint
      commit: the replay sees the txn marker on whichever table won and
      stops without recomputing anything — decisions are never
      re-derived against moved state (the semantic_dedup ADVICE-r7
      lesson applied at design time).

    Returns the started StreamingQuery (availableNow).
    """
    table = TxTable(table_root)
    quarantine = TxTable(quarantine_root)

    def gate_batch(batch_df: DataFrame, batch_id: int) -> None:
        txn = f"wapgate-{batch_id}"
        wap = f"gate-{batch_id}"
        try:
            table.abort_wap(wap)  # left pending by an earlier delivery
        except ValueError:
            pass
        if table.txn_committed(txn) or quarantine.txn_committed(txn):
            return
        ok = _stage_observed(batch_df, lambda df: table.stage_wap(df, wap))
        if ok is None:
            table.abort_wap(wap)
        elif ok:
            table.publish_wap(spark, wap, txn_id=txn)
        else:
            # copy staged rows to quarantine FIRST, then release the
            # staged files (replay after a crash in between is caught
            # by the quarantine txn marker above)
            quarantine.append(table.read_wap(spark, wap), txn_id=txn)
            table.abort_wap(wap)

    return drain(_quote_landing(spark, landing_dir), checkpoint_dir, gate_batch)
