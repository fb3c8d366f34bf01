"""Streaming corpus-drift monitor: per-source unigram KL divergence
against a frozen reference distribution, maintained exactly-once.

The batch operator (registry_llm6.kl_source_divergence) compares sources
against EACH OTHER on the current corpus. The operating question for a
continuously-ingested training mix is different: "is what source S sends
TODAY still distributed like the corpus we validated?" — a comparison
against a FROZEN reference that must stay fixed while the live counts
accumulate, or the alarm threshold drifts with the thing it guards.

Composition (the bm25_index maintainer's discipline — every write
individually replay-idempotent, no cross-table transaction):

1. ``reference`` TxTable — the head-vocabulary reference distribution
   (token, n_ref), written ONCE by ``freeze_reference`` (txn-marked, so
   re-freezing is a recorded no-op). The vocabulary is FROZEN with it:
   every later KL is computed over exactly this support, so metric
   values are comparable across the stream's lifetime.
2. ``counts`` TxTable — per-batch (source, token, n) deltas, appended
   with txn_id = "drift-<batch_id>"; replayed appends are no-ops.
3. ``source_stats`` incremental view (operators/txview.refresh_view)
   over the counts change feed — cumulative (source, token) sums with
   bounded per-refresh rewrites; replay-idempotent via its
   cdc-<snapshot> marker.
4. ``metrics`` TxTable — one row per (batch_id, source): cumulative
   token count, KL(live || reference), and the drift flag. Appended
   with the same "drift-<batch_id>" txn. The stream is the only
   writer and batches are serial, so on a crash-replay the state the
   metrics are recomputed from (post counts-append) is byte-identical
   to the first attempt — the recompute lands on the same values, and
   the txn marker makes the append a no-op anyway.

KL math is registry_llm6's: add-one smoothing over the frozen
V-token support, p = (n + 1) / (tot + V); single exact divisions per
term, one ln per term, ROUND(...,6) on the order-sensitive sum.

100 TB story: per batch the corpus-sized work is tokenizing THE BATCH;
the KL job runs over sources x frozen-vocab rows (KBs) read from the
incremental view — never a corpus rescan. Reference lineage: no
streaming surface in the reference (extension per SURVEY §2.10/§2.12).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import ws_tokens
from ..operators.txtable import TxTable
from ..operators.txview import refresh_view
from .drive import drain, parquet_landing

_REF_VOCAB = 200          # frozen head-vocabulary size
_KL_THRESHOLD = 0.25      # KL nats above which a source is "drifted"


def _drift_tables(state_dir: str) -> dict[str, TxTable]:
    return {
        "reference": TxTable(f"{state_dir}/reference"),
        "counts": TxTable(f"{state_dir}/counts"),
        "source_stats": TxTable(f"{state_dir}/source_stats"),
        "metrics": TxTable(f"{state_dir}/metrics"),
    }


def _tokenize(docs: DataFrame) -> DataFrame:
    """(source, token, n) — the registry_llm6 tokenization (lowercased
    whitespace tokens)."""
    return (
        docs.select(
            "source", F.explode(ws_tokens(F.col("text"))).alias("__tk")
        )
        .select("source", F.lower("__tk").alias("token"))
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


def freeze_reference(
    spark: SparkSession, ref_docs: DataFrame, state_dir: str
) -> int:
    """Freeze the monitor's reference: the top-{_REF_VOCAB} tokens of
    ``ref_docs`` (by corpus count, ties by token) with their counts.
    Idempotent via the "drift-reference" txn marker — a crashed-and-
    replayed freeze does not duplicate or shift the reference."""
    t = _drift_tables(state_dir)
    if t["reference"].txn_committed("drift-reference"):
        return t["reference"].latest_snapshot()
    tok = _tokenize(ref_docs).groupBy("token").agg(
        F.sum("n").cast("long").alias("n_ref")
    )
    head = tok.orderBy(F.col("n_ref").desc(), "token").limit(_REF_VOCAB)
    return t["reference"].append(head, txn_id="drift-reference")


def _kl_per_source(spark: SparkSession, t: dict[str, TxTable]) -> DataFrame:
    """KL(live_source || reference) over the frozen support, from the
    incremental view — sources x vocab rows, no corpus scan."""
    ref = t["reference"].read(spark).localCheckpoint(eager=True)
    live = t["source_stats"].read(spark).select(
        "source", "token", F.col("sum_n").cast("long").alias("n")
    )
    # restrict live counts to the frozen support, then densify. The
    # totals come from ALL live sources, not just those intersecting
    # the support: a source whose stream shares NO tokens with the
    # reference is the MOST drifted case (tot = 0 → uniform smoothed
    # distribution → near-maximal KL), and must not vanish from the
    # metrics by an inner join.
    lv = live.join(F.broadcast(ref.select("token")), "token")
    vt = lv.groupBy("source").agg(F.sum("n").cast("long").alias("__vt"))
    totals = (
        live.groupBy("source")
        .agg(F.sum("n").cast("long").alias("all_tokens"))
        .join(vt, "source", "left")
        .select(
            "source", "all_tokens",
            F.coalesce(F.col("__vt"), F.lit(0)).cast("long").alias("tot"),
        )
    )
    rtot = ref.agg(
        F.sum("n_ref").cast("long").alias("ref_tot"),
        F.count(F.lit(1)).cast("long").alias("v"),
    )
    dense = (
        totals.crossJoin(F.broadcast(ref))
        .crossJoin(F.broadcast(rtot))
        .join(lv, ["source", "token"], "left")
        .select(
            "source", "tot", "all_tokens", "v",
            ((F.coalesce(F.col("n"), F.lit(0)) + 1)
             / (F.col("tot") + F.col("v"))).alias("p"),
            ((F.col("n_ref") + 1)
             / (F.col("ref_tot") + F.col("v"))).alias("q"),
        )
    )
    kl = F.round(F.sum(F.col("p") * F.log(F.col("p") / F.col("q"))), 6)
    # support-restricted KL is BLIND to out-of-vocabulary mass (a source
    # emitting only never-seen tokens has an unchanged restricted
    # distribution), so the OOV share is a first-class second signal and
    # the drift flag fires on either.
    # one exact int division ((all - tot) / all), not 1.0 - ratio —
    # the subtraction form loses a ulp and breaks exact comparisons
    oov = (F.max("all_tokens") - F.max("tot")) / F.max("all_tokens")
    return dense.groupBy("source").agg(
        F.max("tot").alias("n_tokens_in_vocab"),
        F.max("all_tokens").alias("n_tokens_total"),
        oov.alias("oov_share"),
        kl.alias("kl_vs_reference"),
        ((kl > F.lit(_KL_THRESHOLD)) | (oov > F.lit(0.5))).alias("drifted"),
    )


def start_drift_monitor(
    spark: SparkSession,
    landing_dir: str,
    state_dir: str,
    checkpoint_dir: str,
):
    """availableNow stream appending per-batch drift metrics. Requires a
    frozen reference (freeze_reference) — batches arriving before the
    freeze raise, by design: a monitor silently self-referencing its
    first batch would never flag anything."""
    t = _drift_tables(state_dir)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        if t["reference"].latest_snapshot() is None:
            raise ValueError(
                "drift monitor has no frozen reference "
                "(call freeze_reference first)"
            )
        txn = f"drift-{batch_id}"
        if not t["counts"].txn_committed(txn):
            t["counts"].append(_tokenize(batch_df), txn_id=txn)
        refresh_view(
            spark, t["counts"], t["source_stats"], ["source", "token"], ["n"]
        )
        if not t["metrics"].txn_committed(txn):
            m = _kl_per_source(spark, t).select(
                F.lit(batch_id).cast("long").alias("batch_id"),
                "source", "n_tokens_in_vocab", "n_tokens_total",
                "oov_share", "kl_vs_reference", "drifted",
            )
            t["metrics"].append(m, txn_id=txn)

    return drain(parquet_landing(spark, landing_dir), checkpoint_dir, process)


def drift_metrics(spark: SparkSession, state_dir: str) -> DataFrame:
    """The metrics table: one row per (batch_id, source) with the KL
    trajectory — what the alerting layer tails."""
    return _drift_tables(state_dir)["metrics"].read(spark)
