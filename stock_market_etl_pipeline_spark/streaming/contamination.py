r"""Continuous benchmark-decontamination monitor: the streaming
composition of ``registry_llm2.contamination_ngram_coverage``.

A held-out benchmark suite is fixed; training documents ARRIVE.  The
batch query rescans the whole corpus per report; at 100 TB the corpus
gram set cannot be rebuilt per batch — but it doesn't need to exist at
all: contamination is a MONOTONE property of benchmark grams (a gram,
once seen anywhere in the corpus, stays contaminated), so the persisted
state is the ≤|benchmark-grams| HIT SET, not the unbounded corpus gram
set.  Per micro-batch:

1. hash the batch's distinct word 8-grams to 60 bits (the
   span_duplication_rate shuffle-key discipline);
2. probe the FIXED benchmark gram table (built once, KB-scale — it
   broadcasts) with an equi-join on the hash;
3. write the batch's benchmark-gram hits to ``hits_dir/batch_id=N`` —
   batch_id-keyed dynamic partition overwrite, so a replayed batch
   rewrites identical rows (the near_dedup/sketch_rollup exactly-once
   pattern: idempotent state writes, not transactions);
4. the coverage report is a distinct-union over the hit partitions
   joined to the benchmark totals — monotone, replay-stable, and never
   touches corpus text again.

The reference has no streaming or curation surface (reference
``src/transform.py`` is single-process pandas); this extends SURVEY
§2.10 with the decontamination-monitor composition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import md5_hash60, word_shingles_all, ws_tokens
from .drive import (
    _read_store_if_exists,
    drain,
    overwrite_partitions,
    parquet_landing,
)

CONTAM_K = 8


def doc_gram_hashes(docs: DataFrame, k: int = CONTAM_K) -> DataFrame:
    """(doc_id, h): distinct 60-bit hashes of the doc's word k-grams.
    Short docs (< k tokens) contribute nothing (word_shingles_all's
    n≥k guard — the r4 ADVICE discipline)."""
    return (
        docs.select(
            "doc_id",
            F.explode(
                word_shingles_all(ws_tokens(F.col("text")), k)
            ).alias("g"),
        )
        .select("doc_id", md5_hash60(F.col("g")).alias("h"))
        .distinct()
    )


def build_benchmark_grams(
    spark: SparkSession, bench_docs: DataFrame, bench_dir: str,
) -> None:
    """One-time: persist the benchmark suite's (doc_id, h) gram table.
    Benchmark suites are MBs, so this table is KB-to-MB scale and
    broadcastable at probe time."""
    doc_gram_hashes(bench_docs, CONTAM_K).write.mode("overwrite").parquet(
        bench_dir)


def probe_batch(batch_grams: DataFrame, bench_grams: DataFrame) -> DataFrame:
    """(doc_id, h) benchmark grams hit by this batch: equi-join on the
    60-bit hash, benchmark side broadcast (it is the small, fixed side
    at any corpus scale)."""
    hits = batch_grams.select("h").distinct()
    return (
        F.broadcast(bench_grams)
        .join(hits, "h", "left_semi")
        .select("doc_id", "h")
    )


def start_contamination_monitor(
    spark: SparkSession,
    landing_dir: str,
    bench_dir: str,
    hits_dir: str,
    checkpoint_dir: str,
):
    """Maintain the benchmark hit set incrementally over an arriving
    document stream (availableNow). Returns the started query."""
    bench = spark.read.parquet(bench_dir)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        hits = probe_batch(doc_gram_hashes(batch_df), bench).localCheckpoint(
            eager=True
        )
        if hits.isEmpty():
            # a clean batch writes nothing: an all-empty partitioned
            # write would leave a footerless parquet dir that breaks
            # schema inference downstream; skipping is replay-stable
            # (the replayed batch computes the same empty set)
            return
        overwrite_partitions(
            hits.withColumn("batch_id", F.lit(batch_id)), hits_dir, "batch_id"
        )

    return drain(parquet_landing(spark, landing_dir), checkpoint_dir, process)


def contamination_report(
    spark: SparkSession, bench_dir: str, hits_dir: str
) -> DataFrame:
    """Per-benchmark-doc coverage from the persisted state: distinct
    hits (replay/rewrite-stable) over totals. Exact int64 counts; the
    rate divides them raw — same schema as the batch query
    ``contamination_ngram_coverage``."""
    bench = spark.read.parquet(bench_dir)
    totals = bench.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_grams")
    )
    hit_store = _read_store_if_exists(spark, hits_dir)
    if hit_store is None:
        return totals.select(
            "doc_id",
            "n_grams",
            F.lit(0).cast("long").alias("n_contaminated"),
            F.lit(0.0).alias("contamination_rate"),
        )
    hits = (
        hit_store.select("doc_id", "h")
        .distinct()
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_contaminated"))
    )
    return totals.join(hits, "doc_id", "left").select(
        "doc_id",
        "n_grams",
        F.coalesce(F.col("n_contaminated"), F.lit(0)).alias(
            "n_contaminated"
        ),
        (
            F.coalesce(F.col("n_contaminated"), F.lit(0))
            * F.lit(1.0)
            / F.col("n_grams")
        ).alias("contamination_rate"),
    )
