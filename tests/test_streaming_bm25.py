"""Streaming BM25 index maintainer (streaming/bm25_index.py): top-k
parity with the batch bm25_topk on the union corpus, incremental view
correctness, and crash-replay convergence at every seam."""

import pytest

# Long-matrix tier (VERDICT r12 #1): multi-batch streaming / replay /
# restart-storm e2e tests. Excluded from the default run so the driver's
# verify window fits; run with `python -m pytest tests/ -m slow -q` (the
# round close-out ritual runs all tiers).
pytestmark = pytest.mark.slow

import os

from pyspark.sql import functions as F

from conftest import SF_DIR, await_drained, crash_last_commit
from stock_market_etl_pipeline_spark import registry
from stock_market_etl_pipeline_spark.operators.txtable import TxTable
from stock_market_etl_pipeline_spark.streaming.bm25_index import (

    bm25_from_index,
    start_bm25_index_stream,
)


def _docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


def _dirs(tmp_path):
    return {k: str(tmp_path / k) for k in ("landing", "index", "ckpt")}


def _run(spark, d):
    q = start_bm25_index_stream(
        spark, d["landing"], d["index"], d["ckpt"]
    )
    await_drained(spark, q)


def _topk_rows(df):
    return sorted(
        (r.query_id, r.doc_id, r.bm25, r.bm25_rank) for r in df.collect()
    )


def test_streamed_index_topk_equals_batch(spark, tmp_path):
    """After streaming the corpus in 3 waves, retrieval from the
    maintained index must equal the batch bm25_topk over the full
    documents table — same exact-integer scores, same deterministic
    ranks, row for row."""
    d = _dirs(tmp_path)
    os.makedirs(d["landing"])
    docs = _docs(spark)
    for lo, hi in ((0, 150), (150, 300), (300, 10**9)):
        docs.filter(
            (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
        ).coalesce(1).write.mode("append").parquet(d["landing"])
        _run(spark, d)

    got = _topk_rows(bm25_from_index(spark, d["index"]))
    want = _topk_rows(registry.queries()["bm25_topk"](spark, SF_DIR))
    assert got == want
    assert len(got) > 0

    # incremental views must equal their full recomputes
    n_docs = docs.count()
    cs = TxTable(f"{d['index']}/corpus_stats").read(spark).agg(
        F.sum("n_rows"), F.sum("sum_dl")
    ).collect()[0]
    assert cs[0] == n_docs
    ts = TxTable(f"{d['index']}/term_stats").read(spark)
    post = TxTable(f"{d['index']}/postings").read(spark)
    recomputed = post.groupBy("token").agg(
        F.count(F.lit(1)).alias("df"), F.sum("tf").alias("stf")
    )
    joined = ts.join(recomputed, "token", "full").filter(
        (F.col("n_rows") != F.col("df")) | (F.col("sum_tf") != F.col("stf"))
        | F.col("n_rows").isNull() | F.col("df").isNull()
    )
    assert joined.count() == 0
    # one posting row per (doc, token) — replay never duplicated
    assert (
        post.groupBy("doc_id", "token").count().filter("count > 1").count()
        == 0
    )


def test_index_survives_restart_storm(spark, tmp_path):
    """Delete the stream's checkpoint commit after each wave and re-run:
    the TxTable txn markers (appends) and cdc-snapshot markers (view
    refreshes) must make every replay a no-op — final index state and
    retrieval results equal the clean single-run result."""
    d = _dirs(tmp_path)
    os.makedirs(d["landing"])
    docs = _docs(spark)
    for lo, hi in ((0, 200), (200, 10**9)):
        docs.filter(
            (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
        ).coalesce(1).write.mode("append").parquet(d["landing"])
        _run(spark, d)
        crash_last_commit(d["ckpt"])
        _run(spark, d)

    got = _topk_rows(bm25_from_index(spark, d["index"]))
    want = _topk_rows(registry.queries()["bm25_topk"](spark, SF_DIR))
    assert got == want
    post = TxTable(f"{d['index']}/postings").read(spark)
    assert (
        post.groupBy("doc_id", "token").count().filter("count > 1").count()
        == 0
    )
    # every batch committed exactly once per table
    hist = TxTable(f"{d['index']}/postings").history()
    txns = [h["txn_id"] for h in hist if h["txn_id"]]
    assert len(txns) == len(set(txns)) == 2
