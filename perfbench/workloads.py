"""The benchmark's workloads: inputs, one timed operation, output checks and
per-layer metrics.

A workload's ``run(i, spans)`` is one operation a user waits for: one
``run_pipeline`` call (``etl``) or one ``availableNow`` drain of the landing
directory (``stream``). Checks run after the timed window.
"""

from __future__ import annotations

import json
import os

import gen
from spark_stats import median, span_totals, storage_mb, totals

ETL_SPANS = ("sources", "plans.quality", "io_sink.write", "plans.summary")
STREAM_LAYERS = (
    "streaming.batches", "streaming.rows_in", "streaming.add_batch_s",
    "streaming.commit_s", "streaming.plan_s", "streaming.state_rows",
    "streaming.state_mb", "streaming.rows_dropped_late", "streaming.cpu_s",
    "streaming.tasks", "streaming.failed_tasks", "streaming.batch_s", "streaming.batch_max_s",
    "streaming.batch_samples",
)
ETL_LAYERS = tuple(
    f"{span}.{m}" for span in ETL_SPANS for m in ("s", "cpu_s", "jobs", "tasks", "shuffle_mb")
) + (
    "operators.build_s", "sources.rows_in", "io_sink.rows_out",
    "io_sink.output_mb", "cache.storage_mb", "pipeline.failed_tasks",
)
LAYER_METRICS = ETL_LAYERS + STREAM_LAYERS


def sink_stats(sinks: str) -> dict[int, dict]:
    """Per operation: row count, distinct keys and close-price checksum of
    the parquet sink it wrote under ``sinks/op=<i>``.

    Read with pyarrow, not Spark: the sinks of a run are hundreds of small
    files, which Spark took 8 s to list and aggregate, and the check then
    does not depend on the engine it checks."""
    import pyarrow.dataset as ds

    df = (
        ds.dataset(sinks, format="parquet", partitioning="hive")
        .to_table(columns=["op", "symbol", "date", "close"])
        .to_pandas()
    )
    df["cents"] = (df["close"] * 100).round().astype("int64")
    return {
        int(op): {
            "rows": len(part),
            "keys": len(part.drop_duplicates(["symbol", "date"])),
            "symbols": part["symbol"].nunique(),
            "close_cents": int(part["cents"].sum()),
        }
        for op, part in df.groupby("op", observed=True)
    }


def sink_problems(stats: dict | None, exp: gen.Expected) -> list[str]:
    if stats is None:
        return ["sink missing"]
    want = {
        "rows": exp.records_loaded,
        "keys": exp.records_loaded,
        "symbols": exp.unique_symbols,
        "close_cents": exp.close_cents_sum,
    }
    return [f"sink {k}={stats[k]} expected {v}" for k, v in want.items() if stats[k] != v]


class Etl:
    """The daily batch job: ``run_pipeline`` over one seeded landing set."""

    name = "etl"
    first_span = "sources"
    warmup_ops, min_timed_ops = 3, 5
    # about 43k landed rows: 36 symbols with 400..2000 days of history
    n_symbols, min_days, max_days = 36, 400, 2000

    def __init__(self, spark, work: str, seed: int):
        self.spark, self.work, self.seed = spark, work, seed

    def prepare(self) -> None:
        self.landing = os.path.join(self.work, "landing")
        self.expected = gen.make_etl_landing(
            self.landing, self.seed, self.n_symbols, self.min_days, self.max_days
        )

    def run(self, i: int, spans=None):
        from stock_market_etl_pipeline_spark import pipeline

        sink = os.path.join(self.work, "sinks", f"op={i}")
        if spans is None:
            return pipeline.run_pipeline(self.spark, self.landing, sink)
        names = {
            "clean_quotes": "operators", "enrich": "operators",
            "run_quality_suite": "plans.quality", "write_parquet": "io_sink.write",
            "db_summary": "plans.summary",
        }
        saved = {fn: getattr(pipeline, fn) for fn in names}
        try:
            for fn, span in names.items():
                # the write starts once the quality gate has filled the cache
                sample = (lambda: storage_mb(self.spark)) if fn == "write_parquet" else None
                setattr(pipeline, fn, spans.wrap(span, saved[fn], sample))
            return pipeline.run_pipeline(self.spark, self.landing, sink)
        finally:
            for fn, orig in saved.items():
                setattr(pipeline, fn, orig)

    def check(self, ops) -> None:
        """Every operation's ``PipelineResult`` and sink against the prediction."""
        exp = self.expected
        want = {
            "success": True,
            "validation_passed": True,
            "validation_rate": 1.0,
            "records_loaded": exp.records_loaded,
            "unique_symbols": exp.unique_symbols,
            "corrupt_records": exp.malformed_lines,
        }
        sinks = sink_stats(os.path.join(self.work, "sinks"))
        for op in ops:
            r = op.result
            op.problems = [
                f"{k}={getattr(r, k)!r} expected {v!r}"
                for k, v in want.items() if getattr(r, k) != v
            ]
            if r.checks_passed != r.checks_total:
                op.problems.append(f"checks {r.checks_passed}/{r.checks_total}")
            op.problems += sink_problems(sinks.get(op.i), exp)

    def layers(self, traced_ops, all_ops) -> dict:
        out = dict.fromkeys(LAYER_METRICS, 0.0)
        per_op = [{s: span_totals(op.spans, s) for s in ETL_SPANS + ("operators",)}
                  for op in traced_ops]
        for span in ETL_SPANS:
            for m in ("s", "cpu_s", "jobs", "tasks", "shuffle_mb"):
                out[f"{span}.{m}"] = median(t[span][m] for t in per_op)
        out["operators.build_s"] = median(t["operators"]["build_s"] for t in per_op)
        out["sources.rows_in"] = median(t["sources"]["input_records"] for t in per_op)
        out["io_sink.rows_out"] = median(t["io_sink.write"]["output_records"] for t in per_op)
        out["io_sink.output_mb"] = median(t["io_sink.write"]["output_mb"] for t in per_op)
        out["cache.storage_mb"] = median(
            e["sample"] for op in traced_ops for e in op.spans if e["name"] == "io_sink.write"
        )
        out["pipeline.failed_tasks"] = sum(totals(op.stages)["failed_tasks"] for op in all_ops)
        return out


class Stream:
    """The micro-batch path: ``start_pipeline_stream`` drains overlapping
    daily drops with ``availableNow``; each drain starts from a fresh
    checkpoint and sink, so every drain does the same work."""

    name = "stream"
    first_span = None  # per-batch progress comes from the query itself
    warmup_ops, min_timed_ops = 2, 6
    # 3 micro-batches per drain: the program reads 16 files per trigger, so
    # two data batches and the no-data batch that advances the watermark
    n_symbols, n_drops = 4, 32

    def __init__(self, spark, work: str, seed: int):
        self.spark, self.work, self.seed = spark, work, seed

    def prepare(self) -> None:
        self.landing = os.path.join(self.work, "drops")
        self.expected = gen.make_stream_drops(
            self.landing, self.seed, self.n_symbols, self.n_drops
        )

    def _dirs(self, i: int):
        return (
            os.path.join(self.work, "sinks", f"op={i}"),
            os.path.join(self.work, f"quarantine-{i}"),
            os.path.join(self.work, f"checkpoint-{i}"),
        )

    def run(self, i: int, spans=None):
        from stock_market_etl_pipeline_spark.streaming.ingest import start_pipeline_stream

        sink, quarantine, checkpoint = self._dirs(i)
        query = start_pipeline_stream(self.spark, self.landing, sink, quarantine, checkpoint)
        query.awaitTermination()
        if query.exception() is not None:
            raise RuntimeError(str(query.exception()))
        return [p.json for p in query.recentProgress]

    def check(self, ops) -> None:
        """Every drain's sink against the prediction, its quarantine empty
        and its progress showing every landed line read once."""
        sinks = sink_stats(os.path.join(self.work, "sinks"))
        for op in ops:
            _sink, quarantine, _checkpoint = self._dirs(op.i)
            op.problems = []
            if os.path.exists(quarantine):
                op.problems.append(f"quarantine not empty: {os.listdir(quarantine)}")
            rows_in = sum(json.loads(p)["numInputRows"] for p in op.result)
            if rows_in != self.expected.json_lines:
                op.problems.append(f"rows_in={rows_in} expected {self.expected.json_lines}")
            op.problems += sink_problems(sinks.get(op.i), self.expected)

    @staticmethod
    def _batches(ops):
        return [json.loads(p) for op in ops for p in op.result]

    def layers(self, traced_ops, all_ops) -> dict:
        out = dict.fromkeys(LAYER_METRICS, 0.0)
        drains = [[json.loads(p) for p in op.result] for op in traced_ops]
        batches = [b for d in drains for b in d]

        def dur(b, *keys):
            return sum(b["durationMs"].get(k, 0) for k in keys) / 1e3

        def state(b, key):
            return sum(s[key] for s in b.get("stateOperators", []))

        out["streaming.batches"] = median(len(d) for d in drains)
        out["streaming.rows_in"] = median(sum(b["numInputRows"] for b in d) for d in drains)
        out["streaming.add_batch_s"] = median(dur(b, "addBatch") for b in batches)
        out["streaming.commit_s"] = median(dur(b, "walCommit", "commitOffsets") for b in batches)
        out["streaming.plan_s"] = median(
            dur(b, "queryPlanning", "getBatch", "latestOffset") for b in batches
        )
        out["streaming.state_rows"] = median(state(d[-1], "numRowsTotal") for d in drains)
        out["streaming.state_mb"] = median(state(d[-1], "memoryUsedBytes") / 2**20 for d in drains)
        out["streaming.rows_dropped_late"] = median(
            sum(state(b, "numRowsDroppedByWatermark") for b in d) for d in drains
        )
        per_op = [totals(op.stages) for op in traced_ops]
        out["streaming.cpu_s"] = median(t["cpu_s"] for t in per_op)
        out["streaming.tasks"] = median(t["tasks"] for t in per_op)
        out["streaming.failed_tasks"] = sum(totals(op.stages)["failed_tasks"] for op in all_ops)
        # tracing does not touch the query, so every warm drain's batches count
        warm = [op for op in all_ops[1:] if op.error is None]
        times = [b["durationMs"]["triggerExecution"] / 1e3 for b in self._batches(warm)]
        out["streaming.batch_s"] = median(times)
        # a run's ~21 warm batches leave no percentile above the median with
        # ten batches beyond it, so the tail is reported as the maximum
        out["streaming.batch_max_s"] = max(times, default=0.0)
        out["streaming.batch_samples"] = len(times)
        return out


WORKLOADS = {w.name: w for w in (Etl, Stream)}
