"""Tests of the benchmark itself (not of the program it measures).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import dataclasses
import filecmp
import json
import os
import re
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [ROOT, BENCH]

import gen  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


def _same_tree(a, b) -> bool:
    names = sorted(os.listdir(a))
    if names != sorted(os.listdir(b)):
        return False
    match, _, _ = filecmp.cmpfiles(a, b, names, shallow=False)
    return len(match) == len(names)


@pytest.mark.parametrize("make,args", [
    (gen.make_etl_landing, (6, 20, 60)),
    (gen.make_stream_drops, (3, 40)),
])
def test_generator_deterministic_per_seed(tmp_path, make, args):
    e1 = make(str(tmp_path / "a"), 7, *args)
    e2 = make(str(tmp_path / "b"), 7, *args)
    e3 = make(str(tmp_path / "c"), 8, *args)
    assert e1 == e2 and _same_tree(tmp_path / "a", tmp_path / "b")
    assert not _same_tree(tmp_path / "a", tmp_path / "c")
    # sizes do not depend on the seed, so neither does the work per run
    assert dataclasses.replace(e3, close_cents_sum=0) == dataclasses.replace(e1, close_cents_sum=0)
    assert e1.close_cents_sum != e3.close_cents_sum


def test_metric_names():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    declared = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    declared += [w["name"] for w in bench["workloads"]]
    assert len(declared) == len(set(declared))
    for name in declared + list(workloads.LAYER_METRICS) + list(run.END_TO_END):
        assert NAME.fullmatch(name), name
    # the run reports exactly the declared metrics
    assert {m["name"] for m in bench["end_to_end"]} == set(run.END_TO_END)
    assert {m["name"] for m in bench["per_layer"]} == set(run.layer_units())


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    run.pin_environment(str(tmp_path_factory.mktemp("work")))
    session = run.start_spark()
    yield session
    run.stop_spark(session)


def _run_and_check(wl, i=0):
    op = run.Op(i, traced=False, result=wl.run(i))
    wl.check([op])
    return op


def test_etl_prediction_matches_run_pipeline(spark, tmp_path):
    wl = workloads.Etl(spark, str(tmp_path), seed=3)
    wl.n_symbols, wl.min_days, wl.max_days = 5, 30, 90
    wl.prepare()
    assert _run_and_check(wl).problems == []


def test_stream_prediction_matches_drain(spark, tmp_path):
    wl = workloads.Stream(spark, str(tmp_path), seed=3)
    wl.n_symbols, wl.n_drops = 2, 20
    wl.prepare()
    assert _run_and_check(wl).problems == []


def test_perturbed_outputs_fail_the_checks(spark, tmp_path):
    wl = workloads.Etl(spark, str(tmp_path), seed=4)
    wl.n_symbols, wl.min_days, wl.max_days = 3, 20, 40
    wl.prepare()
    op = _run_and_check(wl)
    assert op.problems == []
    # one row lost from the sink
    sinks = os.path.join(str(tmp_path), "sinks")
    df = spark.read.parquet(os.path.join(sinks, "op=0"))
    df.limit(df.count() - 1).write.parquet(os.path.join(str(tmp_path), "cut", "op=0"))
    stats = workloads.sink_stats(os.path.join(str(tmp_path), "cut"))[0]
    assert any(p.startswith("sink rows=") for p in workloads.sink_problems(stats, wl.expected))
    # a wrong close value (e.g. keep-first instead of keep-last) fails the checksum only
    stats = workloads.sink_stats(sinks)[0]
    stats["close_cents"] += 1
    assert [p.split("=")[0] for p in workloads.sink_problems(stats, wl.expected)] == [
        "sink close_cents"]
    # a wrong field on the pipeline's own result
    bad = run.Op(0, traced=False,
                 result=dataclasses.replace(op.result, corrupt_records=op.result.corrupt_records + 1))
    wl.check([bad])
    assert any(p.startswith("corrupt_records=") for p in bad.problems)
