"""Repo benchmark: one workload per call, one JSON result line on stdout.

    python3 perfbench/run.py --workload etl --seed 1 --trace 0

Run from the repository root. The benchmark pins its own settings before
the package is imported (``local[2]``, ``SPARK_GRAFT_CPUS=2``, all I/O
under ``.perfbench_work/`` in the checkout), generates the workload's inputs
from ``--seed``, times one cold operation, warms up, then times operations
for ``--seconds`` seconds and checks every output. ``--trace 1`` reports
per-layer metrics instead of end-to-end ones. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = 2
TRACE_METRICS = ("wall.cold_s", "wall.warm_s", "process.cpu_s", "trace.warm_s",
                 "trace.overhead_s")
END_TO_END = {"setup_s": "s", "cold_cpu_s": "s", "warm_cpu_s": "s"}


def seconds_since_process_start() -> float:
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - int(fields[19]) / os.sysconf("SC_CLK_TCK")


def pin_environment(work: str) -> None:
    """Settings that must not come from the caller: core count, scratch
    locations inside the checkout, driver heap."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    for var in ("SPARK_MASTER_OVERRIDE_DISABLED", "SPARK_GRAFT_INITIAL_PARTITIONS",
                "PYSPARK_SUBMIT_ARGS", "SPARK_CONF_DIR"):
        os.environ.pop(var, None)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(CORES),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_DRIVER_MEMORY": "2g",
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_PYTHON": sys.executable,
    })
    sys.path[:0] = [ROOT, HERE]


def start_spark():
    """Import the package, launch the JVM and run a first trivial job."""
    from stock_market_etl_pipeline_spark.pipeline import health_check
    from stock_market_etl_pipeline_spark.session import get_spark

    spark = get_spark("perfbench", master=f"local[{CORES}]")
    spark.sparkContext.setLogLevel("ERROR")
    if not health_check(spark):
        raise RuntimeError("first trivial job failed")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM process to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def process_cpu_s(pid: int) -> float:
    """User + system CPU of this Python process and of the JVM with its
    reaped children: every thread, driver and executors alike."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    jvm = sum(int(x) for x in fields[11:15]) / os.sysconf("SC_CLK_TCK")
    t = os.times()
    return jvm + t.user + t.system


def steal_s() -> float:
    """CPU time the hypervisor took from this guest, summed over its CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


@dataclasses.dataclass
class Op:
    i: int
    traced: bool
    wall: float = 0.0
    proc_cpu_s: float = 0.0
    steal: float = 0.0
    result: object = None
    error: str | None = None
    jobs: list = dataclasses.field(default_factory=list)
    spans: list = dataclasses.field(default_factory=list)
    problems: list = dataclasses.field(default_factory=list)

    @property
    def stages(self) -> list:
        return [s for j in self.jobs for s in j.stages]

    @property
    def cpu_s(self) -> float:
        return sum(s.cpu_s for s in self.stages)


def run_op(wl, ledger, pid: int, i: int, traced: bool) -> Op:
    from spark_stats import Spans

    op = Op(i, traced)
    spans = Spans(wl.first_span) if traced and wl.first_span else None
    if spans is not None:
        spans.start()
    c0, st0 = process_cpu_s(pid), steal_s()
    t0 = time.perf_counter()
    try:
        op.result = wl.run(i, spans)
    except Exception as e:  # noqa: BLE001 - a failed operation is counted, not fatal
        op.error = f"{type(e).__name__}: {e}"
    op.wall = time.perf_counter() - t0
    op.proc_cpu_s = process_cpu_s(pid) - c0
    op.steal = steal_s() - st0
    op.jobs = ledger.take()
    if spans is not None:
        op.spans = spans.close(op.jobs)
    print(f"op {i} traced={traced} wall_s={op.wall:.3f} cpu_s={op.cpu_s:.3f} "
          f"proc_cpu_s={op.proc_cpu_s:.3f} host_steal_s={op.steal:.2f} jobs={len(op.jobs)}",
          file=sys.stderr, flush=True)
    return op


def run(args) -> dict:
    from spark_stats import StageLedger, median
    from workloads import WORKLOADS

    spark = start_spark()
    setup_s = seconds_since_process_start()
    wl = WORKLOADS[args.workload](spark, args.work, args.seed)
    wl.prepare()
    ledger = StageLedger(spark)
    pid = jvm_pid()
    trace = bool(args.trace)

    ops = [run_op(wl, ledger, pid, 0, trace)]
    for _ in range(wl.warmup_ops):
        ops.append(run_op(wl, ledger, pid, len(ops), trace))
    timed = []
    deadline = time.perf_counter() + args.seconds
    while time.perf_counter() < deadline or len(timed) < wl.min_timed_ops:
        # the traced run alternates, so tracing overhead is measured in-run
        traced = trace and len(timed) % 2 == 0
        timed.append(run_op(wl, ledger, pid, len(ops), traced))
        ops.append(timed[-1])

    finished = [op for op in ops if op.error is None]
    t0 = time.perf_counter()
    try:
        wl.check(finished)
    except Exception as e:  # noqa: BLE001 - an unreadable output fails every check
        for op in finished:
            op.problems = [f"check raised {type(e).__name__}: {e}"]
    print(f"checked {len(finished)} operations in {time.perf_counter() - t0:.3f} s",
          file=sys.stderr, flush=True)
    good = [op for op in timed if op.error is None and not op.problems]
    failed = sum(1 for op in ops if op.error or op.problems)
    for op in ops:
        if op.error or op.problems:
            print(f"op {op.i} failed: {op.error or op.problems}", file=sys.stderr)

    if trace:
        traced_ok = [op for op in good if op.traced]
        metrics = wl.layers(traced_ok, ops)
        plain = [op for op in good if not op.traced]
        metrics["wall.cold_s"] = ops[0].wall
        metrics["wall.warm_s"] = median(op.wall for op in plain)
        metrics["process.cpu_s"] = median(op.proc_cpu_s for op in plain)
        metrics["trace.warm_s"] = median(op.wall for op in traced_ok)
        metrics["trace.overhead_s"] = metrics["trace.warm_s"] - metrics["wall.warm_s"]
        write_trace(args, ops)
    else:
        metrics = {
            "setup_s": setup_s,
            "cold_cpu_s": ops[0].cpu_s,
            "warm_cpu_s": median(op.cpu_s for op in good),
        }
    t0 = time.perf_counter()
    stop_spark(spark)
    print(f"stopped Spark in {time.perf_counter() - t0:.3f} s", file=sys.stderr, flush=True)
    units = {**END_TO_END, **layer_units()}
    return {
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }


def layer_units() -> dict[str, str]:
    """Every per-layer metric of the traced run, with its unit."""
    from workloads import LAYER_METRICS

    def unit(metric: str) -> str:
        if metric.endswith(("_s", ".s")):
            return "s"
        if metric.endswith("_mb"):
            return "MB"
        return "count"

    return {m: unit(m) for m in LAYER_METRICS + TRACE_METRICS}


def write_trace(args, ops) -> None:
    """Spans and per-job stage counters of every operation, as JSON."""
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.json")
    records = []
    for op in ops:
        spans = [
            {**{k: v for k, v in e.items() if k != "jobs"},
             "parent": f"op-{op.i}",
             "jobs": [dataclasses.asdict(j) for j in e["jobs"]]}
            for e in op.spans
        ]
        records.append({
            "span": f"op-{op.i}", "traced": op.traced, "wall_s": op.wall,
            "error": op.error, "problems": op.problems, "children": spans,
            "jobs": [] if op.spans else [dataclasses.asdict(j) for j in op.jobs],
            "result": op.result if isinstance(op.result, list) else repr(op.result),
        })
    with open(path, "w") as f:
        json.dump({"workload": args.workload, "seed": args.seed, "ops": records}, f)


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", choices=("etl", "stream"), required=True)
    p.add_argument("--seed", type=int, default=1)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        run_seconds = json.load(f)["run_seconds"]
    p.add_argument("--seconds", type=float, default=run_seconds)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    args.work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    pin_environment(args.work)
    try:
        result = run(args)
    finally:
        shutil.rmtree(args.work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
