"""Run the benchmark once per seed and report each metric's spread.

    python3 perfbench/steadiness.py --workload etl --seeds 1-10 [--trace 0]

Spread is the distance between the first and third quartile of the runs'
values (``statistics.quantiles(values, n=4)``), as a share of their median.
Each metric's bound in BENCHMARK.json should be at least three times the
spread seen here. Every run's result line is appended to ``--log`` so two
sets can be compared afterwards.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def spread(values: list[float]) -> float:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--seconds", type=int)
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--log", default=os.path.join(ROOT, ".perfbench_out", "steadiness.jsonl"))
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = args.seconds or bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    os.makedirs(os.path.dirname(args.log), exist_ok=True)
    runs = []
    for seed in seeds(args.seeds):
        t0 = time.perf_counter()
        out = subprocess.run(
            bench["command"] + ["--workload", args.workload, "--seed", str(seed),
                                "--seconds", str(seconds), "--trace", str(args.trace)],
            cwd=ROOT, capture_output=True, text=True, timeout=900,
        )
        wall = time.perf_counter() - t0
        if out.returncode != 0:
            print(out.stderr[-3000:], file=sys.stderr)
            return 1
        result = json.loads(out.stdout.strip().splitlines()[-1])
        ops = [line for line in out.stderr.splitlines() if line.startswith("op ")]
        with open(args.log, "a") as f:
            f.write(json.dumps({"workload": args.workload, "seed": seed,
                                "run_wall_s": wall, **result, "ops": ops}) + "\n")
        flat = {k: v["value"] for k, v in result["metrics"].items()}
        runs.append(flat)
        print(f"seed {seed}: {wall:.1f}s correct={result['correct']} "
              f"failed={result['failed']}/{result['attempted']} "
              + " ".join(f"{k}={v:.4g}" for k, v in flat.items() if k in bounds),
              flush=True)
    if len(runs) < 2:
        return 0
    print(f"{'metric':<14}{'median':>10}{'spread':>9}{'bound':>8}")
    for name in runs[0]:
        values = [r[name] for r in runs]
        b = bounds.get(name)
        print(f"{name:<14}{statistics.median(values):>10.4g}{spread(values):>9.3f}"
              f"{'' if b is None else f'{b:>8.2f}'}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
