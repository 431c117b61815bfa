"""Run the benchmark over several seeds and report each metric's median
and spread (interquartile range as a share of the median, the quartiles
as ``statistics.quantiles(values, n=4)`` gives them).

    python3 perfbench/spread.py --workload serve_head --seeds 1-10
    python3 perfbench/spread.py --workload all --seeds 1

``all`` runs every workload in turn, each run for BENCHMARK.json's
``run_seconds`` with tracing off. Prints one JSON line per run as it
finishes, then a table per workload with each metric's unit.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ["serve_head", "serve_tail", "spark"]


def seeds(spec: str) -> list[int]:
    out: list[int] = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    a = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        seconds = json.load(f)["run_seconds"]
    for w in WORKLOADS if a.workload == "all" else [a.workload]:
        report(w, seeds(a.seeds), seconds)


def report(workload: str, run_seeds: list[int], seconds: int) -> None:
    values: dict[str, list[float]] = {}
    units: dict[str, str] = {}
    walls: list[float] = []
    failed = 0
    for s in run_seeds:
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(s)]
        cmd += ["--seconds", str(seconds), "--trace", "0"]
        t0 = time.time()
        out = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        walls.append(time.time() - t0)
        if out.returncode != 0:
            print(f"{workload} seed {s}: exit code {out.returncode}", file=sys.stderr)
            continue
        res = json.loads(out.stdout.strip().splitlines()[-1])
        print(json.dumps({"workload": workload, "seed": s, **res}), flush=True)
        failed += res["failed"]
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
            units[k] = v["unit"]
    print(f"== {workload}: {len(run_seeds)} runs, {failed} failed ops, {statistics.mean(walls):.1f} s per run")
    print(f"{'metric':36} {'unit':>6} {'n':>3} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>8}")
    for k, xs in values.items():
        med = statistics.median(xs)
        q1, _, q3 = statistics.quantiles(xs, n=4) if len(xs) >= 2 else (xs[0], 0, xs[0])
        spread = (q3 - q1) / med if med else float("nan")
        print(f"{k:36} {units[k]:>6} {len(xs):3d} {med:12.6g} {q1:12.6g} {q3:12.6g} {spread:8.4f}")


if __name__ == "__main__":
    main()
