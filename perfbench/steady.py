"""Steadiness check: run the benchmark in sets of seeded runs and report,
per set, each metric's median and quartiles and its spread (quartile
distance over median), plus how far the second set's median moved.

    python3 perfbench/steady.py --workload dedup_iterative --runs 10 --sets 2

Run from the root of a checkout. Runs are sequential; set ``s`` uses
seeds ``s*runs+1 .. s*runs+runs``, so no two runs share inputs. Each
run's elapsed seconds are reported too, which is what a full
benchmark pass over every workload costs.
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


def run_once(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, float]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    took = time.perf_counter() - t0
    if proc.returncode != 0:
        sys.exit(f"run failed (exit {proc.returncode}): {' '.join(cmd)}\n"
                 f"{proc.stderr[-3000:]}")
    for line in proc.stdout.splitlines():
        if line.startswith("#"):
            print(line, flush=True)
    return json.loads(proc.stdout.strip().splitlines()[-1]), took


def spread(values: list[float]) -> tuple[float, float, float, float]:
    """(median, q1, q3, (q3 - q1) / median)."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else 0.0


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--sets", type=int, default=2)
    p.add_argument("--seconds", type=int)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    if args.seconds is None:
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            args.seconds = json.load(f)["run_seconds"]

    medians: list[dict[str, float]] = []
    for s in range(args.sets):
        values: dict[str, list[float]] = {}
        took = []
        for i in range(args.runs):
            res, t = run_once(args.workload, s * args.runs + i + 1, args.seconds, args.trace)
            took.append(t)
            if not res["correct"]:
                print(f"# run {i} reported {res['failed']} failures", flush=True)
            for name, m in res["metrics"].items():
                values.setdefault(name, []).append(m["value"])
        medians.append({})
        print(f"set {s + 1}: {args.runs} runs, {sum(took):.0f} s "
              f"(max {max(took):.1f} s per run)")
        for name, vals in values.items():
            med, q1, q3, sp = spread(vals)
            medians[-1][name] = med
            print(f"  {name:28s} median {med:.4f}  q1 {q1:.4f}  q3 {q3:.4f}  "
                  f"spread {sp:.3f}")
    if len(medians) > 1:
        print("median moved (set 2 over set 1):")
        for name, m1 in medians[0].items():
            m2 = medians[1][name]
            print(f"  {name:28s} {(m2 - m1) / m1 if m1 else 0.0:+.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
