#!/usr/bin/env python3
"""Steadiness and tracing-overhead report for one workload.

Usage (from the repository root):
  python3 perfbench/steadiness.py --workload commitlog_rw [--runs 10]

Runs the workload `--runs` times untraced, with seeds 1, 2, ..., then
once traced with the next seed, each for BENCHMARK.json's run_seconds.
Prints, per end-to-end metric, the median, the quartiles (Python's
statistics.quantiles, n=4) and the quartile spread as a share of the
median; then the traced run's pass_s minus the untraced runs' median,
which is the tracing overhead (the traced and the untraced pass are
timed at the same position in the protocol), and the per-layer metrics.
These numbers set the bounds in BENCHMARK.json. Each run's stderr is
kept in perfbench/.work/steadiness/.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def cpu_ticks():
    """(all, steal) CPU ticks so far, from /proc/stat; zeros elsewhere."""
    try:
        with open("/proc/stat") as f:
            ticks = [int(x) for x in f.readline().split()[1:]]
        return sum(ticks), ticks[7]
    except (OSError, IndexError, ValueError):
        return 0, 0


def run(workload, seed, seconds, trace):
    """One run; its stderr is kept in perfbench/.work/steadiness/.
    Returns the result, the wall seconds and the share of CPU time the
    hypervisor stole meanwhile (noise from other tenants)."""
    logs = os.path.join(BENCH, ".work", "steadiness")
    os.makedirs(logs, exist_ok=True)
    all0, steal0 = cpu_ticks()
    t0 = time.time()
    with open(os.path.join(logs, f"{workload}-{seed}-{trace}.log"), "w") as err:
        out = subprocess.run(
            [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
            cwd=ROOT, stdout=subprocess.PIPE, stderr=err,
            text=True, check=True)
    result = json.loads(out.stdout.strip().splitlines()[-1])
    all1, steal1 = cpu_ticks()
    steal = (steal1 - steal0) / (all1 - all0) if all1 > all0 else 0.0
    return result, time.time() - t0, steal


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        seconds = json.load(f)["run_seconds"]

    values, walls = {}, []
    for seed in range(1, args.runs + 1):
        result, wall, steal = run(args.workload, seed, seconds, 0)
        walls.append(wall)
        if not result["correct"]:
            print(f"seed {seed}: NOT CORRECT, failed {result['failed']}")
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
        print(f"seed {seed}: {wall:.1f} s wall, {100 * steal:.0f}% steal, "
              + ", ".join(f"{k}={m['value']:.4g}" for k, m in result["metrics"].items()),
              flush=True)
    print(f"\n{args.workload}: {args.runs} untraced runs")
    print(f"{'metric':16s} {'median':>10s} {'q1':>10s} {'q3':>10s} {'spread':>8s}")
    for name, vs in values.items():
        med = statistics.median(vs)
        q1, _, q3 = statistics.quantiles(vs, n=4) if len(vs) > 1 else (vs[0], 0, vs[0])
        spread = (q3 - q1) / med if med else float("nan")
        print(f"{name:16s} {med:10.4f} {q1:10.4f} {q3:10.4f} {spread:8.3f}")
    print(f"wall per run: median {statistics.median(walls):.1f} s, max {max(walls):.1f} s")

    seed = args.runs + 1
    result, wall, steal = run(args.workload, seed, seconds, 1)
    m = result["metrics"]
    traced = m["trace.pass_s"]["value"]
    untraced = statistics.median(values["pass_s"])
    print(f"\ntraced run (seed {seed}, {wall:.1f} s wall, {100 * steal:.0f}% steal):"
          f" pass_s {traced:.3f} s; tracing overhead {traced - untraced:+.3f} s"
          f" ({100 * (traced - untraced) / untraced:+.1f}% of the untraced median)")
    for name, v in m.items():
        print(f"  {name:30s} {v['value']:14.4f} {v['unit']}")


if __name__ == "__main__":
    main()
