#!/usr/bin/env python3
"""Steadiness check: runs one workload once per seed, each run as long as
BENCHMARK.json's `run_seconds`, and reports for each end-to-end metric
the interquartile range of its values as a share of their median, next to
the metric's bound.

    python3 perfbench/steady.py --workload <name> --seeds 1 2 3 4 5

Prints one JSON object per run, then the table; a `*` marks a spread above
a third of its bound, the margin a steady benchmark keeps. Exits 1 if a
run failed or was not correct, or if any metric's spread, `setup_s`
included, reached its bound.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import spec  # noqa: E402


def spread(values):
    if len(values) < 2:
        return 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=spec.WORKLOADS)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    a = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        seconds = json.load(fh)["run_seconds"]
    runs = []
    for seed in a.seeds:
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload",
             a.workload, "--seed", str(seed), "--seconds", str(seconds),
             "--trace", "0"], capture_output=True, text=True)
        if p.returncode != 0:
            print(p.stderr[-2000:], file=sys.stderr)
            sys.exit(1)
        line = json.loads(p.stdout.strip().splitlines()[-1])
        print(json.dumps(dict(seed=seed, **line)), flush=True)
        runs.append(line)
    ok = all(r["correct"] for r in runs)
    print(f"{'metric':<16} {'median':>12} {'spread':>8} {'bound':>6}")
    for m in spec.END_TO_END:
        vals = [r["metrics"][m["name"]]["value"] for r in runs]
        s = spread(vals)
        mark = "*" if s > m["bound"] / 3 else ""
        print(f"{m['name']:<16} {statistics.median(vals):>12.4f} "
              f"{s:>8.3f} {m['bound']:>6.2f} {mark}")
        if s >= m["bound"]:
            ok = False
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
