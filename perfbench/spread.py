#!/usr/bin/env python3
"""Run the benchmark over several seeds and report each metric's spread.

    python3 perfbench/spread.py --workload long_ride --seeds 1-10

For every end-to-end metric: the median, the quartiles as
`statistics.quantiles(values, n=4)` gives them, and the spread (quartile
distance as a share of the median) next to the metric's bound in
BENCHMARK.json. Runs are sequential; each is `perfbench/run.py` as the
benchmark command runs it, with BENCHMARK.json's `run_seconds`.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import stats  # noqa: E402


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser(description="Spread of the benchmark over seeds.")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1-10")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}

    values = {m: [] for m in bounds}
    for seed in seeds(a.seeds):
        t0 = time.time()
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True)
        wall = time.time() - t0
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            sys.exit("seed %d: exit %d\n%s" % (seed, p.returncode, p.stderr[-2000:]))
        res = json.loads(lines[-1])
        if not res["correct"]:
            print("seed %d: not correct:\n%s" % (seed, p.stdout), file=sys.stderr)
        for m in values:
            values[m].append(res["metrics"][m]["value"])
        print("seed %d wall %.1f s  %s" % (seed, wall, "  ".join(
            "%s %.4f" % (m, res["metrics"][m]["value"]) for m in values)), flush=True)

    for m, xs in values.items():
        if len(xs) < 2:
            continue
        q1, med, q3 = statistics.quantiles(xs, n=4)
        print("%s %s: median %.4f  q1 %.4f  q3 %.4f  spread %.3f  (bound %.2f)"
              % (a.workload, m, statistics.median(xs), q1, q3, stats.spread(xs),
                 bounds[m]))


if __name__ == "__main__":
    main()
