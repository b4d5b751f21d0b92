"""Repeat the benchmark over several seeds and report each metric's spread.

Usage:
  python3 perfbench/repeat.py --workload NAME --seeds 1-10 [--seconds S]
                              [--trace 0|1]

Runs run.py once per seed, one after another, and prints for every metric
the median, quartiles and spread (quartile distance as a share of the
median) of its values: the figure the benchmark's bounds are set against.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

import stats

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", default="15")
    ap.add_argument("--trace", default="0")
    a = ap.parse_args()
    vals = {}
    for s in seeds(a.seeds):
        t0 = time.time()
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload",
             a.workload, "--seed", str(s), "--seconds", a.seconds,
             "--trace", a.trace], stdout=subprocess.PIPE, text=True)
        if p.returncode != 0:
            sys.exit(f"seed {s}: run.py exited with {p.returncode}")
        out = json.loads(p.stdout.strip().splitlines()[-1])
        host = next((l.strip() for l in p.stdout.splitlines() if "host:" in l), "")
        print(f"seed {s}: {time.time() - t0:.0f} s, correct={out['correct']} "
              f"failed={out['failed']}/{out['attempted']}  {host}", flush=True)
        for k, v in out["metrics"].items():
            vals.setdefault(k, []).append(v["value"])
    print(f"{'metric':<28} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>8}")
    for k, vs in vals.items():
        if len(vs) < 2 or statistics.median(vs) == 0:
            continue
        q1, _, q3 = statistics.quantiles(vs, n=4)
        print(f"{k:<28} {statistics.median(vs):>12.3f} {q1:>12.3f} "
              f"{q3:>12.3f} {stats.spread(vs):>8.4f}")


if __name__ == "__main__":
    main()
