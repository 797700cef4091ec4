#!/usr/bin/env python3
"""Run the benchmark on several seeds and report each metric's spread.

    python3 nshmbench/spread.py --workload serve-small --seeds 1-10

Prints, per metric, the median and the interquartile distance as a share of
the median (Python's `statistics.quantiles(values, n=4)`), next to the bound
BENCHMARK.json fixes for it. Run from the repository root.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    seconds = args.seconds or bench["run_seconds"]

    values = {}
    for s in seeds(args.seeds):
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(s), "--seconds", str(seconds), "--trace", str(args.trace)],
            stdout=subprocess.PIPE, text=True)
        last = json.loads(out.stdout.strip().splitlines()[-1])
        print("seed %d: correct=%s failed=%d/%d" % (s, last["correct"], last["failed"],
                                                   last["attempted"]), flush=True)
        for k, v in last["metrics"].items():
            values.setdefault(k, []).append(v["value"])

    for k, vs in sorted(values.items()):
        med = statistics.median(vs)
        q = statistics.quantiles(vs, n=4)
        spread = (q[2] - q[0]) / med if med else float("nan")
        print("%-32s median %12.4f  spread %6.3f  bound %s" % (k, med, spread, bounds.get(k)))


if __name__ == "__main__":
    main()
