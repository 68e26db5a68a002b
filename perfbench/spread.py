#!/usr/bin/env python3
"""Run one workload with several seeds and report, per end-to-end metric,
the median, the quartiles and the spread: (third quartile - first quartile)
/ median, with quartiles as Python's statistics.quantiles(values, n=4)
gives them.

  python3 perfbench/spread.py --workload <name> --runs 10 [--first-seed 1]

Run from the repository root. Each run is `perfbench/run.py --trace 0` with
seed first-seed + i and BENCHMARK.json's run_seconds. A spread at or above
a third of the metric's bound is flagged.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spread(values):
    """Interquartile distance as a share of the median."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def benchmark_json():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        return json.load(fh)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    a = ap.parse_args(argv)
    b = benchmark_json()
    bound = {m["name"]: m["bound"] for m in b["end_to_end"]}

    values = {}
    for i in range(a.runs):
        seed = a.first_seed + i
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
                            "--seed", str(seed), "--seconds", str(b["run_seconds"]), "--trace", "0"],
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        if p.returncode != 0:
            print("seed %d: exit %d" % (seed, p.returncode))
            return 1
        r = json.loads(p.stdout.strip().splitlines()[-1])
        print("seed %d: correct=%s attempted=%d failed=%d %s" % (
            seed, r["correct"], r["attempted"], r["failed"],
            " ".join("%s=%.4g" % (k, v["value"]) for k, v in r["metrics"].items())), flush=True)
        for k, v in r["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    if a.runs < 2:
        return 0
    for k, vs in values.items():
        q1, _, q3 = statistics.quantiles(vs, n=4)
        s = spread(vs)
        flag = " <-- spread >= bound/3" if s >= bound[k] / 3 else ""
        print("%-12s median %-12.6g q1 %-12.6g q3 %-12.6g spread %.4f%s" % (k, statistics.median(vs), q1, q3, s, flag))
    return 0


if __name__ == "__main__":
    sys.exit(main())
