#!/usr/bin/env python3
"""Steadiness check: run each workload several times, one seed per run,
and print each end-to-end metric's median, quartiles and spread (the
distance between the quartiles as a share of the median), beside the
bound BENCHMARK.json gives it.

    python3 perfbench/steady.py --runs 10 [--first-seed 100] [--workload W ...]

Run from the root of a checkout, like run.py.
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


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=100)
    ap.add_argument("--workload", action="append",
                    choices=[w["name"] for w in spec["workloads"]])
    a = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    for w in a.workload or [w["name"] for w in spec["workloads"]]:
        values, walls = {k: [] for k in bounds}, []
        for i in range(a.runs):
            seed = a.first_seed + i
            t = time.time()
            out = subprocess.run(spec["command"] + [
                "--workload", w, "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
                "--trace", "0"], cwd=ROOT, capture_output=True, text=True)
            walls.append(time.time() - t)
            if out.returncode != 0:
                sys.exit("%s seed %d failed:\n%s" % (w, seed, out.stderr[-3000:]))
            res = json.loads(out.stdout.strip().splitlines()[-1])
            print("%s seed %d: %.0f s, correct=%s attempted=%d failed=%d %s" % (
                w, seed, walls[-1], res["correct"], res["attempted"], res["failed"],
                " ".join("%s=%.4g" % (k, v["value"]) for k, v in res["metrics"].items())),
                flush=True)
            for k in bounds:
                values[k].append(res["metrics"][k]["value"])
        print("\n%s: %d runs, %.0f s per run" % (w, a.runs, statistics.mean(walls)))
        print("  %-16s %12s %12s %12s %8s %8s" % ("metric", "q1", "median", "q3", "spread", "bound"))
        for k, xs in values.items():
            q1, med, q3 = statistics.quantiles(xs, n=4)
            print("  %-16s %12.5g %12.5g %12.5g %7.1f%% %7.0f%%" % (
                k, q1, med, q3, 100 * (q3 - q1) / med, 100 * bounds[k]))
        print(flush=True)


if __name__ == "__main__":
    main()
