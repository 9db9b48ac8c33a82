#!/usr/bin/env python3
"""Run a workload with several seeds and report each end-to-end metric's
median and quartile spread (Q3 - Q1) / median, the steadiness check the
benchmark's bounds are judged by.

    python3 perfbench/spread.py --workload etl_dag [--runs 10] [--first-seed 1]
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

import run


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=run.WORKLOADS)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    a = ap.parse_args()
    spec = json.load(open(os.path.join(run.ROOT, "BENCHMARK.json")))
    values = {m["name"]: [] for m in spec["end_to_end"]}
    for seed in range(a.first_seed, a.first_seed + a.runs):
        out = subprocess.run(
            [sys.executable, os.path.join(run.BENCH, "run.py"), "--workload", a.workload,
             "--seed", str(seed), "--seconds", str(spec["run_seconds"]), "--trace", "0"],
            cwd=run.ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, check=True)
        res = json.loads(out.stdout.strip().splitlines()[-1])
        print(json.dumps({"seed": seed, "correct": res["correct"], "failed": res["failed"],
                          **{k: round(v["value"], 4) for k, v in res["metrics"].items()}}),
              flush=True)
        for k, v in res["metrics"].items():
            values[k].append(v["value"])
    for m in spec["end_to_end"]:
        vs = values[m["name"]]
        q1, med, q3 = statistics.quantiles(vs, n=4)
        print(f"{m['name']:14s} median {med:10.4f}  spread {(q3 - q1) / med:6.3f}  "
              f"bound {m['bound']}")


if __name__ == "__main__":
    main()
