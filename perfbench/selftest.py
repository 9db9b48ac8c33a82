#!/usr/bin/env python3
"""Self-test of the benchmark on tiny inputs (sf0.001 catalog tables, a
4-station raw zone):

- every end-to-end and per-layer metric of BENCHMARK.json prints, with its
  unit, on every workload, and an untampered run is correct;
- a tampered fingerprint or manifest count makes the run fail.

    python3 perfbench/selftest.py
"""
import json
import os
import subprocess
import sys

import run

TINY = ["--sf", "0.001", "--locations", "4", "--days", "2"]


def bench(workload, trace, *extra):
    out = subprocess.run(
        [sys.executable, os.path.join(run.BENCH, "run.py"), "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", str(trace), *TINY, *extra],
        cwd=run.ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, check=True)
    return json.loads(out.stdout.strip().splitlines()[-1])


def main():
    spec = json.load(open(os.path.join(run.ROOT, "BENCHMARK.json")))
    problems = []
    for w in (x["name"] for x in spec["workloads"]):
        for trace, group in ((0, "end_to_end"), (1, "per_layer")):
            res = bench(w, trace)
            want = {m["name"]: m["unit"] for m in spec[group]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if set(res) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"{w} trace {trace}: result keys {sorted(res)}")
            if got != want:
                problems.append(f"{w} trace {trace}: metrics differ from BENCHMARK.json")
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                problems.append(f"{w} trace {trace}: run not correct: {res}")
    for w, kind in (("stream_replay", "fingerprint"), ("etl_dag", "manifest")):
        res = bench(w, 0, "--tamper", kind)
        if res["correct"] or res["failed"] == 0:
            problems.append(f"tampered {kind} was not caught on {w}")
    for p in problems:
        print("FAIL", p)
    print("selftest:", "FAILED" if problems else "ok")
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
