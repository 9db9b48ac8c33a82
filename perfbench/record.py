#!/usr/bin/env python3
"""Record the catalog fingerprints the benchmark checks outputs against.

    python3 perfbench/record.py [--sf 0.02] [--oracle]

Generates the catalog tables at `--sf` (seed 42, as the benchmark does),
runs each of the 48 bench queries once, and writes their row counts and
order-insensitive hashes to perfbench/fingerprints/sf<sf>.json. Re-record
only when a query's output is meant to change.

With `--oracle` the outputs are also written as parquet and compared with
each query's DuckDB oracle (`SparkEntry.oracleSql`) by
tools/compare_oracle.py, so the recorded fingerprints are known to match
the oracle.
"""
import argparse
import os
import shutil
import subprocess
import sys

import run


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", type=float, default=run.CATALOG_SF)
    ap.add_argument("--oracle", action="store_true")
    a = ap.parse_args()
    run.build()
    work = os.path.join(run.BUILD, f"record-{os.getpid()}")
    data = os.path.join(work, "data")
    dump = os.path.join(work, "dump")
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(dump)
    try:
        run.gen_catalog.generate(data, a.sf, run.CATALOG_SEED)
        out_dir = os.path.join(run.BENCH, "fingerprints")
        os.makedirs(out_dir, exist_ok=True)
        # all 48 bench queries in one JVM need more heap than one workload
        cmd = run.harness_cmd(work, ["-Xmx3g"]) + [
            "--work", work, "--data", data, "--record", os.path.join(out_dir, f"sf{a.sf:g}.json")]
        if a.oracle:
            cmd += ["--dump", dump]
        subprocess.run(cmd, cwd=work, check=True)
        if a.oracle:
            checker = os.path.join(run.ROOT, "tools", "compare_oracle.py")
            subprocess.run([sys.executable, checker, data, dump], check=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
