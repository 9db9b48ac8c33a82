#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the harness (the
engine's sources plus perfbench/src) with sbt into .bench_build/, with a
class-data sharing archive; later runs reuse both while the sources are
unchanged. Each run generates
its inputs (three times, timed, for `setup_s`), starts one JVM with the
harness, and prints one JSON line last on stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end metrics of BENCHMARK.json,
with `--trace 1` its per-layer metrics. A per-layer metric whose layer the
workload does not exercise reads 0. Run details (samples, anchor readings,
failures) go to stderr as a JSON line prefixed `detail:`.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSPATH = os.path.join(BUILD, "classpath.txt")
STAMP = os.path.join(BUILD, "build.stamp")
ARCHIVE = os.path.join(BUILD, "classes.jsa")
sys.path.insert(0, BENCH)
import gen_catalog  # noqa: E402
import gen_rawzone  # noqa: E402

WORKLOADS = ("etl_dag", "stream_replay")
CATALOG_SF = 0.02     # catalog tables: events 20k rows, lineitem 120k rows
CATALOG_SEED = 42     # fixed: the recorded fingerprints are for this data
SETUP_REPEATS = 3     # input generation is repeated; setup_s takes the median
RUN_LIMIT_S = 170     # hard stop for one run, build excluded
BUILD_LIMIT_S = 850
JVM_OPTS = [
    "-Xmx1g", "-XX:+UseG1GC",
] + [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for x in ("--add-opens", f"{p}=ALL-UNNAMED")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every input of the build, to decide whether to rebuild."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")]
    files = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    stamp = source_stamp()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
           f"writeClasspath {CLASSPATH}"]
    r = subprocess.run(cmd, cwd=BENCH, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       timeout=BUILD_LIMIT_S)
    if r.returncode != 0 or not os.path.exists(CLASSPATH):
        fail(f"build failed (sbt exit {r.returncode})")
    archive_classes()
    with open(STAMP, "w") as f:
        f.write(stamp)


def archive_classes():
    """Records the classes a short etl_dag run loads into a class-data
    sharing archive. Later JVMs map them from it instead of loading them from
    the jars, which takes several seconds off JVM start and warm-up."""
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    work = os.path.join(BUILD, "archive-run")
    try:
        os.makedirs(os.path.join(work, "tmp"))
        gen_rawzone.generate(os.path.join(work, "raw"), 0, locations=4, days=2)
        cmd = harness_cmd(work, [f"-XX:ArchiveClassesAtExit={ARCHIVE}"]) + [
            "--workload", "etl_dag", "--seed", "0", "--seconds", "0", "--trace", "0",
            "--work", work, "--out", os.path.join(work, "result.json"),
            "--data", os.path.join(work, "raw")]
        subprocess.run(cmd, cwd=work, stdout=sys.stderr, stderr=sys.stderr, timeout=BUILD_LIMIT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def harness_cmd(work, jvm_extra=()):
    """The java command line of the harness, up to its own arguments."""
    shared = [f"-XX:SharedArchiveFile={ARCHIVE}"] if os.path.exists(ARCHIVE) else []
    return (["java"] + JVM_OPTS + shared + list(jvm_extra) +
            [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
             "-cp", open(CLASSPATH).read().strip(), "graft.perfbench.Harness"])


def generate(workload, work, seed, args):
    """Generates the run's inputs SETUP_REPEATS times; returns (dir, seconds each)."""
    times, target = [], None
    for i in range(SETUP_REPEATS):
        if target:
            shutil.rmtree(target)
        target = os.path.join(work, f"input-{i}")
        t0 = time.perf_counter()
        if workload == "etl_dag":
            gen_rawzone.generate(target, seed, args.locations, args.days)
        else:
            gen_catalog.generate(target, args.sf, CATALOG_SEED)
        times.append(time.perf_counter() - t0)
    return target, times


def tamper(kind, data, fingerprints, work):
    """Self-test hook: corrupts the expected values so the run must fail."""
    if kind == "manifest":
        path = os.path.join(data, "manifest.json")
        m = json.load(open(path))
        m["backfill"]["keys"] += 1
        json.dump(m, open(path, "w"))
        return fingerprints
    fp = json.load(open(fingerprints))
    for q in fp["queries"].values():
        q["hash"] = str(int(q["hash"]) + 1)
    path = os.path.join(work, "tampered-fingerprints.json")
    json.dump(fp, open(path, "w"))
    return path


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # sizing and self-test knobs; the benchmark runs with the defaults
    ap.add_argument("--sf", type=float, default=CATALOG_SF)
    ap.add_argument("--locations", type=int, default=30)
    ap.add_argument("--days", type=int, default=20)
    ap.add_argument("--tamper", choices=("fingerprint", "manifest"))
    args = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources not found: run from the root of a checkout")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json not found")
    if not os.environ.get("SPARK_HOME") or shutil.which("java") is None:
        fail("needs java on PATH and SPARK_HOME set")
    spec = json.load(open(spec_path))
    build()

    started = time.monotonic()
    work = os.path.join(BUILD, f"work-{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    try:
        data, gen_s = generate(args.workload, work, args.seed, args)
        fingerprints = os.path.join(BENCH, "fingerprints", f"sf{args.sf:g}.json")
        if args.tamper:
            fingerprints = tamper(args.tamper, data, fingerprints, work)
        out = os.path.join(work, "result.json")
        cpus = len(os.sched_getaffinity(0))
        cmd = harness_cmd(work) + [
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--out", out, "--data", data, "--cpus", str(cpus),
            "--fingerprints", fingerprints]
        # few malloc arenas keep the JVM's native memory, and so its peak
        # RSS, from varying with thread scheduling
        env = dict(os.environ, MALLOC_ARENA_MAX="2")
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=sys.stderr, stderr=sys.stderr)
        try:
            rc = proc.wait(timeout=max(10, RUN_LIMIT_S - (time.monotonic() - started)))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail("run exceeded its time limit")
        if rc != 0 or not os.path.exists(out):
            fail(f"harness exited with {rc}")
        res = json.load(open(out))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    m = res["metrics"]
    if args.trace == 0:
        m["setup_s"] += statistics.median(gen_s)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    # absent: the workload does not exercise that layer; null: no sample,
    # because the operations it times failed
    unmeasured = [w["name"] for w in wanted if w["name"] in m and m[w["name"]] is None]
    metrics = {w["name"]: {"value": float(m.get(w["name"]) or 0.0), "unit": w["unit"]}
               for w in wanted}
    detail = dict(res["detail"], generate_s=gen_s, unmeasured=unmeasured)
    print("detail: " + json.dumps(detail), file=sys.stderr)
    print(json.dumps({
        "correct": res["failed"] == 0 and not unmeasured,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))


if __name__ == "__main__":
    main()
