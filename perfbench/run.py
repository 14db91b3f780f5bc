#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload backfill|stream_tail|neardup_dense \
        --seed N --seconds S --trace 0|1 [--size full|smoke]

Run from the repository root. Builds the engine and the benchmark program
from source (sbt, in this directory) when the sources changed, runs one
workload in a fresh JVM at local[4], checks its outputs against DuckDB,
and prints one JSON line last on stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` prints the end-to-end metrics of BENCHMARK.json, `--trace 1`
the per-layer ones, and writes the full trace (spans, self times, input
properties) to perfbench/.work/trace-<workload>-s<seed>.json.
Everything the run writes stays under perfbench/.work and perfbench/target.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "perfbench.stamp")
WORKLOADS = ("backfill", "stream_tail", "neardup_dense")
JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]
DEADLINE_S = 175


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def source_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("engine sources (src/main/scala) not found next to perfbench/")
    if not os.environ.get("SPARK_HOME"):
        fail("SPARK_HOME is not set; the build and the run need $SPARK_HOME/jars")
    digest = source_digest()
    if os.path.isdir(CLASSES) and os.path.exists(STAMP) and open(STAMP).read() == digest:
        return
    log("building engine + benchmark with sbt")
    t0 = time.time()
    env = dict(os.environ)
    # offline build against the pre-fetched dependency caches, the same
    # defaults the repository's own test command uses
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", " ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Xmx2g"]))
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       timeout=850)
    if r.returncode != 0 or not os.path.isdir(os.path.join(CLASSES, "perfbench")):
        fail(f"build failed (sbt exit {r.returncode})")
    with open(STAMP, "w") as f:
        f.write(digest)
    log(f"built in {time.time() - t0:.1f}s")


def java_cmd(args, work, out):
    jars = os.path.join(os.environ["SPARK_HOME"], "jars", "*")
    cp = os.pathsep.join([CLASSES, os.path.join(ROOT, "src", "main", "resources"), jars])
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    return ([java, "-Xmx2g", "-XX:+UseParallelGC"]
            + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JDK_OPENS]
            + [f"-Djava.io.tmpdir={tmp}",
               "-Dspark.ui.enabled=false",
               # 2 per core: the 200 default puts 200 state-store tasks in
               # every stateful micro-batch, ~10 s per batch at local[4]
               "-Dspark.sql.shuffle.partitions=8",
               f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
               f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
               "-cp", cp, "perfbench.Main",
               "--workload", args.workload, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace),
               "--size", args.size, "--work", work, "--out", out])


def prune_inputs(data, keep):
    """Keep the `keep` most recently generated input sets."""
    if not os.path.isdir(data):
        return
    entries = sorted((os.path.getmtime(os.path.join(data, e)), e) for e in os.listdir(data))
    for _, e in entries[:-keep]:
        shutil.rmtree(os.path.join(data, e), ignore_errors=True)


def run_jvm(cmd, timeout):
    """Run the benchmark JVM in its own process group; on timeout kill the
    whole group (the JVM may have launched child JVMs) and wait."""
    p = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr,
                         start_new_session=True, cwd=WORK)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    finally:
        try:
            os.killpg(p.pid, signal.SIGKILL)  # stray children of the JVM
        except ProcessLookupError:
            pass


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "smoke"), default="full")
    args = ap.parse_args()
    started = time.time()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json not found at the repository root")
    spec = json.load(open(spec_path))
    build()
    import checks  # after build(), so that a tree without sources fails first

    os.makedirs(WORK, exist_ok=True)
    work = os.path.join(WORK, "run")
    out = os.path.join(WORK, f"result-{args.workload}.json")
    if os.path.exists(out):
        os.remove(out)
    for d in ("out", "stream", "logs", "tmp", "spark-local"):  # keep data/ (input cache)
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)
    prune_inputs(os.path.join(work, "data"), keep=12)
    # leave time for the DuckDB checks after the JVM
    code = run_jvm(java_cmd(args, work, out), DEADLINE_S - 15 - (time.time() - started))
    if code is None:
        fail("benchmark JVM timed out", 3)
    if not os.path.exists(out):
        fail(f"benchmark JVM exited {code} without a result", 3)
    res = json.load(open(out))

    attempted, failed = res["attempted"], res["failed"]
    props = dict(res["inputs"])
    problems = list(res["notes"])
    for c in res["checks"]:
        ok, detail, p = checks.run_check(work, c)
        attempted += 1
        props.update({f"{c['kind']}.{k}": v for k, v in p.items()})
        if not ok:
            failed += 1
            problems.append(detail)
    for p in problems:
        log(f"problem: {p}")

    want = spec["per_layer" if args.trace else "end_to_end"]
    metrics = {}
    for m in want:
        got = res["metrics"].get(m["name"])
        if got is None or got["value"] is None:  # absent, or NaN in the JVM
            failed += 1
            log(f"metric {m['name']} was not measured")
            continue
        metrics[m["name"]] = {"value": got["value"], "unit": m["unit"]}
    if args.trace:
        trace_path = os.path.join(WORK, f"trace-{args.workload}-s{args.seed}.json")
        with open(trace_path, "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed, "size": args.size,
                       "inputs": props, "metrics": res["metrics"], "spans": res["spans"]},
                      f, indent=1)
        log(f"trace written to {trace_path}")
    print(json.dumps({"inputs": props}))
    print(json.dumps({"correct": failed == 0 and not problems, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
