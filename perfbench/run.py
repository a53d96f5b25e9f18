#!/usr/bin/env python3
"""graft's benchmark: one command per workload run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a graft checkout. The first run builds graft and the
benchmark from source with sbt (offline) and generates the input tables;
later runs reuse both from `.bench_build/perfbench`. Each run starts one
JVM (`graft.bench.Main`), which sets up the Spark session three times,
measures the workload for the given seconds and checks its outputs (the
registry workload's against DuckDB, through `oracle.py`). The last line of
stdout is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end metrics of BENCHMARK.json,
with `--trace 1` its per-layer metrics (and spans are written to
`.bench_build/perfbench/last/<workload>/spans.json`). The exit code is 0
only when every operation succeeded and every output was correct.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
JVM_TIMEOUT_S = 170
WORKLOADS = ("ssp_dataflow", "registry_sf001", "stream_stateful")
SCALES = (0.1, 0.01)  # stream replay reads sf0.1 events, the registry sf0.01

SBT_FLAGS = [
    "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
    "-Dsbt.offline=true", "-Dsbt.override.build.repos=true",
]
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def tree_hash(*paths):
    """Hash of every file under the given paths (names and contents)."""
    h = hashlib.sha256()
    for base in paths:
        for d, dirs, files in sorted(os.walk(base)):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project", "__pycache__"))
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    for f in ("build.sbt", os.path.join("project", "build.properties")):
        for base in (ROOT, HERE):
            p = os.path.join(base, f)
            if os.path.exists(p):
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles graft and the benchmark; returns the runtime classpath."""
    stamp = os.path.join(BUILD, "classpath.json")
    key = tree_hash(os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"))
    if os.path.exists(stamp):
        with open(stamp) as f:
            cached = json.load(f)
        if cached["key"] == key:
            return cached["classpath"]
    log("building graft and the benchmark with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    flags = list(SBT_FLAGS)
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        flags.append(f"-Dsbt.repository.config={repos}")
    t0 = time.time()
    p = subprocess.run(["sbt", *flags, "export perfbench/Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=840)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("perfbench: sbt build failed")
    classpath = lines[-1].strip()
    os.makedirs(BUILD, exist_ok=True)
    with open(stamp, "w") as f:
        json.dump({"key": key, "classpath": classpath}, f)
    log(f"built in {time.time() - t0:.0f} s")
    return classpath


def tables():
    """Generates the input tables once per generator version; returns the
    directory holding one `sf<scale>` directory per scale."""
    gen = os.path.join(HERE, "gen_tables.py")
    with open(gen, "rb") as f:
        key = hashlib.sha256(f.read()).hexdigest()[:16]
    out = os.path.join(BUILD, "data", key)
    if not os.path.exists(os.path.join(out, "_done")):
        log("generating the input tables")
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        for sf in SCALES:
            subprocess.run([sys.executable, gen, os.path.join(tmp, f"sf{sf}"), "--sf", str(sf)],
                           check=True)
        open(os.path.join(tmp, "_done"), "w").close()
        shutil.rmtree(out, ignore_errors=True)
        os.rename(tmp, out)
    return out


def run_jvm(classpath, args, work):
    cores = os.cpu_count() or 1
    try:
        cores = len(os.sched_getaffinity(0))
    except AttributeError:
        pass
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = ["java", "-Xmx3g", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           f"-Dperfbench.python={sys.executable}",
           f"-Dperfbench.oracle={os.path.join(HERE, 'oracle.py')}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           *opens, "-cp", classpath, "graft.bench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--cores", str(cores), "--data", tables(), "--out", work,
           "--inject-failure", "1" if args.inject_failure else "0"]
    p = subprocess.Popen(cmd, cwd=work, stdout=sys.stderr, stderr=sys.stderr)
    try:
        rc = p.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        raise SystemExit(f"perfbench: {args.workload} did not finish in {JVM_TIMEOUT_S} s")
    result = os.path.join(work, "result.json")
    if rc != 0 or not os.path.exists(result):
        raise SystemExit(f"perfbench: the benchmark JVM exited with code {rc}")
    with open(result) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject-failure", action="store_true",
                    help="add a throwing and a wrong query to the registry sample (tests)")
    args = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")) \
            or not os.path.exists(spec_path):
        raise SystemExit("perfbench: run from the root of a graft checkout (graft's sources are missing)")
    with open(spec_path) as f:
        spec = json.load(f)

    classpath = build()
    work = os.path.join(BUILD, "runs", f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        res = run_jvm(classpath, args, work)
        correct, failed = res["correct"], res["failed"]
        notes = list(res["notes"])
        last = os.path.join(BUILD, "last", args.workload + ("-trace" if args.trace else ""))
        shutil.rmtree(last, ignore_errors=True)
        os.makedirs(last)
        for f in ("result.json", "spans.json", "registry_samples.json"):
            if os.path.exists(os.path.join(work, f)):
                shutil.copy(os.path.join(work, f), last)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for n in notes:
        log(n)
    measured = res["layer"] if args.trace else res["e2e"]
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    if args.trace:  # a layer the workload does not reach reports 0
        measured = {m["name"]: measured.get(m["name"], 0.0) for m in wanted}
    missing = [m["name"] for m in wanted if measured.get(m["name"]) is None]
    if missing:
        raise SystemExit(f"perfbench: metrics not produced: {missing}")
    metrics = {m["name"]: {"value": measured[m["name"]], "unit": m["unit"]} for m in wanted}
    print(json.dumps({"correct": bool(correct), "attempted": int(res["attempted"]),
                      "failed": int(failed), "metrics": metrics}))
    sys.exit(0 if correct and failed == 0 else 1)


if __name__ == "__main__":
    main()
