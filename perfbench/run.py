#!/usr/bin/env python3
"""Runs one workload of the benchmark and prints its result as one JSON line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of the repository. The first run builds the engine and the
harness from source with sbt (offline, from the local caches) into
perfbench/target; later runs reuse that build until a source file changes.
Each run starts one JVM that runs the workload and writes its raw result;
this script checks it and prints the line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json; with
--trace 1 they are its per-layer metrics, including the tracing overhead
(traced minus untraced value of each end-to-end metric, against the last
untraced run of the same workload, which is made first if there is none).
Spans of traced runs are written to perfbench/out/.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
ENGINE = os.path.join(ROOT, "src", "main")
BUILD = os.path.join(BENCH, "target")
OUT = os.path.join(BENCH, "out")
# the analytics tables: fixed, read-only sf0.1 parquet files
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR",
                        os.path.expanduser("~/testdata/sf0.1"))
BUILD_TIMEOUT_S = 850
RUN_GRACE_S = 150
# a fixed-size heap under the throughput collector: with G1 and a growing
# heap, work_s on bulk-transport and peak_rss_mb spread about twice as wide
# from run to run (4-core VM)
JVM_OPTS = ["-Xms2g", "-Xmx2g", "-XX:+UseParallelGC"]
# what spark-submit would pass on JDK 17 (JavaModuleOptions)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_process(cmd, cwd, timeout, stdout):
    """Runs cmd in its own process group; kills the group on timeout and
    waits until it has ended."""
    proc = subprocess.Popen(cmd, cwd=cwd, stdout=stdout, stderr=sys.stderr,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"{cmd[0]} did not finish within {timeout} s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    return proc.returncode, out


def source_stamp():
    h = hashlib.sha256()
    inputs = [ENGINE, os.path.join(BENCH, "src", "main"),
              os.path.join(BENCH, "build.sbt"),
              os.path.join(BENCH, "project", "build.properties")]
    for base in inputs:
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compiles engine and harness; returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ENGINE, "scala")):
        fail("engine sources (src/main/scala) not found; run from the "
             "repository root")
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            lines = f.read().splitlines()
        if len(lines) == 2 and lines[0] == stamp:
            return lines[1]
    code, out = run_process(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "export Runtime/fullClasspath"],
        BENCH, BUILD_TIMEOUT_S, subprocess.PIPE)
    lines = out.decode().splitlines()
    sys.stderr.write("\n".join(lines[-20:]) + "\n")
    if code != 0 or not lines:
        fail(f"build failed (sbt exit {code})")
    classpath = lines[-1].strip()
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(stamp + "\n" + classpath + "\n")
    return classpath


def run_jvm(classpath, args, trace):
    work = os.path.join(BENCH, "work", f"run-{os.getpid()}-{trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    result = os.path.join(work, "result.json")
    cmd = (["java"] + JVM_OPTS
           + [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(trace),
              "--work-dir", work, "--sf-dir", SF_DIR,
              "--pins", os.path.join(BENCH, "pins.tsv"),
              "--result", result])
    try:
        code, _ = run_process(cmd, ROOT, args.seconds + RUN_GRACE_S,
                              sys.stderr)
        if code != 0 or not os.path.exists(result):
            fail(f"workload {args.workload} failed (jvm exit {code})")
        with open(result) as f:
            res = json.load(f)
        if trace:
            os.makedirs(OUT, exist_ok=True)
            for name in os.listdir(work):
                if name.startswith("trace-"):
                    shutil.move(os.path.join(work, name), OUT)
        return res
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    with open(os.path.join(BENCH, "layers.json")) as f:
        owner = {m["name"]: m["workload"] for m in json.load(f)["per_layer"]}
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {args.workload}")
    if args.seconds < 1:
        fail("--seconds must be at least 1")
    e2e = [m["name"] for m in spec["end_to_end"]]

    classpath = build()
    base_file = os.path.join(OUT, f"untraced-{args.workload}.json")
    if not args.trace or not os.path.exists(base_file):
        base = run_jvm(classpath, args, 0)
        os.makedirs(OUT, exist_ok=True)
        with open(base_file, "w") as f:
            json.dump(base, f)
    else:
        with open(base_file) as f:
            base = json.load(f)
    res = run_jvm(classpath, args, 1) if args.trace else base

    metrics = {}
    if not args.trace:
        for name in e2e:
            if name not in res["e2e"]:
                fail(f"workload {args.workload} did not measure {name}")
            metrics[name] = res["e2e"][name]
    else:
        layer = dict(res["layer"])
        for name in e2e:
            layer[f"trace_overhead.{name}"] = {
                "value": res["e2e"][name]["value"] - base["e2e"][name]["value"],
                "unit": res["e2e"][name]["unit"]}
        for m in spec["per_layer"]:
            name = m["name"]
            if name in layer:
                metrics[name] = layer[name]
            elif owner.get(name) not in (None, args.workload, "all"):
                # a layer this workload does not exercise
                metrics[name] = {"value": 0, "unit": m["unit"]}
            else:
                fail(f"workload {args.workload} did not measure {name}")
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
