#!/usr/bin/env python3
"""The repository benchmark: builds graft and the harness from source,
runs one workload in one JVM on local[nproc], checks its outputs and
prints every metric named in BENCHMARK.json.

Usage (from the repository root):
    python3 perfbench/run.py --workload knn_build --seed 1 --seconds 8 --trace 0

--trace 0 prints the end-to-end metrics of an untraced run; --trace 1
installs the harness tracer and prints the per-layer metrics. The last
line of standard output is one JSON object:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

Everything the run writes stays under the build directory
($CARGO_TARGET_DIR, default .bench_build) of the current directory.
See perfbench/DESIGN.md for the workloads and metrics.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
RUN_LIMIT_S = 170
HEAP = "2g"
# A fixed young generation small enough that collections come every
# fraction of a second: the heap in use after them then follows the
# live heap closely, and peak_mem_mb reads its high-water mark.
YOUNG = "256m"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(2)


def spark_jars():
    """The Spark jars: $SPARK_HOME/jars, else the directory build.sbt
    compiles against (its unmanagedBase)."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            return re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read()).group(1)
    except (OSError, AttributeError):
        fail("set SPARK_HOME: no Spark jars found")


def build(build_dir):
    """Compile src/main and the harness once per source state; reuse
    the classes on later runs."""
    main_src = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main_src):
        fail(f"no sources under {main_src}: run from the repository root")
    srcs = sorted(glob.glob(os.path.join(main_src, "**", "*.scala"), recursive=True))
    srcs += sorted(glob.glob(os.path.join(HERE, "src", "*.scala")))
    res_dir = os.path.join(ROOT, "src", "main", "resources")
    res = sorted(p for p in glob.glob(os.path.join(res_dir, "**"), recursive=True)
                 if os.path.isfile(p))
    h = hashlib.sha256()
    for p in srcs + res:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    out = os.path.join(build_dir, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".done")):
        return out
    for old in glob.glob(os.path.join(build_dir, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    tmp = out + ".tmp"
    os.makedirs(tmp)
    cp = os.path.join(spark_jars(), "*")
    t0 = time.time()
    r = subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
                        "-nowarn", "-d", tmp, "-classpath", cp] + srcs,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail("compilation failed")
    for p in res:
        dst = os.path.join(tmp, os.path.relpath(p, res_dir))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(p, dst)
    os.rename(tmp, out)
    open(os.path.join(out, ".done"), "w").close()
    sys.stderr.write(f"perfbench: compiled {len(srcs)} sources in {time.time() - t0:.1f} s\n")
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    bench_file = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(bench_file):
        fail("BENCHMARK.json not found: run from the repository root")
    with open(bench_file) as f:
        spec = json.load(f)
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        fail(f"unknown workload {a.workload}")

    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    classes = build(build_dir)
    t_run = time.time()

    work = os.path.join(build_dir, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    try:
        r = run_harness(a, classes, build_dir, work, t_run)
        spans = os.path.join(work, "spans.jsonl")
        if os.path.exists(spans):
            os.makedirs(os.path.join(build_dir, "traces"), exist_ok=True)
            shutil.copyfile(spans, os.path.join(build_dir, "traces",
                                                f"{a.workload}-{a.seed}.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    report(a, spec, r)


def run_harness(a, classes, build_dir, work, t_run):
    """Run the workload in its own JVM; return the harness's result."""
    for d in ("tmp", "spark-local", "stream-scratch"):
        os.makedirs(os.path.join(work, d))
    out = os.path.join(work, "result.json")
    cpus = len(os.sched_getaffinity(0))
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}",
            f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
            "-cp", f"{classes}:{os.path.join(spark_jars(), '*')}", "graftbench.Harness",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--out", out, "--cpus", str(cpus)])
    env = dict(os.environ, SPARK_GRAFT_STREAM_SCRATCH=os.path.join(work, "stream-scratch"),
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    log_path = os.path.join(build_dir, f"last-{a.workload}.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env, cwd=work)
        try:
            rc = p.wait(timeout=RUN_LIMIT_S - (time.time() - t_run))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"harness timed out; log in {log_path}")
    if rc != 0 or not os.path.exists(out):
        fail(f"harness exited with {rc}; log in {log_path}")
    with open(out) as f:
        return json.load(f)


def report(a, spec, r):
    """Print the problems, a summary line and the result line."""
    attempted, failed, problems = r["attempted"], r["failed"], r["problems"]
    ops = r["op_ms"]
    if not ops or attempted < 1:
        fail("no operation completed")

    if a.trace:
        names = [m["name"] for m in spec["per_layer"]]
        vals = dict(r["layers"])
        vals["trace.op_ms"] = statistics.median(ops)
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
    else:
        names = [m["name"] for m in spec["end_to_end"]]
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        vals = {
            "setup_s": r["setup_s"],
            "peak_mem_mb": r["peak_mem_mb"],
            "op_ms": statistics.median(ops),
            # a run has too few operations for a percentile above the
            # median with ten samples beyond it: the tail is the slowest
            "op_tail_ms": max(ops),
            "items_per_s": r["items"] / r["item_s"],
            "quality": sum(r["quality"]) / max(len(r["quality"]), 1),
        }
    metrics = {n: {"value": float(vals.get(n, 0.0)), "unit": units[n]} for n in names}

    for msg in problems:
        print(f"problem: {msg}")
    print(f"{a.workload} seed={a.seed}: {len(ops)} operations, setup "
          f"{r['setup_parts']}, memory {r['mem_parts']}, {attempted} attempted, {failed} failed")
    print(json.dumps({"correct": failed == 0 and not problems, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
