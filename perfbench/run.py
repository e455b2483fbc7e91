#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1> [--plant]

Run from the root of a checkout. Builds the engine plus the benchmark with
perfbench/build.sbt on first use (output under .bench_build/, rebuilt when a
source changes), then runs one benchmark process (perfbench.Main) and prints
its result as the last stdout line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {name: {value, unit}}}

With --trace 0 the metrics are BENCHMARK.json's end_to_end metrics; with
--trace 1 its per_layer metrics (a layer the workload does not exercise reads
0). peak_rss_mb is the benchmark process's peak resident set size, taken
from the kernel when the process exits. Exits non-zero, without a result,
when the engine sources are missing, the build fails or the run crashes;
exits 1 after printing the result when any op or output check failed.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import threading

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation found (set SPARK_HOME)")
    return home


def fingerprint():
    """Content hash of everything the build compiles."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(env):
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = os.path.join(BUILD, "fingerprint")
    fp = fingerprint()
    if os.path.exists(cp_file) and os.path.exists(stamp) and open(stamp).read() == fp:
        return open(cp_file).read().strip()
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos) and "sbt.repository.config" not in opts:
        opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    benv = dict(env, SBT_OPTS=opts.strip(), COURSIER_MODE="offline")
    try:
        # sbt's log goes to stderr: stdout carries only the result
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                           cwd=HERE, env=benv, stdout=sys.stderr, stderr=sys.stderr,
                           timeout=BUILD_TIMEOUT_S)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(f"build failed: {e}")
    if r.returncode != 0 or not os.path.exists(cp_file):
        fail(f"build failed (sbt exit {r.returncode})")
    with open(stamp, "w") as f:
        f.write(fp)
    return open(cp_file).read().strip()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--plant", action="store_true", help="feed every check a wrong output")
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json not found next to perfbench/")
    spec = json.load(open(spec_path))
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {a.workload}")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources (src/main/scala/graft) not found; run from a full checkout")

    env = dict(os.environ, SPARK_HOME=spark_home())
    cp = build(env)

    cores = os.cpu_count() or 1
    work = os.path.join(ROOT, ".bench_work", f"{a.workload}-{a.seed}-{os.getpid()}")
    out = os.path.join(ROOT, ".bench_out")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # fixed heap and generation sizes, touched in full at start: otherwise
    # the pages of the old generation a run touches, and so the peak RSS,
    # follow when the collector happened to promote rather than the work
    cmd = (["java", "-Xms2g", "-Xmx2g", "-Xmn1g", "-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy",
            "-XX:+AlwaysPreTouch",
            f"-XX:ParallelGCThreads={cores}",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
           + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", a.trace, "--work", work, "--out", out]
           + (["--plant"] if a.plant else []))
    lines = []
    try:
        # two malloc arenas: with one per thread, the JVM's native memory, and
        # so the peak RSS, follows which threads happened to allocate
        p = subprocess.Popen(cmd, cwd=ROOT, env=dict(env, MALLOC_ARENA_MAX="2"),
                             stdout=subprocess.PIPE, text=True)
        timer = threading.Timer(RUN_TIMEOUT_S, p.kill)
        timer.start()
        for line in p.stdout:
            lines.append(line.rstrip("\n"))
            if not line.startswith("{"):
                print(line, end="", flush=True)
        _, status, usage = os.wait4(p.pid, 0)
        p.returncode = os.waitstatus_to_exitcode(status)
        timer.cancel()
    finally:
        shutil.rmtree(work, ignore_errors=True)

    try:
        res = json.loads(lines[-1])
    except (IndexError, ValueError):
        fail(f"benchmark process exited {p.returncode} without a result", 3)
    got = res["metrics"]
    if a.trace == "0":
        got["peak_rss_mb"] = usage.ru_maxrss / 1024.0  # ru_maxrss is in KiB on Linux
        wanted = spec["end_to_end"]
    else:
        wanted = spec["per_layer"]
    names = {m["name"] for m in wanted}
    unknown = sorted(set(got) - names)
    if unknown:
        fail(f"metrics missing from BENCHMARK.json: {unknown}", 3)
    missing = [m["name"] for m in wanted if m["name"] not in got]
    if a.trace == "0" and missing:
        fail(f"end-to-end metrics not measured: {missing}", 3)
    if missing:
        print(f"{len(missing)} per-layer metrics not exercised by {a.workload}: reported as 0")
    res["metrics"] = {m["name"]: {"value": float(got.get(m["name"], 0.0)), "unit": m["unit"]}
                      for m in wanted}
    for m in wanted:
        if m["name"] in got:
            print(f"metric {m['name']} {got[m['name']]:.6g} {m['unit']}")
    print(json.dumps(res), flush=True)
    sys.exit(0 if res["correct"] and p.returncode == 0 else 1)


if __name__ == "__main__":
    main()
