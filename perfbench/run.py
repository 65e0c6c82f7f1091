#!/usr/bin/env python3
"""Pub/sub flow benchmark: build the program if its sources changed, run one
workload in a fresh JVM, and print the result as the last line of stdout.

    python3 perfbench/run.py --workload pubsub_small --seed 1 --seconds 20 --trace 0

Run it from the repository root. The build (sbt, offline) happens only when
a source or build file changed since the last build; its outputs and every
run's state live under `.bench_build/` and are removed per run except the
build itself and the last trace. Workloads and metrics are described in
perfbench/README.md.
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

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build")
RUN_LIMIT_S = 170  # a run ends within 180 s, the build excluded
BUILD_LIMIT_S = 800
JVM_HEAP = "3g"

# the JDK 17 module openings Spark needs outside spark-submit (as build.sbt)
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
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file the build reads, relative to the root, sorted."""
    files = ["build.sbt", "project/build.properties",
             "perfbench/build.sbt", "perfbench/project/build.properties"]
    for top in ("src/main", "perfbench/src"):
        for d, _, names in os.walk(os.path.join(ROOT, top)):
            files += [os.path.relpath(os.path.join(d, n), ROOT) for n in names]
    return sorted(files)


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(f.encode())
        with open(os.path.join(ROOT, f), "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile with sbt when the sources changed; return the classpath."""
    want = stamp()
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BENCH, "target", "classpath.txt")
    if (os.path.exists(stamp_file) and os.path.exists(cp_file)
            and open(stamp_file).read() == want):
        return open(cp_file).read().strip()
    tmp = os.path.join(BUILD, "sbt-tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    sbt_opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        sbt_opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(sbt_opts)
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
        cwd=BENCH, env=env, stdout=sys.stderr, stderr=sys.stderr,
        timeout=BUILD_LIMIT_S)
    if proc.returncode != 0 or not os.path.exists(cp_file):
        fail(f"build failed (sbt exit {proc.returncode})")
    print(f"perfbench: built in {time.time() - t0:.0f} s", file=sys.stderr)
    with open(stamp_file, "w") as fh:
        fh.write(want)
    return open(cp_file).read().strip()


def expected_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"] for m in spec["per_layer" if trace else "end_to_end"]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    for need in ("build.sbt", "src/main/scala", "BENCHMARK.json"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found: run from the root of a full checkout")
    classpath = build()

    started = time.time()
    work = os.path.join(BUILD, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    out = os.path.join(work, "result.json")
    spans = os.path.join(BUILD, "traces", f"{a.workload}-seed{a.seed}.jsonl")
    cmd = ["java", f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
           f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
           f"-Dderby.system.home={os.path.join(work, 'derby')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work, "--out", out, "--spans", spans]
    proc = subprocess.Popen(cmd, cwd=work, start_new_session=True)
    try:
        code = proc.wait(timeout=max(1, RUN_LIMIT_S - (time.time() - started)))
    except subprocess.TimeoutExpired:
        code = None
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    try:
        if code is None:
            fail(f"run exceeded {RUN_LIMIT_S} s")
        if code != 0 or not os.path.exists(out):
            fail(f"benchmark JVM exited with {code}")
        with open(out) as fh:
            result = json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    got, want = set(result["metrics"]), expected_metrics(a.trace)
    if got != want:
        fail(f"metrics differ from BENCHMARK.json: extra {sorted(got - want)}, "
             f"missing {sorted(want - got)}")
    print(json.dumps(result), flush=True)
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
