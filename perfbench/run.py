#!/usr/bin/env python3
"""Benchmark entry point: builds the program and the harness from source, then
runs one workload in a fresh JVM.

Usage (from the repository root):
  python3 perfbench/run.py --workload <lake_batch|lake_stream|analytics> \
      --seed <n> --seconds <s> --trace <0|1>

The last line of standard output is the result JSON. Everything the build and
the run write stays inside the checkout: sbt's `target/` directories and
`.bench_build/` (run directories, span files).
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import threading
import time

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
OUT = os.path.join(ROOT, ".bench_build")
CLASSPATH_FILE = os.path.join(BENCH, "target", "runtime-classpath.txt")
STAMP_FILE = os.path.join(OUT, "build.stamp")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
# sbt resolves only from the toolchain's local caches: no network access
SBT_ENV = {
    "COURSIER_MODE": "offline",
    "SBT_OPTS": os.environ.get("SBT_OPTS") or (
        "-Dsbt.override.build.repos=true "
        f"-Dsbt.repository.config={os.path.expanduser('~/.sbt/repositories')} "
        "-Dsbt.offline=true -Xmx2g"),
}
JVM_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every build input's path, size and mtime."""
    h = hashlib.sha256()
    inputs = ["build.sbt", "project/build.properties", "perfbench/build.sbt",
              "perfbench/project/build.properties"]
    for top in ["src/main", "perfbench/src/main"]:
        for dirpath, dirnames, filenames in os.walk(os.path.join(ROOT, top)):
            dirnames.sort()
            inputs += [os.path.relpath(os.path.join(dirpath, f), ROOT) for f in sorted(filenames)]
    for rel in inputs:
        p = os.path.join(ROOT, rel)
        if os.path.exists(p):
            st = os.stat(p)
            h.update(f"{rel}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    stamp = source_stamp()
    if os.path.exists(CLASSPATH_FILE) and os.path.exists(STAMP_FILE) \
            and open(STAMP_FILE).read() == stamp:
        return
    t0 = time.time()
    env = dict(os.environ, **SBT_ENV)
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                       cwd=BENCH, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0 or not os.path.exists(CLASSPATH_FILE):
        fail(f"build failed (sbt exit {r.returncode})")
    os.makedirs(OUT, exist_ok=True)
    with open(STAMP_FILE, "w") as f:
        f.write(stamp)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    a = ap.parse_args()
    for need in ["build.sbt", "src/main/scala/graft"]:
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no {need} here: run from the root of a repository checkout")
    build()

    work = os.path.join(OUT, "runs", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cp = open(CLASSPATH_FILE).read().strip()
    cmd = ["java"] + [x for p in JVM_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] + [
        # a fixed heap, so the resident high-water mark does not follow the
        # collector's resizing decisions; a fixed young generation, so
        # collections come often enough for the post-collection heap peak
        # to sample the live data many times
        "-Xms2560m", "-Xmx2560m", "-Xmn384m", "-XX:ReservedCodeCacheSize=512m",
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", cp, "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", a.trace, "--work", work]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    watchdog = threading.Timer(RUN_TIMEOUT_S, proc.kill)
    watchdog.start()
    last = None
    try:
        for line in proc.stdout:
            last = line.rstrip("\n")
            if not last.startswith("{\"correct\""):
                print(last, flush=True)  # the result line is printed last, below
        proc.wait()
    finally:
        watchdog.cancel()
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        spans = os.path.join(work, "spans.jsonl")
        if os.path.exists(spans):
            dest = os.path.join(OUT, "spans", f"{a.workload}-seed{a.seed}.jsonl")
            os.makedirs(os.path.dirname(dest), exist_ok=True)
            shutil.move(spans, dest)
            print(f"spans kept in {os.path.relpath(dest, ROOT)}")
        shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0 or not last or not last.startswith("{\"correct\""):
        fail(f"run ended with exit {proc.returncode} and no result line")
    print(json.dumps(result(json.loads(last), a.trace == "1")), flush=True)


def result(res, trace):
    """The run's result with exactly the manifest's metrics: the end-to-end
    ones, or the per-layer ones when tracing. Every workload reports all of
    them; the other figures a run prints stay in the lines above."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        wanted = json.load(f)["per_layer" if trace else "end_to_end"]
    got = res["metrics"]
    missing = [m["name"] for m in wanted if m["name"] not in got
               or got[m["name"]]["unit"] != m["unit"] or not math.isfinite(got[m["name"]]["value"])]
    if missing:
        fail(f"the run reported no {', '.join(missing)} (as a finite number in the manifest's unit)")
    res["metrics"] = {m["name"]: got[m["name"]] for m in wanted}
    return res


if __name__ == "__main__":
    main()
