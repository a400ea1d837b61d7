#!/usr/bin/env python3
"""Run one perfbench workload against the graft checkout this file sits in.

Usage (from the repository root):

    python3 perfbench/run.py --workload ingest_mor --seed 1 --seconds 10 --trace 0

The first run builds the library and the harness with sbt (offline) and
caches the runtime classpath under .bench_build/; later runs launch the JVM
directly. The JVM prints a report and then one JSON result line; this script
checks that line, relays it as its own last stdout line and exits non-zero
when the run failed or any op returned a wrong answer.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 850

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Content hash of everything the build reads."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
                os.path.join(BENCH, "src"), os.path.join(BENCH, "project")):
        for d, dirs, files in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            inputs += [os.path.join(d, f) for f in sorted(files)]
    for p in inputs:
        if os.path.isfile(p):
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile with sbt when the sources changed; return the classpath."""
    cp_file = os.path.join(BENCH, "target", "bench-classpath.txt")
    stamp_file = os.path.join(BUILD, "build-stamp")
    stamp = source_stamp()
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as c:
                    return c.read()
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    # sbt's global state and temp files stay inside the checkout; it only
    # reads the image's boot, ivy and coursier caches
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
           "-Dsbt.server.autostart=false", "-J-XX:-UsePerfData",
           "-Dsbt.global.base=" + os.path.join(BUILD, "sbt-global"),
           "-Djava.io.tmpdir=" + os.path.join(BUILD, "tmp")]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        cmd += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
    cmd += ["writeClasspath"]
    log = os.path.join(BUILD, "build.log")
    t0 = time.time()
    with open(log, "w") as out:
        try:
            rc = subprocess.run(cmd, cwd=BENCH, env=env, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, timeout=BUILD_LIMIT_S).returncode
        except subprocess.TimeoutExpired:
            rc = -1
    if rc != 0 or not os.path.isfile(cp_file):
        with open(log) as f:
            tail = f.read()[-3000:]
        fail(f"build failed (exit {rc}); tail of {log}:\n{tail}")
    print(f"[perfbench] built in {time.time() - t0:.0f}s", file=sys.stderr)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    with open(cp_file) as c:
        return c.read()


def heap_mb():
    """JVM heap: half of physical memory, clamped to [2, 4] GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return max(2048, min(4096, kb // 2048))
    except (OSError, StopIteration, ValueError):
        return 2048


def check_result(line, trace):
    res = json.loads(line)
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        raise ValueError(f"result keys {sorted(res)}")
    if not isinstance(res["attempted"], int) or res["attempted"] < 1:
        raise ValueError("attempted must be a whole number >= 1")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    want = [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]
    missing = [m for m in want if m not in res["metrics"]]
    if missing:
        raise ValueError(f"metrics missing: {missing}")
    for name, m in res["metrics"].items():
        v = m.get("value")
        if not isinstance(v, (int, float)) or isinstance(v, bool) or not math.isfinite(v):
            raise ValueError(f"metric {name} is not a finite number: {v}")
    return res


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("no graft sources next to perfbench/: nothing to measure")
    classpath = build()
    started = time.time()

    work = os.path.join(BUILD, "work", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    out_dir = os.path.join(BUILD, "out")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    artifact = os.path.join(out_dir, f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    heap = heap_mb()
    cmd = ["java", f"-Xms{heap}m", f"-Xmx{heap}m", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + os.path.join(work, "tmp")]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main", "--workload", a.workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work, "--out", artifact]
    left = RUN_LIMIT_S - (time.time() - started)
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                            text=True)
    try:
        stdout, _ = proc.communicate(timeout=max(10, left))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run exceeded {RUN_LIMIT_S}s", 3)
    shutil.rmtree(work, ignore_errors=True)
    lines = stdout.rstrip("\n").split("\n")
    try:
        res = check_result(lines[-1], a.trace == 1)
    except (ValueError, json.JSONDecodeError) as e:
        sys.stdout.write(stdout)
        fail(f"no valid result line (jvm exit {proc.returncode}): {e}", 1)
    print("\n".join(lines[:-1]))
    print(f"[perfbench] artifact {os.path.relpath(artifact, ROOT)}")
    print(json.dumps(res))
    if proc.returncode != 0 or not res["correct"] or res["failed"]:
        sys.exit(1)


if __name__ == "__main__":
    main()
