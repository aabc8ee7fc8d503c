#!/usr/bin/env python3
"""Runs one perfbench workload against graft and prints its result.

    python3 perfbench/run.py --workload snapshot_query --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run compiles graft's main sources
and the benchmark's Scala sources into the build directory
($CARGO_TARGET_DIR, default .bench_build); later runs reuse the classes
while the sources are unchanged. The last line of standard output is one
JSON object: correct, attempted, failed, and the metrics of BENCHMARK.json
(end_to_end with --trace 0, per_layer with --trace 1), each with its unit.
The exit code is nonzero when any op failed or any output was wrong.

`--selftest digests|failing` runs the benchmark's own checks instead; see
test_perfbench.py.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import threading

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MAIN_SRC = os.path.join(ROOT, "src", "main", "scala")
RESOURCES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(HERE, "src")
# A run that has not finished by then is killed and reported as failed.
JVM_TIMEOUT_S = 170
# A fixed young generation and no adaptive sizing: the heap then grows
# only when live data needs it, so peak RSS follows the program's memory
# use rather than the GC's timing-driven resizing.
HEAP_FLAGS = ["-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy",
              "-Xms1g", "-Xmn512m", "-Xmx2g"]

# Spark on JDK 17 needs these outside spark-submit; the same list as the
# repo's build.sbt.
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


def build_root():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")


def spark_jars():
    """The Spark jar directory the repo's build compiles against."""
    candidates = []
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m:
            candidates.append(m.group(1))
    except OSError:
        pass
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    for d in candidates:
        if os.path.isdir(d) and any(n.startswith("spark-core") for n in os.listdir(d)):
            return d
    fail("no Spark jar directory found (build.sbt unmanagedBase or $SPARK_HOME/jars)")


def scala_sources():
    out = []
    for top in (MAIN_SRC, BENCH_SRC):
        if not os.path.isdir(top):
            fail(f"missing source directory {top}")
        for d, _, files in os.walk(top):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build(jars):
    """Compiles graft and the benchmark unless the classes are current.
    Returns (classes dir, digest of the sources)."""
    sources = scala_sources()
    h = hashlib.sha256()
    for p in sources:
        h.update(os.path.relpath(p, ROOT).encode() + b"\0")
        with open(p, "rb") as f:
            h.update(f.read())
    h.update("\0".join(sorted(os.listdir(jars))).encode())
    digest = h.hexdigest()[:16]
    classes = os.path.join(build_root(), "classes")
    stamp = classes + ".stamp"
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return classes, digest
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = classes + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(sources) + "\n")
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-classpath", cp, "@" + argfile]
    print(f"perfbench: compiling {len(sources)} sources", file=sys.stderr)
    rc = subprocess.run(cmd, stdout=sys.stderr).returncode
    if rc != 0:
        fail(f"compilation failed with exit code {rc}")
    with open(stamp, "w") as f:
        f.write(digest)
    return classes, digest


def git_commit():
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def run_jvm(classes, jars, work, jvm_args):
    """Runs perfbench.Main; returns (exit code, stdout lines, peak RSS MB)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = (["java"] + HEAP_FLAGS + ["-Xss16m", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join([classes, RESOURCES, os.path.join(jars, "*")]),
              "perfbench.Main", "--work", work, "--data", os.path.join(HERE, "data")]
           + jvm_args)
    # Spark would put its block manager dirs there instead of under `work`.
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, cwd=work, env=env)
    timer = threading.Timer(JVM_TIMEOUT_S, p.kill)
    timer.start()
    try:
        lines = p.stdout.read().splitlines()
        _, status, usage = os.wait4(p.pid, 0)
        p.returncode = os.waitstatus_to_exitcode(status)
    finally:
        timer.cancel()
        if p.returncode is None:
            p.kill()
            p.wait()
    for line in lines[:-1]:
        print(line, file=sys.stderr)
    return p.returncode, lines, usage.ru_maxrss / 1024.0


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", choices=("digests", "failing"))
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if a.workload and a.workload not in [w["name"] for w in spec["workloads"]]:
        ap.error(f"unknown workload {a.workload}")

    jars = spark_jars()
    classes, digest = build(jars)
    name = a.selftest and f"selftest-{a.selftest}" or a.workload
    results = os.path.join(build_root(), "results")
    os.makedirs(results, exist_ok=True)
    out = os.path.join(results, f"{name}-seed{a.seed}-trace{a.trace}")
    jvm_args = ["--seed", str(a.seed), "--out", out]
    if a.selftest:
        jvm_args += ["--selftest", a.selftest]
    else:
        jvm_args += ["--workload", a.workload, "--seconds", str(a.seconds),
                     "--trace", str(a.trace), "--commit", git_commit(),
                     "--source-digest", digest]
    work = os.path.join(build_root(), f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    # SIGTERM unwinds through the finally below, so the scratch dir goes too.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        rc, lines, rss_mb = run_jvm(classes, jars, work, jvm_args)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    try:
        res = json.loads(lines[-1])
    except (IndexError, ValueError):
        fail(f"the JVM exited with code {rc} and printed no result")
    if a.selftest:
        print(json.dumps(res))
        sys.exit(rc)

    if a.trace == 0:
        res["metrics"]["peak_rss_mb"] = rss_mb
    wanted = spec["per_layer" if a.trace else "end_to_end"]
    missing = {m["name"] for m in wanted} ^ set(res["metrics"])
    if missing:
        fail(f"metrics do not match BENCHMARK.json: {sorted(missing)}")
    print(json.dumps({
        "correct": res["correct"] and rc == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {m["name"]: {"value": res["metrics"][m["name"]], "unit": m["unit"]}
                    for m in wanted},
    }))
    sys.exit(rc)


if __name__ == "__main__":
    main()
