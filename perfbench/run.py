#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload etl_daily --seed 1 --seconds 15 --trace 0

Builds the engine together with the benchmark code (perfbench/build.sbt)
when the sources changed since the last build, runs one benchmark JVM and
prints its result as the last line of stdout: one JSON object with the keys
correct, attempted, failed and metrics. With --trace 1 the metrics are the
per-layer figures and a trace file is written under perfbench/target/traces.

Dev tools, run through the same build:
    run.py --tool tables --out DIR          write the query_mix tables
    run.py --tool hashes --out DIR Q1,Q2    result hashes of parquet dumps
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

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
TARGET = os.path.join(BENCH, "target")
WORKLOADS = ("etl_daily", "query_mix", "corpus_curation")
JVM_TIMEOUT_S = 170
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


def source_files():
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        for d, _, files in os.walk(top):
            for f in files:
                yield os.path.join(d, f)
    yield os.path.join(BENCH, "build.sbt")
    yield os.path.join(BENCH, "project", "build.properties")


def source_digest():
    h = hashlib.sha256()
    for p in sorted(source_files()):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def source_id(digest):
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
        if out.returncode == 0:
            return f"git:{out.stdout.strip()} src:{digest}"
    except (OSError, subprocess.SubprocessError):
        pass
    return f"src:{digest}"


def build(digest):
    """Compile once per source digest; returns the runtime classpath."""
    stamp = os.path.join(TARGET, "perfbench-build.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            rec = json.load(f)
        if rec.get("digest") == digest:
            return rec["classpath"]
    os.makedirs(TARGET, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SPARK_HOME" not in env:
        submit = shutil.which("spark-submit")
        if not submit:
            fail("set SPARK_HOME or put spark-submit on PATH: the build uses Spark's jars")
        env["SPARK_HOME"] = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} -Dsbt.offline=true -Xmx2g")
    log = os.path.join(TARGET, "build.log")
    with open(log, "w") as out:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=BENCH, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=800)
    with open(log) as f:
        lines = f.read().splitlines()
    if proc.returncode != 0:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed")
    cp = [l for l in lines if ".jar" in l and os.pathsep in l and not l.startswith("[")]
    if not cp:
        fail("build printed no classpath")
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": cp[-1].strip()}, f)
    return cp[-1].strip()


def run_jvm(classpath, main, args, work):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-Xmx4g", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, main] + args)
    cmd = [str(int(time.time() * 1000)) if x == "{t0_ms}" else x for x in cmd]
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                            text=True, start_new_session=True)

    def stop(*_):
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    signal.signal(signal.SIGTERM, lambda *a: (stop(), sys.exit(143)))
    signal.signal(signal.SIGINT, lambda *a: (stop(), sys.exit(130)))
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        stop()
        proc.wait()
        fail(f"benchmark JVM did not finish within {JVM_TIMEOUT_S} s")
    finally:
        stop()
    return proc.returncode, out.splitlines()


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tool", choices=("tables", "hashes"))
    ap.add_argument("--out")
    ap.add_argument("names", nargs="?")
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources (src/main/scala/graft) not found next to the benchmark")
    if not a.workload and not a.tool:
        fail("--workload or --tool is required")

    digest = source_digest()
    classpath = build(digest)
    work = os.path.join(TARGET, f"work-{os.getpid()}")
    os.makedirs(work)
    try:
        if a.tool:
            code, lines = run_jvm(classpath, "perfbench.Tools",
                                  [a.tool, os.path.abspath(a.out), a.names or ""], work)
            print("\n".join(lines))
            sys.exit(code)
        code, lines = run_jvm(classpath, "perfbench.Main", [
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work, "--bench-dir", BENCH, "--t0-ms", "{t0_ms}",
            "--source", source_id(digest)], work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            pass
    if code != 0 or not isinstance(result, dict) or \
            set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.stderr.write("\n".join(lines[-20:]) + "\n")
        fail(f"benchmark JVM exited with {code} and no result")
    print("\n".join(lines[:-1]))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
