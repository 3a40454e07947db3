#!/usr/bin/env python3
"""Benchmark of the REST serving path and the Spark batch path.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: serve, batch_pipeline (see BENCHMARK.json and
perfbench/README.md). Run from the root of a checkout. The first run builds
the program and the harness from source with sbt (perfbench/build.sbt); later
runs reuse the build while no source changes.

Prints every metric of the workload as `name value unit`, a host-noise record
and, as the last line, the result JSON: with --trace 0 the end-to-end
metrics, with --trace 1 the per-layer metrics. Exits non-zero when a
correctness gate fails.
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
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("serve", "batch_pipeline")
TARGET = os.path.join(HERE, "target")
CP_FILE = os.path.join(TARGET, "perfbench.classpath")
STAMP_FILE = os.path.join(TARGET, "perfbench.stamp")
RUN_LIMIT_S = 160
BUILD_LIMIT_S = 700
HEAP = "3g"

# Spark on JDK 17 outside spark-submit needs these (the set of
# org.apache.spark.launcher.JavaModuleOptions)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs if f.endswith((".scala", ".java"))]
    return sorted(files)


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def spark_home():
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    submit = shutil.which("spark-submit")
    if submit:
        return os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    raise SystemExit("perfbench: no Spark install found (set SPARK_HOME)")


def build():
    """Compile the program and the harness; returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("perfbench: the program's sources (src/main/scala/graft) are missing")
    want = stamp()
    if os.path.exists(CP_FILE) and os.path.exists(STAMP_FILE):
        with open(STAMP_FILE) as f:
            if f.read().strip() == want:
                with open(CP_FILE) as f2:
                    return f2.read().strip()
    env = dict(os.environ)
    env["SPARK_HOME"] = spark_home()
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Dsbt.override.build.repos=true -Xmx2g")
    log("building (sbt compile)")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=BUILD_LIMIT_S, stdin=subprocess.DEVNULL)
    lines = [l.strip() for l in p.stdout.splitlines()]
    cp = next((l for l in reversed(lines) if l.startswith("/") and "classes" in l), None)
    if p.returncode != 0 or cp is None:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit(f"perfbench: build failed (exit {p.returncode})")
    os.makedirs(TARGET, exist_ok=True)
    with open(CP_FILE, "w") as f:
        f.write(cp)
    with open(STAMP_FILE, "w") as f:
        f.write(want)
    log(f"built in {time.time() - t0:.0f} s")
    return cp


def java_bin():
    jh = os.environ.get("JAVA_HOME")
    return os.path.join(jh, "bin", "java") if jh else "java"


def run_jvm(cp, work, args, limit):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java_bin()]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Main"] + args
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            return p.wait(timeout=limit)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        finally:
            # leave nothing of the harness's process group behind
            try:
                os.killpg(p.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    t_build = time.time()
    cp = build()
    # the run's own time limit starts after the build (a first, cold build
    # may take minutes)
    t_start = time.time()
    work = os.path.join(HERE, ".work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t0 = time.time()
        gen.generate(os.path.join(work, "inputs"), a.seed, a.workload)
        gen_s = time.time() - t0
        limit = RUN_LIMIT_S - (time.time() - t_start)
        rc = run_jvm(cp, work, [a.workload, work, str(a.seconds), str(a.trace)], limit)
        raw_path = os.path.join(work, "raw.json")
        if rc != 0 or not os.path.exists(raw_path):
            with open(os.path.join(work, "jvm.log")) as f:
                sys.stderr.write(f.read()[-6000:])
            log(f"harness JVM failed (exit {rc})")
            return 2
        with open(raw_path) as f:
            raw = json.load(f)
        oracle_result = None
        if a.workload == "batch_pipeline":
            import oracle
            t0 = time.time()
            oracle_result = oracle.check(os.path.join(work, "inputs", "sf"), os.path.join(work, "out"))
            raw["oracle_s"] = time.time() - t0
        result, details = metrics.assemble(a.workload, raw, gen_s, a.trace == 1, oracle_result)
        details["run_s"] = (time.time() - t_start, "s")
        details["build_s"] = (t_start - t_build, "s")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for name, (value, unit) in details.items():
        print(f"{name} {value:.6g} {unit}")
    print(json.dumps({"host": raw["host"], "errors": raw.get("errors", [])[:5]}))
    print(json.dumps(result))
    return 0 if result["correct"] and result["failed"] == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
