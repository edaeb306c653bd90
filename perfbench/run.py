#!/usr/bin/env python3
"""Run one graft benchmark workload and print its result.

Usage, from the repository root:

    python3 perfbench/run.py --workload kv_serve --seed 1 --seconds 10 --trace 0

Builds the engine plus the benchmark (sbt, in perfbench/) when their sources
changed since the last build, then runs one JVM: a local[nproc] Spark session
driven by one closed-loop client. The last line of stdout is the JSON result
({"correct", "attempted", "failed", "metrics"}); with --trace 0 the metrics are
BENCHMARK.json's end_to_end list, with --trace 1 its per_layer list. The run's
environment, result file, trace spans and plan texts land in perfbench/out/.
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
ENGINE_SRC = os.path.join(ROOT, "src", "main")
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
STAMP = os.path.join(TARGET, "build.stamp")
WORK = os.path.join(HERE, "work")
OUT = os.path.join(HERE, "out")

BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
DRIVER_HEAP = "2g"

# Spark on JDK 17 needs these outside spark-submit (the engine's build uses
# the same list).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every input of the build, so an edit anywhere rebuilds."""
    h = hashlib.sha256(ROOT.encode())
    inputs = [ENGINE_SRC, os.path.join(HERE, "src", "main"),
              os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")]
    for top in inputs:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def spark_home():
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    submit = shutil.which("spark-submit")
    if not submit:
        fail("no Spark install found: set SPARK_HOME")
    return os.path.dirname(os.path.dirname(os.path.realpath(submit)))


def build():
    stamp = source_stamp()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read() == stamp:
                return
    # sbt's scratch files (sockets, file-watcher and JNA temp files) go to a
    # directory of the build, not the system temp directory.
    tmp = os.path.join(TARGET, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, SPARK_HOME=spark_home(),
               JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} -Djna.tmpdir={tmp}")
    env.setdefault("COURSIER_MODE", "offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.boot.lock=false",
           "-Dsbt.server.autostart=false", "compile", "writeClasspath"]
    print("perfbench: building (sbt compile)", file=sys.stderr)
    try:
        r = subprocess.run(cmd, cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                           timeout=BUILD_TIMEOUT_S, start_new_session=True)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    if r.returncode != 0 or not os.path.exists(CLASSPATH):
        fail(f"build failed (sbt exit {r.returncode})")
    with open(STAMP, "w") as f:
        f.write(stamp)


def expected_metrics(trace):
    """name -> unit of the metrics BENCHMARK.json promises for this mode."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def validate(result, trace):
    want = expected_metrics(trace)
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        return f"result keys {sorted(result)}"
    got = result["metrics"]
    if set(got) != set(want):
        return f"metric names differ from BENCHMARK.json: {sorted(set(got) ^ set(want))}"
    for name, m in got.items():
        if set(m) != {"value", "unit"} or m["unit"] != want[name]:
            return f"metric {name}: {m}"
        if not isinstance(m["value"], (int, float)):
            return f"metric {name} is not a number"
    if not isinstance(result["attempted"], int) or result["attempted"] < 1:
        return "attempted must be a whole number >= 1"
    return None


def run_jvm(a, cores):
    work = os.path.join(WORK, f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-XX:-UsePerfData", f"-Xms{DRIVER_HEAP}", f"-Xmx{DRIVER_HEAP}", f"-Djava.io.tmpdir={work}/tmp",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-cp", cp, "graft.perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--cores", str(cores), "--work", work, "--out", OUT]
    proc = subprocess.Popen(cmd, cwd=HERE, stdout=subprocess.PIPE, stderr=sys.stderr,
                            text=True, start_new_session=True)
    try:
        stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail("run timed out", 4)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0:
        fail(f"benchmark JVM exited with {proc.returncode}", 3)
    return stdout.strip().splitlines()


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=["kv_serve", "sql_mixed", "pipeline"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = p.parse_args()
    if not os.path.isdir(os.path.join(ENGINE_SRC, "scala", "graft")):
        fail(f"engine sources not found under {os.path.relpath(ENGINE_SRC)}")
    t0 = time.time()
    build()
    cores = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    lines = run_jvm(a, cores)
    if not lines:
        fail("benchmark printed nothing", 3)
    result = json.loads(lines[-1])
    err = validate(result, a.trace)
    if err:
        fail(f"invalid result: {err}", 3)
    for line in lines[:-1]:
        print(line)
    print(f"wall_s {time.time() - t0:.1f}")
    print(lines[-1])


if __name__ == "__main__":
    main()
