#!/usr/bin/env python3
"""Run one benchmark of the graft engine.

    python3 perfbench/run.py --workload lookup|ingest --seed N \
        --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the engine and
the harness from source with sbt (perfbench/build.sbt); later runs
reuse the build while the sources are unchanged. The run itself is one
JVM (perfbench.Main) with one closed-loop client on local[nproc]; its
work files, generated base tables, results and spans stay under
perfbench/.work. The last stdout line is the result JSON.

    python3 perfbench/run.py --self-test

runs the harness's own unit tests instead.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala", "graft")
WORK = os.path.join(HERE, ".work")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(WORK, "build.stamp")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
HEAP = "3g"

# Spark on JDK 17 outside spark-submit needs these (the engine's own
# build.sbt passes the same list to its forked JVMs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest():
    """Digest of every source the build compiles."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Run cmd in its own process group; on timeout kill the group and
    wait for it, so no process outlives the benchmark."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    return p.returncode, out


def sbt(*tasks):
    # resolve only from the local caches, as the engine's own build does
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos} -Xmx2g")
    try:
        code, _ = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", *tasks],
                              BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=sys.stderr)
    except subprocess.TimeoutExpired:
        fail(f"sbt {' '.join(tasks)} timed out after {BUILD_TIMEOUT_S}s", 3)
    return code


def build():
    if not os.path.isdir(ENGINE_SRC):
        fail(f"engine sources not found at {os.path.relpath(ENGINE_SRC, ROOT)}; "
             "run from the root of a checkout", 2)
    digest = source_digest()
    if os.path.isdir(CLASSES) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                return
    if sbt("compile") != 0:
        fail("build failed", 3)
    os.makedirs(WORK, exist_ok=True)
    with open(STAMP, "w") as fh:
        fh.write(digest + "\n")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=["lookup", "ingest"])
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=[0, 1])
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if a.self_test:
        if not os.path.isdir(ENGINE_SRC):
            fail("engine sources not found", 2)
        sys.exit(0 if sbt("test") == 0 else 1)
    if a.workload is None or a.seed is None or a.seconds is None or a.trace is None:
        ap.error("--workload, --seed, --seconds and --trace are required")
    if a.seconds < 1:
        ap.error("--seconds must be at least 1")
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home or not os.path.isdir(os.path.join(spark_home, "jars")):
        fail("SPARK_HOME must name a Spark installation with a jars directory", 2)
    build()

    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # a fixed heap keeps the resident set from following the collector's
    # resizing decisions, which made peak RSS vary run to run
    cmd = ["java", *opens, f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
           "-cp", CLASSES + os.pathsep + os.path.join(spark_home, "jars", "*"),
           "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", WORK]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(os.cpu_count()))
    try:
        code, out = run_bounded(cmd, RUN_TIMEOUT_S, cwd=ROOT, env=env,
                                stdout=subprocess.PIPE, text=True)
    except subprocess.TimeoutExpired:
        fail(f"run timed out after {RUN_TIMEOUT_S}s", 4)
    lines = out.splitlines()
    if code != 0 or not lines:
        sys.stdout.write(out)
        fail(f"benchmark JVM exited with code {code}", code or 1)
    result = json.loads(lines[-1])
    if sorted(result) != ["attempted", "correct", "failed", "metrics"]:
        fail(f"malformed result line: {lines[-1]}", 5)
    sys.stdout.write("\n".join(lines[:-1]) + "\n")
    print(lines[-1])


if __name__ == "__main__":
    main()
