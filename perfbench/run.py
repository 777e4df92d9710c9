#!/usr/bin/env python3
"""Run one benchmark workload of the graft engine.

    python3 perfbench/run.py --workload pipeline_daily --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The first run builds the engine's
sources together with the benchmark code (sbt, offline) into
perfbench/target; later runs reuse that build while the sources are
unchanged. The run itself is one JVM (`perfbench.Main`); its standard
output is passed through, and its last line is the JSON result.

Extra options for development and the smoke test:
    --size tiny            small inputs
    --data DIR             input tables (default: $PERFBENCH_DATA or ~/testdata/sf0.1)
    --plant-wrong-count    shift every expected row count by one
    --inputs-digest        generate the inputs, print their digest, stop
"""

import argparse
import fcntl
import hashlib
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SOURCES = os.path.join(ROOT, "src", "main", "scala")
TARGET = os.path.join(HERE, "target")
STAMP = os.path.join(TARGET, "perfbench-build.stamp")
DEFAULT_DATA = os.environ.get("PERFBENCH_DATA", os.path.join(os.path.expanduser("~"), "testdata", "sf0.1"))
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Digest of every input of the build: file names and contents."""
    h = hashlib.sha256()
    roots = [ENGINE_SOURCES, os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = []
        if os.path.isfile(r):
            paths = [r]
        else:
            for d, dirs, files in os.walk(r):
                dirs.sort()
                paths += [os.path.join(d, f) for f in sorted(files)]
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile if the sources changed since the last build; return the classpath."""
    os.makedirs(TARGET, exist_ok=True)
    with open(os.path.join(TARGET, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        digest = source_digest()
        if os.path.exists(STAMP):
            with open(STAMP) as f:
                stamp_digest, cp = f.read().split("\n", 1)
            if stamp_digest == digest:
                return cp.strip()
        env = dict(os.environ, COURSIER_MODE="offline")
        if "SPARK_HOME" not in env and shutil.which("spark-submit"):
            env["SPARK_HOME"] = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
        cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
               "-Dsbt.override.build.repos=true",
               f"-Dsbt.repository.config={os.path.expanduser('~/.sbt/repositories')}",
               "-Dsbt.offline=true",
               f"-Dsbt.global.base={os.path.join(TARGET, 'sbt-global')}",
               f"-Dsbt.boot.directory={os.path.join(TARGET, 'sbt-boot')}",
               "compile", "export Runtime/fullClasspath"]
        print("[perfbench] building (sources changed or first run)", file=sys.stderr)
        try:
            out = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
                                 stdin=subprocess.DEVNULL, text=True, timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail("build timed out")
        sys.stderr.write(out.stdout)
        lines = [l for l in out.stdout.splitlines() if l.strip()]
        if out.returncode != 0 or not lines or "perfbench" not in lines[-1]:
            fail(f"build failed (exit {out.returncode})")
        cp = lines[-1].strip()
        with open(STAMP, "w") as f:
            f.write(digest + "\n" + cp)
        return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True,
                    choices=["pipeline_daily", "query_read"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--size", choices=["full", "tiny"], default="full")
    ap.add_argument("--data", default=DEFAULT_DATA)
    ap.add_argument("--plant-wrong-count", action="store_true")
    ap.add_argument("--inputs-digest", action="store_true")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ENGINE_SOURCES, "graft")):
        fail(f"engine sources not found under {ENGINE_SOURCES}; run from a full checkout")
    if not os.path.isdir(a.data):
        fail(f"input tables not found at {a.data} (set PERFBENCH_DATA)")
    cp = build()

    work = os.path.join(HERE, ".work", f"{a.workload}-{a.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    jvm = ["java", f"-Xmx{HEAP}", "-Xss64m", "-XX:-UsePerfData"]
    for p in ADD_OPENS:
        jvm += ["--add-opens", f"{p}=ALL-UNNAMED"]
    jvm += [
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        f"-Dspark.local.dir={os.path.join(work, 'tmp')}",
        f"-Dspark.sql.warehouse.dir={os.path.join(work, 'spark-warehouse')}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", cp, "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", a.trace, "--size", a.size, "--data", a.data,
        "--work", os.path.join(work, "run"),
    ]
    if a.plant_wrong_count:
        jvm.append("--plant-wrong-count")
    if a.inputs_digest:
        jvm.append("--inputs-digest")

    proc = subprocess.Popen(jvm, cwd=ROOT, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
                            stderr=sys.stderr, text=True, start_new_session=True)

    def stop(*_):
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(3)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGALRM, lambda *_: (print("[perfbench] run timed out", file=sys.stderr), stop()))
    signal.alarm(RUN_TIMEOUT_S)
    try:
        for line in proc.stdout:
            sys.stdout.write(line)
            sys.stdout.flush()
        code = proc.wait()
    finally:
        signal.alarm(0)
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
