#!/usr/bin/env python3
"""Build (on first use) and run one benchmark workload.

    python3 perfbench/run.py --workload c2v_month --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository. The library is
compiled from ../src/main/scala together with perfbench/src by the
benchmark's own sbt build; a stamp over every source file decides
whether to rebuild. The JVM then starts directly on the saved classpath.
Inputs and outputs live in perfbench/work/ (removed at exit); traced
runs leave their span file in perfbench/out/. The last stdout line is
the result JSON.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
STAMP = os.path.join(TARGET, "build.stamp")
WORKLOADS = ("c2v_month", "bow_topics", "app_recluster")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# Spark 4 on JDK 17 outside spark-submit needs these (Spark's
# JavaModuleOptions); the same list the repository's build passes.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def source_stamp():
    h = hashlib.sha256()
    roots = [LIB_SRC, os.path.join(HERE, "src", "main"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Runs cmd in its own process group and returns its exit code; on a
    timeout or an interrupt the whole group is killed and waited for."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return proc.wait(timeout=timeout)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return 1


def build():
    stamp = source_stamp()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read() == stamp:
                return
    print("perfbench: building", file=sys.stderr, flush=True)
    tmp = os.path.join(TARGET, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # sbt's output goes to stderr: stdout's last line is the result. The
    # flags keep sbt's lock, server socket and temp files out of $HOME and /tmp.
    code = run_group(["sbt", "--batch", "--no-server", "-Dsbt.log.noformat=true",
                      "-Dsbt.boot.lock=false", f"-Djava.io.tmpdir={tmp}", f"-Djna.tmpdir={tmp}",
                      "writeClasspath"], BUILD_TIMEOUT_S,
                     cwd=HERE, stdout=sys.stderr,
                     env=dict(os.environ, JAVA_TOOL_OPTIONS="-XX:-UsePerfData",
                              COURSIER_MODE=os.environ.get("COURSIER_MODE", "offline")))
    if code != 0:
        sys.exit("perfbench: build failed")
    with open(STAMP, "w") as f:
        f.write(stamp)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a terminated run still kills and waits for its JVM (run_group)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))

    if not os.path.isdir(os.path.join(LIB_SRC, "graft")):
        sys.exit(f"perfbench: library sources not found under {os.path.relpath(LIB_SRC)}")
    build()
    with open(CLASSPATH) as f:
        cp = f.read().strip()

    work = os.path.join(HERE, "work", f"{a.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a heap sized up front reaches steady pass times two passes sooner
    cmd = (["java", "-Xms3g", "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--work", work, "--out", os.path.join(HERE, "out")])
    try:
        code = run_group(cmd, RUN_TIMEOUT_S, cwd=ROOT)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
