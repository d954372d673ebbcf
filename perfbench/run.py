#!/usr/bin/env python3
"""Flow-pipeline benchmark runner.

Run from the repository root:

    python3 perfbench/run.py --workload netflow_fwm --seed 1 --seconds 10 --trace 0

The first run builds the engine and the benchmark with sbt (offline, from
the local dependency caches) and records the runtime classpath; later runs
reuse it while the sources are unchanged. The benchmark itself runs in one
JVM; its last stdout line is the JSON result. Any failure exits non-zero
without printing a result.
"""
import argparse
import hashlib
import os
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CLASSPATH = os.path.join(HERE, "target", "bench-classpath.txt")
STAMP = os.path.join(HERE, "target", "bench-sources.sha256")
WORKLOADS = ("netflow_fwm", "flow_archive", "mo_fanout", "stream_alerts")
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 outside spark-submit needs these module openings.
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


def source_hash():
    """Hash of every input of the build: engine and benchmark sources."""
    h = hashlib.sha256()
    for top in ("build.sbt", "project/build.properties", "src/main",
                "perfbench/build.sbt", "perfbench/project/build.properties",
                "perfbench/src/main"):
        path = os.path.join(ROOT, top)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def run_group(cmd, timeout, what, **kw):
    """Run cmd in its own process group and return (exit code, stdout).
    A timeout, or a signal to this script, kills the whole group."""
    with subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True,
                          start_new_session=True, **kw) as p:
        def stop(signum, _frame):
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            sys.exit(128 + signum)
        for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
            signal.signal(sig, stop)
        try:
            out, _ = p.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"{what} timed out")
    return p.returncode, out


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    digest = source_hash()
    if os.path.isfile(CLASSPATH) and os.path.isfile(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                return
    rc, out = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true",
                         "writeClasspath"], 700, "build", cwd=HERE,
                        env=sbt_env(), stderr=subprocess.STDOUT)
    if rc != 0 or not os.path.isfile(CLASSPATH):
        sys.stderr.write(out[-4000:])
        fail("build failed")
    with open(STAMP, "w") as fh:
        fh.write(digest)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("the engine sources are not here; run from a full checkout")
    build()
    with open(CLASSPATH) as fh:
        cp = fh.read().strip()
    # temporary files (native libraries, spills) stay in the checkout too
    tmp = os.path.join(ROOT, ".perfbench_run", "tmp")
    os.makedirs(tmp, exist_ok=True)
    # the default tiered JIT, as the engine runs in production; a fixed
    # heap, because with a growable one G1 kept resizing it: passes were
    # slower and the resident set differed widely between runs
    java = ["java", "-Xms3g", "-Xmx3g", "-Xss4m", "-XX:+UseG1GC",
            "-Dspark.ui.enabled=false", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={tmp}"]
    for m in ADD_OPENS:
        java += ["--add-opens", f"{m}=ALL-UNNAMED"]
    java += ["-cp", cp, "perfbench.Main", "--workload", a.workload,
             "--seed", str(a.seed), "--seconds", str(a.seconds),
             "--trace", a.trace,
             "--work", os.path.join(ROOT, ".perfbench_run",
                                    f"{a.workload}-{a.seed}")]
    rc, out = run_group(java, RUN_TIMEOUT_S, "run", cwd=ROOT)
    lines = [l for l in out.splitlines() if l.strip()]
    if rc != 0 or not lines or not lines[-1].startswith("{"):
        sys.stderr.write(out[-4000:])
        fail(f"benchmark exited with {rc}")
    print(lines[-1])


if __name__ == "__main__":
    main()
