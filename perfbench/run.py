#!/usr/bin/env python3
"""Run one benchmark workload in a JVM of its own.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first call builds the library and the
benchmark from source with sbt (offline) and keeps the classpath under
perfbench/.work; later calls reuse it until a source file changes. sbt's
start-up and compilation enter no metric. The last line of standard output
is the run's JSON result; logs go to standard error.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
CLASSPATH = os.path.join(WORK, "classpath.txt")
WORKLOADS = ("medallion_daily", "curation", "versioned_dml")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# Spark on JDK 17 needs these outside spark-submit; same list as the
# repository's build.sbt (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"run.py: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    """Every file the build reads: the library, the benchmark, both builds."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files.extend(os.path.join(d, f) for f in fs)
    return files


def run_child(cmd, cwd, env, timeout, stdout):
    """Runs `cmd` in its own process group; kills the group on timeout and
    waits for it, so nothing it started outlives this script."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, stderr=sys.stderr,
                         start_new_session=True, text=True)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def build():
    stamp = os.path.getmtime(CLASSPATH) if os.path.exists(CLASSPATH) else -1
    if stamp >= max(os.path.getmtime(f) for f in sources()):
        return
    if shutil.which("sbt") is None:
        die("sbt is not on PATH")
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    print("run.py: building with sbt (offline)", file=sys.stderr)
    t0 = time.time()
    code, out = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true",
                           "export perfbench/Runtime/fullClasspath"],
                          HERE, env, BUILD_TIMEOUT_S, subprocess.PIPE)
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(out)
        die(f"build failed (exit {code})", 1)
    os.makedirs(WORK, exist_ok=True)
    with open(CLASSPATH, "w") as f:
        f.write(lines[-1].strip() + "\n")
    print(f"run.py: built in {time.time() - t0:.0f} s", file=sys.stderr)


def main():
    # A terminated run still stops the JVM it started (see run_child).
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        die(f"no library sources under {ROOT}: run from the root of a full checkout")

    build()
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    run = os.path.join(WORK, f"run-{os.getpid()}")
    os.makedirs(os.path.join(run, "tmp"), exist_ok=True)
    trace_out = os.path.join(WORK, "traces", f"{a.workload}-seed{a.seed}.jsonl")
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-Xmx3g", "-XX:ReservedCodeCacheSize=512m", f"-Djava.io.tmpdir={run}/tmp",
            "-cp", cp, "graftbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--work", run, "--trace-out", trace_out])
    try:
        code, out = run_child(cmd, ROOT, dict(os.environ), RUN_TIMEOUT_S, subprocess.PIPE)
    finally:
        shutil.rmtree(run, ignore_errors=True)
    result = None
    for line in out.splitlines():
        try:
            obj = json.loads(line)
        except ValueError:
            continue
        if isinstance(obj, dict) and {"correct", "attempted", "failed", "metrics"} <= obj.keys():
            result = obj
    if code != 0 or result is None:
        sys.stderr.write(out)
        die(f"benchmark JVM failed (exit {code})", 1)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
