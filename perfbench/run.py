#!/usr/bin/env python3
"""Benchmark entry point for graft.

    python3 perfbench/run.py --workload bulk|select|catalog --seed N \
        --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the engine and the
harness from source (sbt, offline) into $CARGO_TARGET_DIR, or
.bench_build when that is unset; later runs reuse the build while the
sources are unchanged. The run itself is one JVM (graft.perfbench.Main)
whose last stdout line is the result JSON, relayed here as this
program's last line. Everything the run writes stays under the build
directory. Exits non-zero, without a result line, when the engine
sources or the toolchain are missing, the build fails, or the run
overruns its time limit.
"""
import argparse
import fcntl
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
RUN_LIMIT_S = 170          # a measured run (no build) must end by then
BUILD_LIMIT_S = 850        # a first run that builds gets this long
HEAP = "3g"                # pinned (-Xms = -Xmx): no heap resizing in the timings
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]
RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}


def die(msg, code):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def source_stamp():
    """Hash of every input of the build: engine sources and resources,
    harness sources, and the harness build definition."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
            os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def spark_home():
    """The Spark install the engine builds against: $SPARK_HOME, or the
    first spark-submit on PATH that belongs to an install with jars/."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return home
    die("no Spark install found (set SPARK_HOME)", 2)


def sbt_env():
    env = dict(os.environ)
    env["SPARK_HOME"] = spark_home()
    env["COURSIER_MODE"] = "offline"
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def ensure_built(out):
    """Build once per source state; returns the runtime classpath."""
    os.makedirs(out, exist_ok=True)
    cp_file = os.path.join(out, "classpath.txt")
    stamp_file = os.path.join(out, "stamp.txt")
    with open(os.path.join(out, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp = source_stamp()
        if os.path.exists(cp_file) and os.path.exists(stamp_file):
            with open(stamp_file) as f:
                if f.read().strip() == stamp:
                    with open(cp_file) as c:
                        return c.read().strip(), False
        cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
               f"-Dperfbench.target={os.path.join(out, 'sbt')}",
               "compile", "export Runtime/fullClasspath"]
        try:
            p = subprocess.run(cmd, cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE,
                               stderr=subprocess.STDOUT, text=True, timeout=BUILD_LIMIT_S - 60,
                               stdin=subprocess.DEVNULL)
        except subprocess.TimeoutExpired:
            die("build timed out", 3)
        lines = [l for l in p.stdout.splitlines() if l.strip()]
        if p.returncode != 0 or not lines or "scala-library" not in lines[-1]:
            sys.stderr.write(p.stdout[-4000:])
            die(f"build failed (sbt exit {p.returncode})", 3)
        cp = lines[-1].strip()
        with open(cp_file, "w") as f:
            f.write(cp)
        with open(stamp_file, "w") as f:
            f.write(stamp)
        return cp, True


def parse_result(stdout):
    for line in reversed(stdout.splitlines()):
        line = line.strip()
        if not line.startswith("{"):
            continue
        try:
            r = json.loads(line)
        except ValueError:
            continue
        if isinstance(r, dict) and set(r) == RESULT_KEYS:
            return line
    return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["bulk", "select", "catalog"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    start = time.monotonic()

    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        die("engine sources (src/main/scala) not found next to perfbench/", 2)
    for tool in ("sbt", "java"):
        if shutil.which(tool) is None:
            die(f"{tool} not on PATH", 2)

    out = build_dir()
    cp, built = ensure_built(out)
    limit = (BUILD_LIMIT_S if built else RUN_LIMIT_S) - (time.monotonic() - start)

    work = os.path.join(out, "work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    env = dict(os.environ)
    env["SPARK_GRAFT_STREAM_SCRATCH"] = os.path.join(work, "stream")
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
           [f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "graft.perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--root", ROOT, "--work", work,
            "--spans", os.path.join(out, "trace")])
    child = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, text=True,
                             start_new_session=True, stdin=subprocess.DEVNULL)
    try:
        stdout, _ = child.communicate(timeout=max(1.0, limit))
    except subprocess.TimeoutExpired:
        os.killpg(child.pid, signal.SIGKILL)
        child.wait()
        shutil.rmtree(work, ignore_errors=True)
        die(f"run exceeded its time limit ({limit:.0f} s)", 4)
    shutil.rmtree(work, ignore_errors=True)
    result = parse_result(stdout)
    if child.returncode != 0 or result is None:
        sys.stderr.write(stdout[-2000:])
        die(f"run failed (exit {child.returncode}, result {'present' if result else 'missing'})", 5)
    print(result)


if __name__ == "__main__":
    main()
