#!/usr/bin/env python3
"""Telemetry + dedup benchmark runner.

Builds the program (src/main/scala) and the benchmark (telbench/src) with the
Scala compiler that ships with Spark, then runs one measured invocation:

    python3 telbench/run.py --workload point_lookup --seed 1 --seconds 20 --trace 0

prints every metric by name with its unit, and as the last stdout line the
JSON result {"correct", "attempted", "failed", "metrics"}. The full report
(environment, store sizes, failures, tail percentile, per-layer metrics, span
self times, tracing overhead) is written to .bench_out/.

    python3 telbench/run.py --selftest

runs the benchmark's own tests. See telbench/README.md.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "telbench")
WORK = os.path.join(ROOT, ".bench_work")
OUT = os.path.join(ROOT, ".bench_out")
WORKLOADS = ("point_lookup", "history_compact", "dedup_graph")
RUN_TIMEOUT_S = 165
HEAP = "3g"
# what spark-submit passes to a JDK 17 JVM (as in the repo's build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"telbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the repo build's unmanagedBase."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.isfile(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    fail("no Spark jars: set SPARK_HOME")


def sources(top):
    out = []
    for d, _, files in os.walk(top):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def compile_tree(name, srcs, classpath, jars):
    """Compiles `srcs` into BUILD/name unless the stamp says it is current."""
    out = os.path.join(BUILD, name)
    stamp = digest(srcs) + "|" + classpath
    stamp_file = out + ".stamp"
    if os.path.isdir(out) and os.path.isfile(stamp_file) and open(stamp_file).read() == stamp:
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    compiler = os.path.join(jars, "*")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", compiler, "scala.tools.nsc.Main", "-nowarn",
           "-d", tmp, "-classpath", classpath] + srcs
    if subprocess.run(cmd, cwd=ROOT).returncode != 0:
        fail(f"compiling {name} failed", 1)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return out


def build():
    main_src = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(os.path.join(main_src, "graft")):
        fail("program sources (src/main/scala/graft) not found; run from a checkout of the repo")
    if shutil.which("java") is None:
        fail("java not found")
    jars = spark_jars()
    spark_cp = os.path.join(jars, "*")
    prog_srcs = sources(main_src)
    prog = compile_tree("program", prog_srcs, spark_cp, jars)
    bench_srcs = sources(os.path.join(HERE, "src"))
    bench = compile_tree("bench", bench_srcs, prog + os.pathsep + spark_cp, jars)
    resources = os.path.join(ROOT, "src", "main", "resources")
    cp = os.pathsep.join([bench, prog, resources, spark_cp])
    return cp, digest(prog_srcs + bench_srcs)


def git_sha():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "none (not a git checkout)"
    r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True)
    return r.stdout.strip() if r.returncode == 0 else "unknown"


def java_cmd(cp, work, main, args):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # no perf-data file in the system temp dir: every write stays in the checkout
    return (["java", "-XX:-UsePerfData"] + opens + [f"-Xmx{HEAP}", "-Xss8m", f"-Djava.io.tmpdir={work}/tmp",
            "-cp", cp, main] + args)


def run_java(cmd, timeout):
    """Runs `cmd` in its own process group; kills the group on timeout."""
    p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                         start_new_session=True)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"benchmark run exceeded {timeout}s", 1)
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    return p.returncode, out


def main():
    # a terminated runner still stops the JVM it started (see run_java)
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and a.workload is None:
        ap.error("--workload is required")

    cp, src_hash = build()
    work = os.path.join(WORK, f"{a.workload or 'selftest'}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        if a.selftest:
            code, out = run_java(java_cmd(cp, work, "telbench.SelfTest", ["--work", work]),
                                 RUN_TIMEOUT_S)
            sys.stdout.write(out)
            sys.exit(code)
        os.makedirs(OUT, exist_ok=True)
        report = os.path.join(OUT, f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--work", work, "--report", report,
                "--git-sha", git_sha(), "--source-hash", src_hash]
        code, out = run_java(java_cmd(cp, work, "telbench.Main", args), RUN_TIMEOUT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines:
        fail(f"benchmark run failed (exit {code})", 1)
    result = json.loads(lines[-1])
    for name, m in sorted(result["metrics"].items()):
        print(f"{name} = {m['value']} {m['unit']}")
    print(f"report: {os.path.relpath(report, ROOT)}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
