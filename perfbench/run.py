#!/usr/bin/env python3
"""graft benchmark: builds the engine and the harness from source, then runs
one workload in one JVM and prints the result as the last line of stdout.

    python3 perfbench/run.py --workload llm_curate|table_rw \
        --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --unit-tests     # the harness's own tests
    python3 perfbench/run.py --record         # rewrite perfbench/expected.tsv

Run it from the repository root. Everything it writes stays under the
checkout: classes in .bench_build/perfbench, each run's scratch (tables,
indexes, Spark dirs, the trace) in a new .bench_run/<workload>-t<trace>-*.
See perfbench/README.md for the workloads and metrics.
"""
import argparse
import fcntl
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
RUNS = os.path.join(ROOT, ".bench_run")
DATA = os.path.join(HERE, "data", "sf0.01")
EXPECTED = os.path.join(HERE, "expected.tsv")
WORKLOADS = ("llm_curate", "table_rw")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 600
# a fixed heap: a heap that G1 grows during the run starts concurrent
# cycles at different times in different runs, and their CPU time varies
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    """$SPARK_HOME/jars, else the jars directory build.sbt compiles against."""
    if "SPARK_HOME" in os.environ:
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                      open(os.path.join(ROOT, "build.sbt")).read()) \
            if os.path.exists(os.path.join(ROOT, "build.sbt")) else None
        if not m:
            fail("set SPARK_HOME: build.sbt names no Spark jars directory")
        jars = m.group(1)
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        fail(f"no Spark jars under {jars} (set SPARK_HOME)")
    return jars


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                        recursive=True))
    if not main:
        fail("no engine sources under src/main/scala: run from a graft checkout")
    return main + sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))


def build():
    """Compile the engine and the harness with the Scala compiler that ships
    with Spark; skipped when the sources are unchanged since the last build.
    Concurrent invocations wait for one another on a lock file."""
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        return build_locked()


def build_locked():
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    compiler = [glob.glob(os.path.join(jars, f"{n}-2.13*.jar"))
                for n in ("scala-compiler", "scala-library", "scala-reflect")]
    if not all(compiler):
        fail(f"no Scala 2.13 compiler jars under {jars}")
    jline = glob.glob(os.path.join(jars, "jline-3*.jar"))
    cp = ":".join([c[0] for c in compiler] + jline)
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    t0 = time.time()
    print(f"[perfbench] compiling {len(srcs)} sources", file=sys.stderr)
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
                        "-nowarn", "-classpath", os.path.join(jars, "*"), "-d", tmp] + srcs,
                       cwd=ROOT, timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0:
        fail("build failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    print(f"[perfbench] compiled in {time.time() - t0:.1f} s", file=sys.stderr)
    return classes


def java_cmd(classes, scratch, main, args):
    for d in ("tmp", "derby"):
        os.makedirs(os.path.join(scratch, d), exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java"] + opens + [
        f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UseDynamicNumberOfCompilerThreads",
        f"-Djava.io.tmpdir={os.path.join(scratch, 'tmp')}",
        f"-Dderby.system.home={os.path.join(scratch, 'derby')}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", ":".join([classes, os.path.join(ROOT, "src", "main", "resources"),
                         os.path.join(spark_jars(), "*")]), main] + args)


def run_jvm(cmd, scratch, timeout):
    """Run the JVM, echo its stdout, and return (exit code, stdout lines).
    The JVM's log goes to <scratch>/jvm.log; a run over time is killed."""
    with open(os.path.join(scratch, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=log,
                             text=True, start_new_session=True)
        try:
            out, _ = p.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"run exceeded {timeout} s; log in {log.name}", 3)
    lines = out.splitlines()
    for line in lines[:-1]:
        print(line)
    return p.returncode, lines


def fresh_scratch(name):
    """A new, empty directory for this run. Earlier runs' directories are
    left in place: deleting files the kernel has already written back costs
    tens of milliseconds each on a disk mounted with online discard, about
    10 s for one table_rw run's table; remove .bench_run to reclaim space."""
    scratch = os.path.join(RUNS, f"{name}-{time.strftime('%Y%m%d-%H%M%S')}-{os.getpid()}")
    os.makedirs(scratch)
    return scratch


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--unit-tests", action="store_true")
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()

    classes = build()
    if a.unit_tests or a.record:
        scratch = fresh_scratch("unit-tests" if a.unit_tests else "record")
        if a.unit_tests:
            main_class, args = "graft.perfbench.UnitTests", []
        else:
            main_class = "graft.perfbench.Main"
            args = ["--record", EXPECTED, "--data", DATA, "--scratch", scratch]
        code, lines = run_jvm(java_cmd(classes, scratch, main_class, args), scratch, 1800)
        if lines:
            print(lines[-1])
        sys.exit(code)

    if a.workload is None or a.seed is None or a.seconds is None:
        ap.error("--workload, --seed and --seconds are required")
    if not os.path.isdir(DATA) or not os.path.exists(EXPECTED):
        fail("benchmark inputs missing under perfbench/")
    scratch = fresh_scratch(f"{a.workload}-t{a.trace}")
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--data", DATA, "--scratch", scratch,
            "--expected", EXPECTED, "--launch-ms", str(int(time.time() * 1000))]
    print(f"[perfbench] scratch {os.path.relpath(scratch, ROOT)}")
    code, lines = run_jvm(java_cmd(classes, scratch, "graft.perfbench.Main", args),
                          scratch, RUN_TIMEOUT_S)
    try:
        result = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        result = None
    if code != 0 or not isinstance(result, dict) or "metrics" not in result:
        with open(os.path.join(scratch, "jvm.log")) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"run failed (exit {code}); log in {scratch}/jvm.log", 1)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
