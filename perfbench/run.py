#!/usr/bin/env python3
"""Build the library and the benchmark harness from source, then run one workload.

Run from the repository root:

    python3 perfbench/run.py --workload readout|fit --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --selftest

The library (src/main/scala) and the harness (perfbench/src) are compiled
together with the Scala compiler that ships with Spark; the classes are kept
under .bench_build/ keyed by a hash of the sources, so only the first run of
a checkout compiles. Spark's jars come from $SPARK_HOME/jars, or else from
the `unmanagedBase` that build.sbt names. Every run is one JVM; its scratch
data lives under .bench_build/ and is removed when the run ends. The last
line of stdout is the JSON result.
"""
import argparse
import glob
import hashlib
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
BUILD = ".bench_build"
RUN_TIMEOUT_S = 170
HEAP = "2g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


CHILD = None  # the process group of the compiler or JVM running now


def stop_child(*_):
    """Kill the running child's process group and wait for it to end."""
    if CHILD is not None and CHILD.poll() is None:
        os.killpg(CHILD.pid, signal.SIGKILL)
        CHILD.wait()


def spawn(cmd, **kw):
    global CHILD
    CHILD = subprocess.Popen(cmd, start_new_session=True, **kw)
    return CHILD


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def scala_sources(*roots):
    out = []
    for root in roots:
        for d, _, files in os.walk(root):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    with open("build.sbt") as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if m and os.path.isdir(m.group(1)):
        return m.group(1)
    fail("no Spark jars: set SPARK_HOME or name them in build.sbt's unmanagedBase")


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        fail("no java on PATH or under JAVA_HOME")
    return exe


def compile_classes(jars, with_tests):
    """Compile library + harness (+ self-tests) once per source hash."""
    roots = ["src/main/scala", os.path.join(HERE, "src")]
    if with_tests:
        roots.append(os.path.join(HERE, "test"))
    sources = scala_sources(*roots)
    h = hashlib.sha256()
    for p in sources:
        h.update(os.path.relpath(p).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.isdir(out):
        return out
    scala = [j for pat in ("scala-compiler-*.jar", "scala-library-*.jar", "scala-reflect-*.jar")
             for j in glob.glob(os.path.join(jars, pat))]
    if len(scala) != 3:
        fail(f"no Scala compiler among the jars in {jars}")
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(sources))
    print(f"perfbench: compiling {len(sources)} sources", file=sys.stderr)
    t = time.time()
    r = spawn([java(), "-Xmx2g", "-Xss8m", "-cp", ":".join(scala),
               "scala.tools.nsc.Main", "-nowarn", "-classpath", os.path.join(jars, "*"),
               "-d", tmp, "@" + argfile], stdout=sys.stderr)
    if r.wait() != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        fail("compilation failed")
    os.rename(tmp, out)
    print(f"perfbench: compiled in {time.time() - t:.0f} s", file=sys.stderr)
    return out


def run_jvm(classes, jars, main, args, tmp, timeout):
    """Run one JVM, relay its stdout, stop it at the deadline; returns its exit code.

    The heap is fixed and pre-touched: a heap that grows from the JVM's
    default size made op latencies depend on when the collector chose to
    grow it. The resident set then reads the fixed heap plus the memory
    outside it (metaspace, code cache, thread stacks, direct buffers)."""
    os.makedirs(tmp, exist_ok=True)
    cmd = [java(), f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-Xss4m",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}:{os.path.join(jars, '*')}", main] + args
    proc = spawn(cmd, stdout=subprocess.PIPE, text=True)
    signal.signal(signal.SIGALRM, stop_child)
    signal.alarm(timeout)
    try:
        for line in proc.stdout:
            print(line, end="", flush=True)
        proc.wait()
    finally:
        signal.alarm(0)
        stop_child()
    return proc.returncode


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=["readout", "fit"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: (stop_child(), sys.exit(1)))
    if not (os.path.isdir("src/main/scala") and os.path.isfile("build.sbt")):
        fail("run from the repository root: src/main/scala and build.sbt are missing")
    if not a.selftest and not a.workload:
        fail("--workload is required")
    os.makedirs(BUILD, exist_ok=True)
    jars = spark_jars()
    classes = compile_classes(jars, a.selftest)
    if a.selftest:
        tmp = os.path.abspath(os.path.join(BUILD, "selftest-tmp"))
        try:
            sys.exit(run_jvm(classes, jars, "perfbench.SelfTest", [], tmp, RUN_TIMEOUT_S))
        finally:
            shutil.rmtree(tmp, ignore_errors=True)

    run_dir = os.path.abspath(os.path.join(BUILD, f"run-{a.workload}-{a.seed}-{os.getpid()}"))
    os.makedirs(run_dir)
    try:
        code = run_jvm(classes, jars, "perfbench.Main",
                       ["--workload", a.workload, "--seed", str(a.seed),
                        "--seconds", str(a.seconds), "--trace", str(a.trace), "--dir", run_dir],
                       os.path.join(run_dir, "tmp"), RUN_TIMEOUT_S)
        spans = os.path.join(run_dir, "spans.jsonl")
        if os.path.exists(spans):
            shutil.move(spans, os.path.join(BUILD, f"spans-{a.workload}-seed{a.seed}.jsonl"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
