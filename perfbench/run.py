#!/usr/bin/env python3
"""graft benchmark: build graft and the benchmark from source, run one workload.

    python3 perfbench/run.py --workload pipelines|board --seed N \
        --seconds S --trace 0|1

Run it from the root of a checkout. The program is compiled from
src/main/scala together with perfbench/src into .bench_build/ (skipped
when the sources are unchanged), then one JVM runs the workload. The
last line of standard output is the JSON result; the exit code is 0
only when every output check passed.
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
import threading

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("pipelines", "board")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 600
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    files = []
    for top in (PROGRAM_SRC, BENCH_SRC):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def spark_jars():
    """The Spark jars graft builds against: $SPARK_HOME/jars, else the
    `unmanagedBase` dir that graft's build.sbt names."""
    jars_dir = None
    if os.environ.get("SPARK_HOME"):
        jars_dir = os.path.join(os.environ["SPARK_HOME"], "jars")
    elif os.path.isfile(os.path.join(ROOT, "build.sbt")):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                      open(os.path.join(ROOT, "build.sbt")).read())
        jars_dir = m and m.group(1)
    if not jars_dir or not os.path.isdir(jars_dir):
        fail(f"no Spark jars found at {jars_dir} (set SPARK_HOME)")
    return sorted(os.path.join(jars_dir, j) for j in os.listdir(jars_dir) if j.endswith(".jar"))


def spawn(cmd, timeout, **kw):
    """Start cmd in its own process group, killed whole after `timeout` s."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    expired = threading.Event()

    def kill():
        expired.set()
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass

    timer = threading.Timer(timeout, kill)
    timer.daemon = True
    timer.start()
    return p, timer, expired


def finish(p, timer, expired, what, timeout):
    rc = p.wait()
    timer.cancel()
    if expired.is_set():
        fail(f"{what} timed out after {timeout} s")
    return rc


def build(files, jars):
    """Compile graft and the benchmark with scalac; reuse an up-to-date build."""
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.isfile(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    if len(compiler) != 3:
        fail("scala-compiler, scala-library and scala-reflect jars not found among the Spark jars")
    shutil.rmtree(BUILD, ignore_errors=True)
    tmp = os.path.join(BUILD, "classes.tmp")
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "scalac.args")
    with open(argfile, "w") as fh:
        fh.write("\n".join(["-nowarn", "-d", tmp, "-classpath", os.pathsep.join(jars)] + files))
    print(f"perfbench: compiling {len(files)} sources", file=sys.stderr)
    p = spawn(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx3g", "-cp", os.pathsep.join(compiler),
               "scala.tools.nsc.Main", "@" + argfile], BUILD_TIMEOUT_S)
    rc = finish(*p, "compilation", BUILD_TIMEOUT_S)
    if rc != 0:
        fail(f"compilation failed (exit {rc})")
    os.rename(tmp, classes)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classes


def run_workload(a, classes, jars):
    """Run one benchmark JVM; return its parsed result line and exit code."""
    work = os.path.join(ROOT, ".bench_build", "work", str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx3g", f"-Djava.io.tmpdir={work}/tmp"] + ADD_OPENS +
           ["-cp", os.pathsep.join([classes] + jars), "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--board", os.path.join(HERE, "board.txt")])
    result = None
    p, timer, expired = spawn(cmd, RUN_TIMEOUT_S, stdout=subprocess.PIPE, text=True, cwd=work)
    try:
        for line in p.stdout:
            line = line.rstrip("\n")
            if line.startswith("{"):
                result = line
            else:
                print(line, flush=True)
        rc = finish(p, timer, expired, "the workload", RUN_TIMEOUT_S)
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
        shutil.rmtree(work, ignore_errors=True)
    if result is None:
        fail(f"the benchmark JVM exited with {rc} and printed no result")
    return json.loads(result), rc


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # on SIGTERM, unwind so the JVM's process group is killed and its
    # scratch dir removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isdir(os.path.join(PROGRAM_SRC, "graft")):
        fail(f"graft sources not found under {PROGRAM_SRC}; run from a full checkout")
    if shutil.which("java") is None:
        fail("java not found on PATH")
    jars = spark_jars()
    classes = build(sources(), jars)

    result, rc = run_workload(a, classes, jars)
    out = {k: result[k] for k in ("correct", "attempted", "failed")}
    out["metrics"] = result["layers"] if a.trace else result["metrics"]
    out["correct"] = out["correct"] and rc == 0
    missing = [k for k, v in out["metrics"].items() if not isinstance(v["value"], (int, float))]
    if missing:
        out["correct"] = False
        print(f"perfbench: metrics without a value: {missing}", file=sys.stderr)
    print(json.dumps(out))
    sys.exit(0 if out["correct"] else 1)


if __name__ == "__main__":
    main()
