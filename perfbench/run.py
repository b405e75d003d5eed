#!/usr/bin/env python3
"""Run one benchmark measurement of the graft library.

Run from the root of a checkout:

    python3 perfbench/run.py --workload groupsort-stream --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --selftest

It compiles the library (src/main/scala) and the harness (perfbench/src)
with the Scala compiler that ships in Spark's jars, caches the classes under
.bench_build/, runs the workload in a fresh JVM and prints the result object
as the last line of standard output. The full artifact (passes, per-op times,
spans, host contention) is written to .bench_build/perfbench/artifacts/.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("groupsort-stream", "pipeline")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700
JVM_HEAP = "3g"
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        try:
            with open(os.path.join(ROOT, "build.sbt")) as f:
                m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        except OSError:
            m = None
        jars = m.group(1) if m else ""
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        fail(f"no Spark jars under '{jars}'; set SPARK_HOME")
    return jars


def sources():
    lib = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True))
    if not lib:
        fail("library sources src/main/scala not found; run from the repository root")
    harness = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return lib + harness


def build(jars):
    """Compile library + harness once per source tree; return the class dir."""
    srcs = sources()
    digest = hashlib.sha256()
    for path in srcs:
        digest.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            digest.update(f.read())
    classes = os.path.join(BUILD, "classes-" + digest.hexdigest()[:16])
    if os.path.isdir(classes):
        return classes
    os.makedirs(BUILD, exist_ok=True)
    for old in glob.glob(os.path.join(BUILD, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    compiler = os.pathsep.join(
        glob.glob(os.path.join(jars, f"scala-{name}-2.13*.jar"))[0]
        for name in ("compiler", "library", "reflect"))
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", compiler, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-cp", os.path.join(jars, "*"), "@" + argfile]
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        code = subprocess.run(cmd, stdout=out, stderr=subprocess.STDOUT,
                              timeout=BUILD_TIMEOUT_S).returncode
    if code != 0:
        fail(f"compilation failed (exit {code}); see {log}")
    os.rename(tmp, classes)
    return classes


def run_jvm(jars, classes, main, args, work, log):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = ["java", "-XX:-UsePerfData", f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.sql.session.timeZone=UTC", "-Dspark.ui.enabled=false"]
    for pkg in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{pkg}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join([os.path.join(jars, "*"), classes]), main] + args
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, cwd=ROOT)
        try:
            code = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"{main} did not finish within {RUN_TIMEOUT_S} s; see {log}")
    if code != 0:
        fail(f"{main} exited with {code}; see {log}")


def main():
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=15)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--selftest", action="store_true", help="run the benchmark's own tests")
    p.add_argument("--record-pins", action="store_true",
                   help="pipeline only: record the output fingerprints in perfbench/pinned/")
    a = p.parse_args()
    if not a.selftest and not a.workload:
        p.error("--workload is required")

    jars = spark_jars()
    classes = build(jars)
    stamp = time.strftime("%Y%m%dT%H%M%S") + f"-{os.getpid()}"
    work = os.path.join(BUILD, "work", stamp)
    artifacts = os.path.join(BUILD, "artifacts")
    os.makedirs(artifacts, exist_ok=True)
    common = ["--work", work, "--data", os.path.join(HERE, "data", "sf0.001"),
              "--pins", os.path.join(HERE, "pinned", "pipeline.txt")]
    try:
        if a.selftest:
            run_jvm(jars, classes, "perfbench.SelfTest",
                    common + ["--benchmark", os.path.join(ROOT, "BENCHMARK.json")],
                    work, os.path.join(artifacts, f"selftest-{stamp}.log"))
            print("perfbench selftest: ok")
            return
        name = f"{a.workload}-seed{a.seed}-trace{a.trace}-{stamp}"
        result = os.path.join(work, "result.json")
        args = common + ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                         "--trace", str(a.trace), "--result", result,
                         "--artifact", os.path.join(artifacts, name + ".json")]
        if a.record_pins:
            args.append("--record-pins")
        run_jvm(jars, classes, "perfbench.Main", args, work, os.path.join(artifacts, name + ".log"))
        with open(result) as f:
            print(json.dumps(json.load(f)))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
