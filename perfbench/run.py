#!/usr/bin/env python3
"""Build the engine and the benchmark from source, run one workload, and
print the benchmark's JSON result as the last line of stdout.

    python3 perfbench/run.py --workload store_resume --seed 1 --seconds 10 --trace 0

Run it from the repository root. The engine (src/main/scala) and the
benchmark (perfbench/src) are compiled with the Scala compiler that ships
in Spark's jars directory ($SPARK_HOME/jars, else build.sbt's unmanagedBase) into
$CARGO_TARGET_DIR/perfbench (default .bench_build/perfbench); the build is
reused while the sources are unchanged. --scale multiplies the input size
(perfbench/validate.py uses it for the doubling check).
"""

import argparse
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

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HERE = os.path.join(ROOT, "perfbench")


def spark_jars():
    """The jar set the engine builds against: $SPARK_HOME/jars, else the
    directory build.sbt names as its unmanagedBase."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    except OSError:
        m = None
    if not m:
        raise SystemExit("perfbench: Spark jars not found; set SPARK_HOME")
    return m.group(1)


JARS = spark_jars()
BUILD = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build", "perfbench")

# One fixed heap (-Xms = -Xmx) so GC behaviour does not depend on growth.
JVM_FLAGS = ["-Xms3g", "-Xmx3g", "-XX:+UseG1GC", "-Xss4m"]
ADD_OPENS = ["java.base/" + p + "=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
RUN_TIMEOUT_S = 170
KEYS = {"correct", "attempted", "failed", "metrics"}


def log(msg):
    print("perfbench: " + msg, file=sys.stderr, flush=True)


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                              recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    if not engine:
        raise SystemExit("perfbench: no engine sources under src/main/scala")
    if not bench:
        raise SystemExit("perfbench: no benchmark sources under perfbench/src")
    return engine, bench


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    h.update(" ".join(sorted(os.listdir(JARS))).encode())
    return h.hexdigest()


def scalac(out, classpath, files):
    os.makedirs(out, exist_ok=True)
    argfile = out + ".args"
    with open(argfile, "w") as fh:
        fh.write("\n".join('"%s"' % f for f in files))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(JARS, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", classpath, "-d", out,
           "@" + argfile]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit("perfbench: compilation failed")


def build():
    engine, bench = sources()
    want = stamp(engine + bench)
    stamp_file = os.path.join(BUILD, "stamp")
    engine_out = os.path.join(BUILD, "engine")
    bench_out = os.path.join(BUILD, "bench")
    if os.path.exists(stamp_file) and open(stamp_file).read() == want:
        return engine_out, bench_out
    log("building engine and benchmark")
    t0 = time.time()
    for d in (engine_out, bench_out):
        shutil.rmtree(d, ignore_errors=True)
    jars = os.path.join(JARS, "*")
    scalac(engine_out, jars, engine)
    scalac(bench_out, engine_out + os.pathsep + jars, bench)
    with open(stamp_file, "w") as fh:
        fh.write(want)
    log("built in %.1f s" % (time.time() - t0))
    return engine_out, bench_out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["store_resume", "canon_sameas"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", type=float, default=1.0)
    a = ap.parse_args()

    engine_out, bench_out = build()
    work = os.path.join(BUILD, "work", "%d" % os.getpid())
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = (["java"] + JVM_FLAGS + [x for p in ADD_OPENS for x in ("--add-opens", p)] +
           ["-Djava.io.tmpdir=" + tmp,
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
            "-cp", os.pathsep.join([bench_out, engine_out, os.path.join(JARS, "*")]),
            "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--scale", str(a.scale), "--work", work])
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
                         cwd=work, start_new_session=True)
    try:
        out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        shutil.rmtree(work, ignore_errors=True)
        raise SystemExit("perfbench: run exceeded %d s" % RUN_TIMEOUT_S)
    shutil.rmtree(work, ignore_errors=True)
    lines = out.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise SystemExit("perfbench: benchmark JVM exited with code %d" % p.returncode)
    result = json.loads(lines[-1])
    if set(result) != KEYS:
        raise SystemExit("perfbench: malformed result line")
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
