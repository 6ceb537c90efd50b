#!/usr/bin/env python3
"""Flow benchmark launcher.

    python3 flowbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the library and the benchmark
with sbt when their sources changed since the last build, then runs one
measurement in a fresh JVM and passes its output through; the last line
of standard output is the result JSON. Exits non-zero, printing no
result, when the library's sources are missing or the run fails.
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
CLASSPATH_FILE = os.path.join(TARGET, "flowbench-classpath.txt")
WORKLOADS = ("fraud_batch", "fraud_stream", "crawl_continual")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
ADD_OPENS_FILE = os.path.join(HERE, "add-opens.txt")


def fail(msg):
    print("flowbench: " + msg, file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every build input's path, size and modification time."""
    h = hashlib.sha256()
    inputs = [os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")]
    for top in (LIB_SRC, os.path.join(HERE, "src", "main")):
        for d, _, files in sorted(os.walk(top)):
            inputs += [os.path.join(d, f) for f in sorted(files)]
    for p in inputs:
        st = os.stat(p)
        h.update(f"{p}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark install found: set SPARK_HOME")
    return home


def build(env):
    """Compile with sbt; return the source stamp and runtime classpath."""
    stamp = source_stamp()
    if os.path.exists(CLASSPATH_FILE):
        with open(CLASSPATH_FILE) as f:
            old_stamp, cp = f.read().split("\n", 1)
        if old_stamp == stamp:
            return stamp, cp.strip()
    sbt = shutil.which("sbt") or fail("sbt not found on PATH")
    proc = subprocess.run(
        [sbt, "-batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=BUILD_TIMEOUT_S)
    lines = proc.stdout.splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    if os.pathsep not in cp and not cp.endswith(".jar"):
        sys.stderr.write(proc.stdout[-4000:])
        fail("build printed no classpath")
    os.makedirs(TARGET, exist_ok=True)
    with open(CLASSPATH_FILE, "w") as f:
        f.write(stamp + "\n" + cp + "\n")
    return stamp, cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(LIB_SRC, "graft")):
        fail("library sources not found under " + LIB_SRC)
    env = dict(os.environ, SPARK_HOME=spark_home())
    work = os.path.join(TARGET, "work")
    tmp = os.path.join(TARGET, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # keep Spark's shuffle and block files inside the checkout
    env["SPARK_LOCAL_DIRS"] = tmp
    stamp, cp = build(env)
    # outputs that must repeat for a seed are kept per build, so a run
    # can compare its outputs with an earlier run's of the same code
    digests = os.path.join(TARGET, "digests", stamp[:16])

    java = os.path.join(env["JAVA_HOME"], "bin", "java") \
        if env.get("JAVA_HOME") else (shutil.which("java") or fail("no java"))
    # a fixed-size heap: heap resizing added to run-to-run swings
    cmd = [java, "-Xms3g", "-Xmx3g",
           "-Djava.io.tmpdir=" + tmp,
           "-Dspark.local.dir=" + tmp,
           "-Dspark.sql.warehouse.dir=" + os.path.join(tmp, "warehouse"),
           "-Dspark.ui.enabled=false",
           "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")]
    with open(ADD_OPENS_FILE) as f:
        for p in f.read().split():
            cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", cp, "flowbench.Main", "--workload", a.workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--work", work, "--digests", digests]
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                            text=True, start_new_session=True)
    last = None
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    lines = [ln for ln in out.splitlines() if ln.strip()]
    if lines:
        last = lines[-1]
    if proc.returncode != 0 or not last or not last.startswith("{"):
        sys.stdout.write("\n".join(lines[:-1] if lines else []) + "\n")
        fail(f"run failed with exit code {proc.returncode}")
    print("\n".join(lines), flush=True)


if __name__ == "__main__":
    main()
