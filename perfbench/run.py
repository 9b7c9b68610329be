#!/usr/bin/env python3
"""graft benchmark entry point.

    python3 perfbench/run.py --workload <lookup|ingest|curate> \
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the library sources of that
checkout together with the benchmark program (sbt, offline) when they
changed since the last build, then runs one workload in a fresh JVM and
relays its output; the last stdout line is the JSON result. Spans and the
per-layer summary of a traced run land in perfbench/out/.
"""
import argparse
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
TARGET = os.path.join(BENCH, "target")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
STAMP = os.path.join(TARGET, "perfbench.stamp")
TIMEOUT_S = 170
HEAP = "3g"
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
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    """every file the build compiles, plus the build definition"""
    out = [os.path.join(BENCH, "build.sbt"),
           os.path.join(BENCH, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main")):
        for d, _, files in os.walk(base):
            out.extend(os.path.join(d, f) for f in files)
    return sorted(out)


def fingerprint():
    h = hashlib.sha256()
    for p in sources():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def spark_home():
    """$SPARK_HOME, else the installation whose bin/ on PATH holds spark-submit
    next to a jars/ directory (a pip pyspark's spark-submit has none)"""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        home = os.path.dirname(os.path.abspath(d))
        if os.path.exists(os.path.join(d, "spark-submit")) and \
                glob.glob(os.path.join(home, "jars", "spark-sql_*.jar")):
            return home
    fail("set SPARK_HOME to a Spark installation")


def build():
    fp = fingerprint()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == fp:
                return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env["SPARK_HOME"] = spark_home()
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    # keep sbt's scratch files inside the checkout too
    os.makedirs(os.path.join(TARGET, "tmp"), exist_ok=True)
    env["SBT_OPTS"] += f" -Djava.io.tmpdir={os.path.join(TARGET, 'tmp')}"
    sbt = shutil.which("sbt") or fail("sbt not found on PATH")
    print("[perfbench] building (sbt writeClasspath)", file=sys.stderr)
    r = subprocess.run([sbt, "--batch", "-Dsbt.server.autostart=false", "writeClasspath"],
                       cwd=BENCH, env=env, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0 or not os.path.exists(CLASSPATH):
        fail(f"build failed (sbt exit {r.returncode})")
    with open(STAMP, "w") as f:
        f.write(fp)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no graft library sources under {ROOT}/src/main/scala; "
             "run from the root of a graft checkout")
    build()
    t0_ms = int(time.time() * 1000)
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    work = os.path.join(BENCH, "work", f"{a.workload}-{os.getpid()}")
    out = os.path.join(BENCH, "out")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(out, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", f"-Dperfbench.home={BENCH}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work, "--out", out, "--t0-ms", str(t0_ms)]
    log_path = os.path.join(out, f"{a.workload}.stderr.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=log, text=True)
        try:
            stdout, _ = p.communicate(timeout=TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            shutil.rmtree(work, ignore_errors=True)
            fail(f"workload exceeded {TIMEOUT_S} s; stderr in {log_path}")
    shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in stdout.splitlines() if l.strip()]
    for l in lines[:-1]:
        print(l)
    if p.returncode != 0 or not lines or not lines[-1].startswith("{"):
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"workload {a.workload} failed (exit {p.returncode})")
    print(lines[-1])


if __name__ == "__main__":
    main()
