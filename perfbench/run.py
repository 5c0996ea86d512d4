#!/usr/bin/env python3
"""Runs one benchmark workload and prints its result as the last line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: registry_serve, taxi_pipeline (see perfbench/NOTES.md).

The first run in a checkout compiles the engine's sources together with
the harness (sbt, build file in this directory) into .bench_build/;
later runs reuse that build while no source file changes. Each run
works in its own directory under .bench_out/ and removes it at exit;
traced runs keep their spans and counters in .bench_out/traces/.

Extra options, for maintaining the benchmark rather than measuring:
  --plant 1          self-test: every output check sees one row dropped
                     from its output and must fail
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = os.path.join(ROOT, "src", "main", "scala")
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "perfbench", "scala-2.13", "classes")
STAMP = os.path.join(BUILD, "perfbench.stamp")
OUT = os.path.join(ROOT, ".bench_out")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] error: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_digest():
    h = hashlib.sha256()
    roots = [ENGINE, os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names if n.endswith((".scala", ".java"))]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run_child(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the group on timeout and
    waits for it, so nothing it started outlives this script."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"{os.path.basename(cmd[0])} exceeded {timeout} s")
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def build(spark_home):
    digest = sources_digest()
    if os.path.isdir(CLASSES) and os.path.exists(STAMP) and open(STAMP).read() == digest:
        return
    sbt = shutil.which("sbt") or fail("sbt not found on PATH")
    t0 = time.time()
    # build.sbt compiles against the jars of the same Spark the run uses;
    # sbt's own output would land before the result line, so it goes to stderr
    env = dict(os.environ, SPARK_HOME=spark_home)
    rc = run_child([sbt, "-batch", "compile"], BUILD_TIMEOUT_S, cwd=HERE, env=env,
                   stdout=sys.stderr)
    if rc != 0:
        fail(f"build failed (sbt exit {rc})")
    with open(STAMP, "w") as fh:
        fh.write(digest)
    print(f"[perfbench] built in {time.time() - t0:.1f} s", file=sys.stderr)


def spark_home():
    """The Spark distribution both the build and the run use: SPARK_HOME,
    else the one spark-submit on PATH belongs to."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark distribution found (set SPARK_HOME)")
    return os.path.abspath(home)


def main():
    # a terminated run still stops and waits for its JVM (see run_child)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["registry_serve", "taxi_pipeline"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--plant", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ENGINE, "graft")):
        fail(f"engine sources not found at {os.path.relpath(ENGINE, os.getcwd())}; "
             "run from a checkout of the repository")
    home = spark_home()
    build(home)
    jars = os.path.join(home, "jars")

    run_dir = os.path.join(OUT, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    result = os.path.join(run_dir, "result.json")
    trace_file = os.path.join(OUT, "traces", f"{a.workload}-seed{a.seed}.json")
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [
        "-Xmx3g",
        f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        "-cp", f"{CLASSES}{os.pathsep}{os.path.join(jars, '*')}",
        "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--home", HERE, "--run-dir", run_dir,
        "--result", result, "--trace-file", trace_file, "--plant", str(a.plant),
    ]
    try:
        rc = run_child(cmd, JVM_TIMEOUT_S, cwd=run_dir)
        if rc != 0 or not os.path.exists(result):
            fail(f"workload {a.workload} exited {rc} without a result")
        with open(result) as fh:
            line = fh.read().strip()
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    sys.stdout.flush()
    print(line)


if __name__ == "__main__":
    main()
