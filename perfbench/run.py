#!/usr/bin/env python3
"""Build graft from source and run one benchmark workload.

Usage (from the repository root):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: search_warm, ann_ingest, curate_batch. The
program and the benchmark's Scala sources are compiled with the Scala
compiler that ships with Spark into `.bench_build` (or
$CARGO_TARGET_DIR); a build is reused while the sources are unchanged.
Each run starts a fresh JVM. The last line of stdout is one JSON object
with the keys correct, attempted, failed and metrics. The exit code is
non-zero, and no JSON line is printed, when the build or the run fails.
"""

import argparse
import fcntl
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("search_warm", "ann_ingest", "curate_batch")
RUN_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    homes = [os.environ.get("SPARK_HOME")]
    submit = shutil.which("spark-submit")
    if submit:
        homes.append(os.path.dirname(os.path.dirname(os.path.realpath(submit))))
    for home in homes:
        if home and glob.glob(os.path.join(home, "jars", "spark-core_*.jar")):
            return os.path.join(home, "jars")
    fail("no Spark distribution found (set SPARK_HOME)")


def java_bin():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        fail("no java executable found (set JAVA_HOME)")
    return exe


def sources(root):
    main = os.path.join(root, "src", "main", "scala")
    bench = os.path.join(HERE, "src")
    if not os.path.isdir(main) or not os.path.isdir(bench):
        fail(f"program sources not found under {main}; run from the repository root")
    files = []
    for top in (main, bench):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    if not files:
        fail("no Scala sources found")
    return sorted(files)


def build(root, work, jars):
    """Compiles the program and the benchmark once per source digest."""
    files = sources(root)
    digest = hashlib.sha256()
    for f in files:
        digest.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    classes = os.path.join(work, "classes-" + digest.hexdigest()[:16])
    if os.path.isdir(classes):
        return classes
    os.makedirs(work, exist_ok=True)
    with open(os.path.join(work, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.isdir(classes):
            return classes
        for old in glob.glob(os.path.join(work, "classes-*")):
            shutil.rmtree(old, ignore_errors=True)
        tmp = classes + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        argfile = os.path.join(work, "sources.txt")
        with open(argfile, "w") as fh:
            fh.write("\n".join(files) + "\n")
        cp = os.path.join(jars, "*")
        t0 = time.time()
        cmd = [java_bin(), "-XX:-UsePerfData", "-Xmx3g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
               "-nowarn", "-d", tmp, "-classpath", cp, "@" + argfile]
        res = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
        if res.returncode != 0:
            shutil.rmtree(tmp, ignore_errors=True)
            fail("compilation failed", 1)
        os.rename(tmp, classes)
        print(f"perfbench: built {len(files)} sources in {time.time() - t0:.1f} s",
              file=sys.stderr)
    return classes


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "smoke"), default="full",
                    help="smoke: tiny corpora, for the benchmark's own tests")
    ap.add_argument("--fault", choices=("swap", "drop-append", "drop-cluster"), help=argparse.SUPPRESS)
    ap.add_argument("--corpus", help="a reference corpus directory (documents.parquet, "
                    "embeddings.parquet) used instead of the generated one, to compare the two")
    args = ap.parse_args()

    root = os.getcwd()
    work = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    jars = spark_jars()
    classes = build(root, work, jars)

    tmp = os.path.join(work, "tmp", str(os.getpid()))
    os.makedirs(tmp, exist_ok=True)
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = [java_bin(), "-XX:-UsePerfData", "-Xmx3g", "-Xss8m"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-cp", classes + os.pathsep + os.path.join(jars, "*"),
            "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--scale", args.scale, "--work", work]
    if args.corpus:
        cmd += ["--corpus", os.path.abspath(args.corpus)]
    t0 = time.time()
    run_cmd = cmd + (["--fault", args.fault] if args.fault else [])

    # inputs are generated (once per checkout) in a JVM of their own, so
    # the measured JVM always starts cold
    gen = subprocess.run(cmd + ["--generate", "1"], stdout=sys.stderr, timeout=RUN_TIMEOUT_S)
    if gen.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        fail("input generation failed", 1)

    proc = subprocess.Popen(run_cmd, stdout=subprocess.PIPE, text=True, start_new_session=True)

    def stop(*_):
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            # a killed JVM cannot delete its run directory itself
            shutil.rmtree(os.path.join(work, "runs", f"{args.workload}-{args.seed}-{proc.pid}"),
                          ignore_errors=True)
        shutil.rmtree(tmp, ignore_errors=True)

    signal.signal(signal.SIGTERM, lambda *a: (stop(), sys.exit(143)))
    lines = []

    def relay():
        # hold back one line: the result line is printed only once the
        # run is known to have succeeded
        for line in proc.stdout:
            if lines:
                print(lines[-1], flush=True)
            lines.append(line.rstrip("\n"))

    reader = threading.Thread(target=relay, daemon=True)
    reader.start()
    try:
        proc.wait(timeout=max(1.0, RUN_TIMEOUT_S - (time.time() - t0)))
        reader.join(timeout=10)
    except subprocess.TimeoutExpired:
        stop()
        fail(f"run exceeded {RUN_TIMEOUT_S} s", 3)
    finally:
        stop()
    last = lines[-1] if lines else None
    if proc.returncode != 0:
        if last is not None:
            print(last)
        fail(f"run failed with exit code {proc.returncode}", 1)
    try:
        result = json.loads(last or "")
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (ValueError, AssertionError):
        fail("the run printed no result line", 1)
    print(last, flush=True)


if __name__ == "__main__":
    main()
