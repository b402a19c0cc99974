#!/usr/bin/env python3
"""Benchmark entry point for the WMS pipeline and its hot-query catalogue.

    python3 perfbench/run.py --workload wms_trickle --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the program's main
sources and the harness (perfbench/build.sh) into .bench_build/classes and
rebuilds whenever a source changes. Every run gets its own scratch
directory under .bench_build/runs (pipeline roots, java.io.tmpdir, Spark
local and warehouse dirs) and removes it at exit. The last line of standard
output is the result JSON: correct, attempted, failed and metrics, the
end-to-end metrics with --trace 0 and the per-layer record with --trace 1.
Traced runs also keep their record under .bench_build/traces.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
STAMP = os.path.join(BUILD, "classes.stamp")
WORKLOADS = ("wms_trickle", "catalog_hot")
HEAP = "2g"
RUN_TIMEOUT_S = 170
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    """Every file the build reads, in a stable order."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sh")]
    out = []
    for r in roots:
        if os.path.isfile(r):
            out.append(r)
        for d, dirs, files in os.walk(r):
            dirs.sort()
            out += [os.path.join(d, f) for f in sorted(files)]
    return out


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            fail("SPARK_HOME is not set and spark-submit is not on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars")
    if not os.path.isdir(jars):
        fail(f"no Spark jars under {jars}")
    return sorted(os.path.join(jars, j) for j in os.listdir(jars) if j.endswith(".jar"))


def run_group(cmd, timeout, **kw):
    """Runs cmd in its own process group and returns its exit code, or None
    on timeout. The whole group is killed if it outlives the call, also when
    this script is terminated meanwhile."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        return None
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def build():
    digest = hashlib.sha256()
    for path in sources():
        digest.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            digest.update(f.read())
    stamp = digest.hexdigest()
    if os.path.isfile(STAMP) and open(STAMP).read() == stamp:
        return
    os.makedirs(BUILD, exist_ok=True)
    if run_group(["bash", os.path.join(HERE, "build.sh"), CLASSES], 800, stdout=sys.stderr) != 0:
        fail("build failed")
    with open(STAMP, "w") as f:
        f.write(stamp)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-fingerprints", action="store_true",
                    help="catalog_hot only: rewrite catalog_fingerprints.tsv from this tree")
    args = ap.parse_args()
    # a terminated benchmark still stops its JVM and removes its scratch dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"the program's sources (src/main/scala/graft) are not under {ROOT}")
    jars = spark_jars()
    build()

    cpus = len(os.sched_getaffinity(0))
    run_dir = os.path.join(BUILD, "runs", f"{os.getpid()}-{int(time.time() * 1000)}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    out = os.path.join(run_dir, "result.json")
    log = os.path.join(run_dir, "jvm.log")
    cmd = (["java", "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
            f"-Djava.io.tmpdir={tmp}", "-Duser.timezone=UTC",
            "-Dspark.sql.session.timeZone=UTC", "-Dspark.ui.enabled=false",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
           + [a for p in JDK_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", ":".join([CLASSES] + jars), "wmsbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--cpus", str(cpus), "--scratch", run_dir,
              "--data", os.path.join(HERE, "data"), "--out", out,
              "--fingerprints", os.path.join(HERE, "catalog_fingerprints.tsv"),
              "--record", "1" if args.record_fingerprints else "0"])
    try:
        with open(log, "w") as lf:
            code = run_group(cmd, RUN_TIMEOUT_S, stdout=lf, stderr=subprocess.STDOUT)
        if code != 0 or not os.path.isfile(out):
            with open(log) as lf:
                sys.stderr.write("".join(lf.readlines()[-60:]))
            fail(f"{args.workload} run ended with code {code}")
        with open(out) as f:
            result = json.load(f)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    for p in result.pop("problems", []):
        print(f"perfbench: check failed: {p}", file=sys.stderr)
    if args.trace:
        traces = os.path.join(BUILD, "traces")
        os.makedirs(traces, exist_ok=True)
        with open(os.path.join(traces, f"{args.workload}-seed{args.seed}.json"), "w") as f:
            json.dump(result, f, indent=1)
    result.pop("trace", None)
    print(json.dumps({k: result[k] for k in ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
