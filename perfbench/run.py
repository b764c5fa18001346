#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one result line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a graft checkout. The first run compiles the
engine (src/main/scala) together with the benchmark harness
(perfbench/scala) into $CARGO_TARGET_DIR (default .bench_build) with the
Scala compiler that ships among the Spark jars; later runs reuse the
classes while the sources are unchanged. The harness then runs in one
JVM on local[nproc] as a closed loop with one client.

The last stdout line is one JSON object: correct, attempted, failed and
metrics -- every end_to_end metric of BENCHMARK.json with --trace 0,
every per_layer metric with --trace 1. The traced run also leaves its
spans in .bench_work/<workload>/run/trace.json.
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

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_SRC = os.path.join(HERE, "scala")
DATA = os.path.join(HERE, "data")
# The whole run, build excluded, must end well inside three minutes.
RUN_TIMEOUT_S = 170
HEAP = "3g"
JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


class BenchError(Exception):
    pass


def spark_jars(root):
    """The Spark jar directory: $SPARK_HOME/jars, else the repo build's
    unmanagedBase, else next to spark-submit on the PATH."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    build_sbt = os.path.join(root, "build.sbt")
    if os.path.exists(build_sbt):
        with open(build_sbt) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m:
            candidates.append(m.group(1))
    submit = shutil.which("spark-submit")
    if submit:
        candidates.append(os.path.join(os.path.dirname(os.path.dirname(os.path.realpath(submit))), "jars"))
    for c in candidates:
        if glob.glob(os.path.join(c, "scala-compiler-*.jar")) and glob.glob(os.path.join(c, "spark-sql_*.jar")):
            return c
    raise BenchError("no Spark jar directory with a Scala compiler found (set SPARK_HOME)")


def sources(root):
    src = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(src):
        raise BenchError("no engine sources at src/main/scala: run from the root of a graft checkout")
    files = []
    for base in (src, BENCH_SRC):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def build(root):
    """Compile engine + harness once per source state; returns the class dir."""
    jars = spark_jars(root)
    files = sources(root)
    h = hashlib.sha256(jars.encode())
    for p in files:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    out = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "classes.sha256")
    if os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return classes, jars
    staging = classes + ".tmp"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    argfile = os.path.join(out, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(files) + "\n")
    cp = os.path.join(jars, "*")
    t0 = time.time()
    r = subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xmx3g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
         "-nowarn", "-d", staging, "-cp", cp, "@" + argfile],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise BenchError("compilation failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(staging, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    sys.stderr.write("[perfbench] built %d sources in %.0f s\n" % (len(files), time.time() - t0))
    return classes, jars


def java_cmd(root, classes, jars, main, args, work):
    opens = []
    for p in JDK_OPENS:
        opens += ["--add-opens", "java.base/%s=ALL-UNNAMED" % p]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return ["java"] + opens + [
        # a fixed, pre-touched heap keeps peak RSS steady run to run: it
        # is the heap plus what the JVM and Spark hold outside it. No
        # perf-data file in the system temp directory.
        "-Xms" + HEAP, "-Xmx" + HEAP, "-XX:+AlwaysPreTouch", "-XX:ReservedCodeCacheSize=512m",
        "-XX:-UsePerfData",
        "-Djava.io.tmpdir=" + tmp,
        "-Dspark.local.dir=" + os.path.join(work, "spark-local"),
        "-Dspark.sql.warehouse.dir=" + os.path.join(work, "warehouse"),
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-cp", classes + os.pathsep + os.path.join(jars, "*"),
        main,
    ] + args


def run_jvm(cmd, log_path, timeout):
    """Run the benchmark JVM; stderr goes to a log file. Returns stdout."""
    with open(log_path, "w") as log:
        try:
            r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=log, text=True, timeout=timeout)
        except subprocess.TimeoutExpired:
            raise BenchError("benchmark JVM exceeded %d s (log: %s)" % (timeout, log_path))
    if r.returncode != 0:
        with open(log_path) as f:
            tail = f.read()[-4000:]
        sys.stderr.write(tail)
        raise BenchError("benchmark JVM exited with %d (log: %s)" % (r.returncode, log_path))
    return r.stdout


def metric_spec(root):
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return json.load(f)


def result_line(spec, raw, trace):
    """The contract's result object from the JVM's raw line."""
    metrics = {}
    for m in spec["per_layer" if trace else "end_to_end"]:
        v = raw["values"].get(m["name"])
        if not isinstance(v, (int, float)):
            raise BenchError("metric %s missing or not a number: %r" % (m["name"], v))
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    attempted, failed = int(raw["attempted"]), int(raw["failed"])
    return {"correct": attempted >= 1 and failed == 0, "attempted": attempted,
            "failed": failed, "metrics": metrics}


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    root = os.getcwd()
    try:
        spec = metric_spec(root)
        if a.workload not in [w["name"] for w in spec["workloads"]]:
            raise BenchError("unknown workload %s" % a.workload)
        classes, jars = build(root)
        work = os.path.join(root, ".bench_work", a.workload)
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--work", os.path.join(work, "run"), "--data", DATA]
        out = run_jvm(java_cmd(root, classes, jars, "graft.perfbench.Main", args, work),
                      os.path.join(work, "jvm.log"), RUN_TIMEOUT_S)
        lines = [l for l in out.splitlines() if l.startswith("{")]
        if not lines:
            raise BenchError("benchmark JVM printed no result")
        print(json.dumps(result_line(spec, json.loads(lines[-1]), a.trace == 1)))
    except BenchError as e:
        sys.stderr.write("perfbench: %s\n" % e)
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
