#!/usr/bin/env python3
"""Benchmark entry point: builds the engine and the benchmark from source,
runs one workload in a fresh JVM, checks its outputs and prints the run.

    python3 perfbench/run.py --workload registry --seed 1 --seconds 20 --trace 0

Run it from the repository root. The second-to-last stdout line is the
full run record (environment, workload figures, sample counts); the last
line is the result: {"correct", "attempted", "failed", "metrics"}, with the
end-to-end metrics when --trace 0 and the per-layer metrics when --trace 1.
Exits non-zero, printing no result, when the build or the run fails.

`--record-expected` (maintenance only) prints the registry digests of the
current code instead of checking them, for expected/registry.json.
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

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import metrics  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(HERE, ".build")
WORKLOADS = ("registry", "upgrade_arc", "ingest_query")
RUN_TIMEOUT_S = 170
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory the project's build.sbt
    compiles against (its `unmanagedBase`)."""
    jars = os.path.join(os.environ["SPARK_HOME"], "jars") if "SPARK_HOME" in os.environ else ""
    if not jars and os.path.exists(os.path.join(ROOT, "build.sbt")):
        with open(os.path.join(ROOT, "build.sbt")) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        jars = m.group(1) if m else ""
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        die("no Spark jars found: set SPARK_HOME")
    return os.path.join(jars, "*")


def sources():
    engine = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(engine):
        die("src/main/scala not found: run from the repository root")
    files = []
    for base in (engine, os.path.join(HERE, "src")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def jvm_cmd(classes, work):
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return (["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-Xss8m",
             f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
            + opens + ["-cp", f"{classes}{os.pathsep}{spark_jars()}", "perfbench.Main",
                       "--data", os.path.join(HERE, "data"), "--work", work,
                       "--expected", os.path.join(HERE, "expected", "registry.json")])


def run_logged(cmd, work):
    """Runs `cmd` in its own process group, killing the group on timeout;
    returns the exit code, printing the log tail on failure."""
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, start_new_session=True)
        try:
            code = p.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            code = "timeout"
    if code != 0:
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-6000:])
    return code


def build():
    """Compiles the engine and the benchmark into .build/classes with the
    Scala compiler that ships with Spark. Skipped when the sources are
    unchanged."""
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(BUILD, "stamp")
    classes = os.path.join(BUILD, "classes")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return classes
    shutil.rmtree(BUILD, ignore_errors=True)
    os.makedirs(classes)
    cp = spark_jars()
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
           "-d", classes, "-cp", cp] + srcs
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        sys.stderr.write(res.stdout[-4000:])
        die("build failed")
    with open(stamp, "w") as fh:
        fh.write(h.hexdigest())
    return classes


def run_jvm(classes, args, work):
    out = os.path.join(work, "record.json")
    cmd = (jvm_cmd(classes, work)
           + ["--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace), "--out", out]
           + (["--record-expected"] if args.record_expected else []))
    code = run_logged(cmd, work)
    if code != 0 or not os.path.exists(out):
        die(f"benchmark JVM failed ({code})")
    with open(out) as fh:
        return json.load(fh)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-expected", action="store_true")
    args = ap.parse_args()

    t0 = time.time()
    classes = build()
    build_s = time.time() - t0
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        record = run_jvm(classes, args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if args.record_expected:
        print(json.dumps(record["facts"]["digests"], indent=1, sort_keys=True))
        return

    run = metrics.Run(record)
    extra = metrics.workload_record(run)
    if args.trace:
        chosen = metrics.per_layer(run)
    else:
        chosen = metrics.end_to_end(run)
    bad = [k for k, (v, _) in chosen.items() if v is None or not metrics.valid_name(k)]
    if bad:
        die(f"metrics without a value or with an invalid name: {bad}")
    failures = [{"op": o["name"], "phase": o["str"]["phase"], "error": o["str"].get("error")}
                for o in run.ops if o["num"].get("ok", 0) != 1]
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "build_s": build_s, "env": record["env"], "workload_record": extra,
        "end_to_end": {k: v for k, (v, _) in metrics.end_to_end(run).items()},
        "failures": failures[:20],
    }))
    print(json.dumps({
        "correct": extra["failed"] == 0,
        "attempted": extra["attempted"],
        "failed": extra["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in chosen.items()},
    }))


if __name__ == "__main__":
    main()
