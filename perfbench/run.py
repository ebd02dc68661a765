#!/usr/bin/env python3
"""Pipeline benchmark for the graft engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. On first use it compiles the benchmark
together with the engine sources (sbt, into perfbench/target); later runs
reuse that build while the sources are unchanged. Each run starts a fresh JVM
in a work directory under .bench_build/work, which it deletes afterwards.

Standard output ends with two JSON lines: host evidence (load average and
process CPU before and after the workload, op counts, the tail percentile),
then the result: every end_to_end metric of BENCHMARK.json with --trace 0,
every per_layer metric with --trace 1. Traced runs also leave their spans in
.bench_build/traces. `--smoke` runs tiny inputs, for the benchmark's own test.
"""
import argparse
import fcntl
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("logs_ingest", "learn_gate")
BUILD_TIMEOUT_S = 800
JVM_TIMEOUT_S = 150
JVM_HEAP = "2g"
# Spark on JDK 17 outside spark-submit needs these (see build.sbt at the root)
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED"
    for p in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
              "java.net", "java.nio", "java.util", "java.util.concurrent",
              "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
              "sun.security.action", "sun.util.calendar")
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in roots:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile once per source state; returns the class directory."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources (src/main/scala/graft) not found next to perfbench/")
    os.makedirs(STATE, exist_ok=True)
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    with open(os.path.join(STATE, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp = os.path.join(STATE, "built")
        digest = sources_digest()
        if os.path.isdir(classes) and os.path.exists(stamp):
            with open(stamp) as f:
                if f.read() == digest:
                    return classes
        env = dict(os.environ, SPARK_HOME=spark_home())
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -XX:-UsePerfData"
                           f" -Dsbt.global.base={os.path.join(STATE, 'sbt-global')}")
        log = os.path.join(STATE, "build.log")
        with open(log, "w") as out:
            try:
                rc = subprocess.run(
                    ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile"],
                    cwd=HERE, stdout=out, stderr=subprocess.STDOUT, env=env,
                    timeout=BUILD_TIMEOUT_S).returncode
            except subprocess.TimeoutExpired:
                rc = None
        if rc != 0:
            with open(log) as f:
                sys.stderr.write("".join(f.readlines()[-30:]))
            fail("build failed", 1)
        with open(stamp, "w") as f:
            f.write(digest)
    return classes


def spark_home():
    """SPARK_HOME, or the first Spark installation whose bin/ is on the PATH."""
    if os.environ.get("SPARK_HOME"):
        candidates = [os.environ["SPARK_HOME"]]
    else:
        candidates = [os.path.dirname(os.path.abspath(d))
                      for d in os.environ.get("PATH", "").split(os.pathsep)
                      if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in candidates:
        if os.path.isdir(os.path.join(home, "jars")):
            return home
    fail("no Spark installation found: set SPARK_HOME")


def warm_page_cache(paths):
    """Read the JVM's class path once, so the cold op measures class loading
    and compilation, not whether the host's page cache still holds the jars."""
    for top in paths:
        for d, _, fs in os.walk(top):
            for name in fs:
                with open(os.path.join(d, name), "rb") as f:
                    while f.read(1 << 20):
                        pass


def run_jvm(classes, args):
    work_root = os.path.join(STATE, "work")
    os.makedirs(work_root, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=work_root)
    try:
        out = os.path.join(work, "result.json")
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp)
        jar_dir = os.path.join(spark_home(), "jars")
        warm_page_cache([jar_dir, classes])
        # a fixed-size heap under the throughput collector keeps the peak
        # resident size a function of the work, not of heap-resizing timing
        cmd = ["java", "-XX:-UsePerfData", "-XX:+UseParallelGC",
               f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}",
               f"-Djava.io.tmpdir={tmp}",
               f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
               *ADD_OPENS, "-cp", classes + os.pathsep + os.path.join(jar_dir, "*"), "perfbench.Main",
               "--workload", args.workload, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace),
               "--work", work, "--out", out]
        if args.trace:
            cmd += ["--trace-out", os.path.join(
                STATE, "traces", f"{args.workload}-seed{args.seed}.jsonl")]
        if args.smoke:
            cmd.append("--smoke")
        if args.malformed_authfail:
            cmd.append("--malformed-authfail")
        log = os.path.join(work, "jvm.log")
        with open(log, "w") as lf:
            proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT,
                                    cwd=work, start_new_session=True)
            try:
                rc = proc.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                rc = None
            finally:
                # timed out, or this process was told to stop
                if proc.poll() is None:
                    os.killpg(proc.pid, signal.SIGKILL)
                    proc.wait()
        with open(log, errors="replace") as f:
            lines = f.readlines()
        notes = [l for l in lines if l.startswith("[perfbench]")]
        sys.stderr.write("".join(notes))
        if rc != 0 or not os.path.exists(out):
            sys.stderr.write("".join(lines[-40:]))
            fail(f"workload run failed (exit {rc})", 1)
        with open(out) as f:
            return json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    ap.add_argument("--smoke", action="store_true")
    # plants malformed authfail lines as well (logs_ingest), which the engine
    # currently loses; see LogsIngest.scala
    ap.add_argument("--malformed-authfail", action="store_true")
    args = ap.parse_args()
    started = time.monotonic()
    # a SIGTERM unwinds like an error, so the JVM is stopped and the work
    # directory removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json not found at the root of the checkout")
    with open(spec_path) as f:
        spec = json.load(f)
    raw = run_jvm(build(), args)

    metrics = {}
    for m in spec["per_layer" if args.trace else "end_to_end"]:
        v = raw["metrics"].get(m["name"])
        if not isinstance(v, (int, float)) or not math.isfinite(v):
            fail(f"metric {m['name']} missing or not a number: {v!r}", 1)
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    attempted, failed = int(raw["attempted"]), int(raw["failed"])
    print(json.dumps({"host": raw["host"], "info": raw["info"],
                      "wall_s": round(time.monotonic() - started, 3)}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
