#!/usr/bin/env python3
"""Warehouse benchmark entry point.

Run from the repository root:

    python3 perfbench/run.py --workload serve --seed 1 --seconds 20 --trace 0

It builds the engine together with the benchmark's own sources (the sbt
project in perfbench/, output under .bench_build/), runs one workload in
a plain `java` process (no sbt log wrapping), checks the outputs, and
prints one JSON object as the last line of stdout:

    {"correct": true, "attempted": 240, "failed": 0, "metrics": {...}}

With --trace 0 the metrics are the end_to_end metrics of BENCHMARK.json,
with --trace 1 the per_layer metrics. The full result (sample counts,
checks, host health, spans) is kept under .bench_build/results/.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "target", "scala-2.13", "classes")
RUN_LIMIT_S = 175
# a fixed heap and young generation: G1's default sizing grows the heap
# when GC time runs high, which made peak RSS follow the host's load
JVM_HEAP = ["-Xms2g", "-Xmx2g", "-Xmn512m"]
BUILD_LIMIT_S = 850

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code):
    log(msg)
    sys.exit(code)


def source_files():
    """Every file the build reads, as paths relative to the repo root."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties"),
             os.path.abspath(__file__)]
    for r in roots:
        for d, _, fs in os.walk(r):
            files.extend(os.path.join(d, f) for f in fs)
    return sorted(files)


def source_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_bounded(cmd, cwd, env, limit_s, stdout):
    """Run `cmd` in its own process group; kill the group on timeout."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, stderr=sys.stderr,
                            start_new_session=True)
    try:
        return proc.wait(timeout=limit_s)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None


def spark_jars():
    """The Spark installation's jars directory: $SPARK_HOME/jars, else the
    one next to the spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            fail("Spark not found: set SPARK_HOME", 2)
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars")
    if not os.path.isdir(jars):
        fail(f"no Spark jars under {home}", 2)
    return jars


def build():
    stamp = os.path.join(BUILD, "build.stamp")
    digest = source_hash()
    if os.path.isdir(CLASSES) and os.path.exists(stamp) and open(stamp).read() == digest:
        return
    log("building engine + benchmark (sbt compile)")
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env["SPARK_JARS_DIR"] = spark_jars()
    env["SBT_OPTS"] = env.get("SBT_OPTS", "") + (
        " -Dsbt.override.build.repos=true -Dsbt.repository.config="
        + os.path.expanduser("~/.sbt/repositories") + " -Dsbt.offline=true -Xmx2g")
    t = time.time()
    code = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "Compile / products"], HERE, env,
                       BUILD_LIMIT_S, sys.stderr)
    if code != 0:
        fail(f"build failed (exit {code})", 3)
    with open(stamp, "w") as fh:
        fh.write(digest)
    log(f"built in {time.time() - t:.1f} s")


def java_cmd(args, result, work):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return ["java", *opens, "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}", *JVM_HEAP,
            "-cp", f"{CLASSES}:{spark_jars()}/*", "perfbench.Main",
            args.workload, str(args.seed), str(args.seconds), str(args.trace), result, work]


def add_trace_overhead(summary, out, results, workload):
    """Tracing overhead: this traced run's end-to-end figures minus the
    median of this checkout's untraced runs of the same workload."""
    base = []
    for name in os.listdir(results):
        if name.startswith(f"{workload}-") and "-trace0-" in name and name.endswith(".json") \
                and not name.endswith(".spans.json"):
            with open(os.path.join(results, name)) as fh:
                r = json.load(fh)
            if r["summary"]["correct"]:
                base.append(r["summary"]["metrics"])
    metrics = summary["metrics"]
    for k, v in out["detail"]["e2e"].items():
        vals = sorted(b[k]["value"] for b in base if k in b)
        overhead = v["value"] - statistics.median(vals) if vals else 0.0
        metrics[f"trace.overhead.{k}"] = {"value": overhead, "unit": v["unit"]}
    metrics["trace.baseline_runs"] = {"value": len(base), "unit": "count"}


def check_summary(summary, trace):
    """The summary must carry exactly the metrics BENCHMARK.json declares."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    declared = spec["per_layer" if trace else "end_to_end"]
    want = {m["name"]: m["unit"] for m in declared}
    got = {k: v["unit"] for k, v in summary["metrics"].items()}
    if got != want:
        missing = sorted(set(want) - set(got))
        extra = sorted(set(got) - set(want))
        units = sorted(k for k in set(want) & set(got) if want[k] != got[k])
        fail(f"metrics differ from BENCHMARK.json: missing {missing}, extra {extra}, units {units}", 4)


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=["refresh", "maintain"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft"), "BENCHMARK.json"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"not a checkout of the engine: {need} is missing", 2)
    build()

    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    results = os.path.join(BUILD, "results")
    work = os.path.join(BUILD, "work", stem)
    os.makedirs(results, exist_ok=True)
    result = os.path.join(results, stem + ".json")
    try:
        env = dict(os.environ)
        # Spark's scratch space stays inside the checkout
        env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
        code = run_bounded(java_cmd(args, result, work), ROOT, env, RUN_LIMIT_S, sys.stderr)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code is None:
        fail(f"run exceeded {RUN_LIMIT_S} s and was killed", 5)
    if code != 0 or not os.path.exists(result):
        fail(f"benchmark process failed (exit {code})", 6)
    with open(result) as fh:
        out = json.load(fh)
    summary = out["summary"]
    if args.trace == 1:
        add_trace_overhead(summary, out, results, args.workload)
    check_summary(summary, args.trace == 1)
    host = out["detail"]["host"]
    if host["contended"]:
        log(f"host looks contended: {json.dumps(host)}")
    if not summary["correct"]:
        bad = [c for c in out["detail"]["checks"] if not c["ok"]]
        log(f"output checks failed: {json.dumps(bad)[:2000]}")
    log(f"full result: {os.path.relpath(result, ROOT)}")
    print(json.dumps(summary, separators=(",", ":")), flush=True)
    sys.exit(0 if summary["correct"] else 1)


if __name__ == "__main__":
    main()
