#!/usr/bin/env python3
"""Job census of a Spark event log: which calls started which jobs.

    python3 tools/job_census.py <eventlog>

<eventlog> is an uncompressed event log file, or the directory Spark
wrote it to (an `eventlog_v2_*` directory or its parent; the newest log
found is read). Get one from any JVM that builds its session from
SparkConf by adding

    -Dspark.eventLog.enabled=true -Dspark.eventLog.compress=false
    -Dspark.eventLog.dir=<dir>

to its `java` command (see IVM_TICK_COSTS.md for perfbench's).

Prints every job grouped two ways:

  - by call site: the first `graft.` frames of the stack that started
    the job (the SQL execution's call site when the job belongs to
    one, so a broadcast built on Spark's own thread counts against the
    query that needed it), with job counts, summed job walls and task
    input bytes (parquet, cached and checkpointed blocks alike);
  - by SQL execution: each execution's description, call site, job
    count, wall and task input.
"""

import glob
import json
import os
import sys
from collections import defaultdict

FRAMES = 4
FOREIGN = ("org.apache.spark.", "scala.", "java.", "jdk.", "sun.")


def log_file(path):
    if os.path.isfile(path):
        return path
    found = [f for f in glob.glob(os.path.join(path, "**", "*"), recursive=True)
             if os.path.isfile(f) and os.path.basename(f).startswith(("events_", "local-", "app-"))
             and not f.endswith((".crc", ".inprogress.crc"))]
    if not found:
        sys.exit(f"no event log under {path}")
    return max(found, key=os.path.getmtime)


def site(stack):
    """The first FRAMES `graft.` frames of a long call site, outermost
    first; without a graft frame, the first frame outside Spark, Scala
    and the JDK (a caller of the engine)."""
    frames = [f.strip() for f in (stack or "").splitlines() if f.strip()]
    # CallerJobs only relays a pool thread's work: skip its frame
    ours = [f for f in frames if f.startswith("graft.") and not f.startswith("graft.operators.CallerJobs")]
    if not ours:
        ours = [f for f in frames if not f.startswith(FOREIGN)][:1] or frames[:1]
    return " > ".join(reversed(ours[:FRAMES])) or "?"


def census(events):
    execs = {}
    jobs = {}
    stage_job = {}
    for e in events:
        kind = e["Event"]
        if kind.endswith("SQLExecutionStart"):
            execs[e["executionId"]] = {"desc": e.get("description", ""),
                                      "site": site(e.get("details")), "jobs": [],
                                      "start": e["time"], "end": e["time"]}
        elif kind.endswith("SQLExecutionEnd"):
            if e["executionId"] in execs:
                execs[e["executionId"]]["end"] = e["time"]
        elif kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            ex = props.get("spark.sql.execution.id")
            stages = e.get("Stage Infos") or [{}]
            first = min(stages, key=lambda s: s.get("Stage ID", 0))
            jobs[e["Job ID"]] = {"exec": int(ex) if ex is not None else None,
                                 "stack": first.get("Details"), "input": 0,
                                 "start": e["Submission Time"], "end": e["Submission Time"]}
            for sid in e.get("Stage IDs", []):
                stage_job[sid] = e["Job ID"]
        elif kind == "SparkListenerTaskEnd":
            j = jobs.get(stage_job.get(e["Stage ID"]))
            if j is not None:
                j["input"] += ((e.get("Task Metrics") or {}).get("Input Metrics") or {}).get("Bytes Read", 0)
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in jobs:
                jobs[e["Job ID"]]["end"] = e["Completion Time"]
    for jid, j in jobs.items():
        x = execs.get(j["exec"])
        if x is not None:
            x["jobs"].append(jid)
            j["site"] = x["site"]
        else:
            j["site"] = site(j["stack"])
    return execs, jobs


def main(argv):
    if len(argv) != 1:
        sys.exit(__doc__)
    path = log_file(argv[0])
    with open(path) as fh:
        events = [json.loads(line) for line in fh if line.strip()]
    execs, jobs = census(events)
    total = sum(j["end"] - j["start"] for j in jobs.values()) / 1e3
    print(f"{path}: {len(jobs)} jobs, {total:.2f} s summed job wall, "
          f"{sum(j['input'] for j in jobs.values()) / 1e6:.2f} MB task input, "
          f"{len(execs)} SQL executions")

    by_site = defaultdict(lambda: [0, 0.0, 0])
    for j in jobs.values():
        s = by_site[j["site"]]
        s[0] += 1
        s[1] += (j["end"] - j["start"]) / 1e3
        s[2] += j["input"]
    print("\nby call site (first graft frames, caller > callee):")
    print(f"{'jobs':>5} {'wall_s':>8} {'in_MB':>8}  site")
    for name, (n, wall, inp) in sorted(by_site.items(), key=lambda kv: (-kv[1][0], kv[0])):
        print(f"{n:5d} {wall:8.2f} {inp / 1e6:8.3f}  {name}")

    print("\nby SQL execution:")
    print(f"{'exec':>5} {'jobs':>5} {'wall_s':>8} {'in_MB':>8}  description | site")
    for ex, x in sorted(execs.items()):
        inp = sum(jobs[j]["input"] for j in x["jobs"])
        print(f"{ex:5d} {len(x['jobs']):5d} {(x['end'] - x['start']) / 1e3:8.2f} {inp / 1e6:8.3f}  "
              f"{x['desc']} | {x['site']}")
    loose = [j for j in jobs.values() if j["exec"] not in execs]
    if loose:
        print(f"\n{len(loose)} jobs outside any SQL execution (counted by call site above)")


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
