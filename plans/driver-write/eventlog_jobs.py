#!/usr/bin/env python3
"""Spark jobs and tasks per call site, from an uncompressed Spark event log.

    python3 eventlog_jobs.py <event log file or directory> [--frames N]

Reads the JSON-lines event log that a JVM started with
`-Dspark.eventLog.enabled=true -Dspark.eventLog.compress=false
-Dspark.eventLog.dir=file://<dir>` writes (a directory `eventlog_v2_*`
holding `events_*` files, or one file). Every SQL execution is filed under
its root execution (`rootExecutionId`, which is also each job's
`spark.sql.execution.root.id` property), and every root under its call
site: the first N frames of `SparkListenerSQLExecutionStart.details`
outside Spark and Scala (default 1). Jobs and tasks are counted per root
through the job's root id and the stages each job ran.

Prints one line per call site, costliest first: the number of root
executions, SQL executions, jobs and tasks per root, the median root wall
time (first execution start to last execution end) and the summed task
executor run time per root. A root with 0 jobs ran all its work on the
driver.
"""
import argparse
import collections
import json
import os
import statistics

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_END = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd"


def event_files(path):
    if os.path.isfile(path):
        return [path]
    names = [n for n in os.listdir(path) if n.startswith("events_")]
    # events_<index>_<app id>: roll order
    names.sort(key=lambda n: int(n.split("_")[1]))
    return [os.path.join(path, n) for n in names]


def call_site(details, frames):
    own = [f for f in details.splitlines()
           if f and not f.startswith(("org.apache.spark.", "scala.", "java."))]
    return " <- ".join(own[:frames]) or "(spark)"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("log")
    ap.add_argument("--frames", type=int, default=1)
    a = ap.parse_args()

    root_of = {}                      # execution id -> root execution id
    site = {}                         # root id -> call site
    span = {}                         # root id -> [start ms, end ms]
    execs = collections.Counter()     # root id -> SQL executions
    jobs = collections.Counter()      # root id -> jobs
    root_of_stage = {}                # stage id -> root id
    tasks = collections.Counter()     # root id -> tasks
    run_ms = collections.Counter()    # root id -> executor run ms
    for path in event_files(a.log):
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == SQL_START:
                    rid = e.get("rootExecutionId", e["executionId"])
                    root_of[e["executionId"]] = rid
                    execs[rid] += 1
                    if rid == e["executionId"]:
                        site[rid] = call_site(e.get("details", ""), a.frames)
                    s = span.setdefault(rid, [e["time"], e["time"]])
                    s[0] = min(s[0], e["time"])
                elif kind == SQL_END:
                    rid = root_of.get(e["executionId"])
                    if rid is not None:
                        span[rid][1] = max(span[rid][1], e["time"])
                elif kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    rid = props.get("spark.sql.execution.root.id",
                                    props.get("spark.sql.execution.id"))
                    if rid is None:
                        continue
                    rid = int(rid)
                    jobs[rid] += 1
                    for sid in e.get("Stage IDs", []):
                        root_of_stage[sid] = rid
                elif kind == "SparkListenerTaskEnd":
                    rid = root_of_stage.get(e["Stage ID"])
                    if rid is not None:
                        tasks[rid] += 1
                        run_ms[rid] += (e.get("Task Metrics") or {}).get("Executor Run Time", 0)

    by_site = collections.defaultdict(list)
    for rid, s in site.items():
        by_site[s].append(rid)
    rows = []
    for s, rids in by_site.items():
        n = len(rids)
        walls = [span[r][1] - span[r][0] for r in rids]
        rows.append((sum(walls), s, n, sum(execs[r] for r in rids) / n,
                     sum(jobs[r] for r in rids) / n, sum(tasks[r] for r in rids) / n,
                     statistics.median(walls), sum(run_ms[r] for r in rids) / n))
    print(f"{'roots':>5} {'execs':>6} {'jobs':>6} {'tasks':>6} {'wall_p50_ms':>11} "
          f"{'run_ms':>8}  call site")
    for _, s, n, ex, jb, tk, wall, run in sorted(rows, reverse=True):
        print(f"{n:5d} {ex:6.2f} {jb:6.2f} {tk:6.2f} {wall:11.1f} {run:8.1f}  {s}")


if __name__ == "__main__":
    main()
