#!/usr/bin/env python3
"""Jobs by call site from an uncompressed Spark event log.

Usage: eventlog_jobs.py EVENT_LOG [--tail FRAC]

Record a log without changing any source by starting the JVM with
  JAVA_TOOL_OPTIONS="-Dspark.eventLog.enabled=true
    -Dspark.eventLog.compress=false -Dspark.eventLog.dir=/tmp/events"
(the directory must exist). EVENT_LOG is a log file or a rolling log's
directory (eventlog_v2_*, whose events_N_* files are read in N order).
Prints every job in submission order, grouped
by the SQL execution that ran it: its call site, its duration (submission
to completion) and the driver gap before it (from the previous job's
completion to its submission), all in ms. Then, per call site, the job
count and the median duration and gap over the last FRAC of the jobs
(default 1: all of them); 0.5 reads a run's steady second half.
"""
import argparse
import json
import os
import statistics
from collections import defaultdict

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"


def event_files(path):
    """PATH itself, or the events_N_* files of a rolling log's directory."""
    if not os.path.isdir(path):
        return [path]
    names = [n for n in os.listdir(path) if n.startswith("events_")]
    return [os.path.join(path, n) for n in sorted(names, key=lambda n: int(n.split("_")[1]))]


def events(path):
    for name in event_files(path):
        with open(name) as fh:
            yield from fh


def read_jobs(path):
    """Jobs in submission order as dicts, and SQL execution descriptions."""
    jobs, ends, sql = {}, {}, {}
    for line in events(path):
        e = json.loads(line)
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            stages = e.get("Stage Infos") or []
            site = props.get("callSite.short") or (
                max(stages, key=lambda s: s["Stage ID"])["Stage Name"] if stages else "?")
            jobs[e["Job ID"]] = {"id": e["Job ID"], "start": e["Submission Time"],
                                 "site": site,
                                 "sql": props.get("spark.sql.execution.id")}
        elif kind == "SparkListenerJobEnd":
            ends[e["Job ID"]] = e["Completion Time"]
        elif kind == SQL_START:
            sql[str(e["executionId"])] = e.get("description", "")
    out, prev_end = [], None
    for j in sorted(jobs.values(), key=lambda j: (j["start"], j["id"])):
        j["ms"] = ends[j["id"]] - j["start"] if j["id"] in ends else None
        j["gap"] = j["start"] - prev_end if prev_end is not None else None
        if j["id"] in ends:
            prev_end = ends[j["id"]] if prev_end is None else max(prev_end, ends[j["id"]])
        out.append(j)
    return out, sql


def fmt(v):
    return "-" if v is None else f"{v:g}"


def main():
    ap = argparse.ArgumentParser(description="jobs by call site from a Spark event log")
    ap.add_argument("log")
    ap.add_argument("--tail", type=float, default=1.0,
                    help="medians over the last FRAC of the jobs (default 1)")
    a = ap.parse_args()
    jobs, sql = read_jobs(a.log)
    current = object()
    for j in jobs:
        if j["sql"] != current:
            current = j["sql"]
            head = f"sql {current}: {sql.get(current, '')[:80]}" if current else "no sql execution"
            print(f"-- {head}")
        print(f"  job {j['id']:>5}  {fmt(j['ms']):>8} ms  gap {fmt(j['gap']):>8} ms  {j['site']}")
    tail = jobs[len(jobs) - int(round(len(jobs) * a.tail)):] if jobs else []
    by_site = defaultdict(list)
    for j in tail:
        by_site[j["site"]].append(j)
    print(f"\nper call site, last {len(tail)} of {len(jobs)} jobs: count, median ms, median gap ms")
    for site, js in sorted(by_site.items(), key=lambda kv: -len(kv[1])):
        ms = [j["ms"] for j in js if j["ms"] is not None]
        gaps = [j["gap"] for j in js if j["gap"] is not None]
        print(f"  {len(js):>5}  {fmt(statistics.median(ms) if ms else None):>8}"
              f"  {fmt(statistics.median(gaps) if gaps else None):>8}  {site}")


if __name__ == "__main__":
    main()
