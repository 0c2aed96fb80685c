#!/usr/bin/env python3
"""Where a Spark application's SQL time goes: jobs, or the driver alone.

    python3 tools/eventlog_gaps.py EVENT_LOG [--match REGEX] [--min-ms N]

EVENT_LOG is an uncompressed Spark event log (one JSON event per line):
a file, or the directory of a rolling log (its events_<n>_* files are read
in order). A run writes one with

    -Dspark.eventLog.enabled=true -Dspark.eventLog.compress=false
    -Dspark.eventLog.dir=<an existing directory>

One row per SQL execution (nested executions included), in start order:

    id          the execution id
    wall_ms     execution start to end
    job_ms      time at least one of the execution's jobs was running
    driver_ms   wall_ms - job_ms: planning, AQE re-planning, plan rendering,
                result handling -- time no executor works for this execution
    jobs        the execution's jobs
    aqe         SparkListenerSQLAdaptiveExecutionUpdate events (re-plans)
    plan_chars  the largest physicalPlanDescription among the execution's
                start and AQE update events, in characters
    what        the execution's description, shortened

A last line sums the columns (plan_chars: the maximum). --match keeps only
executions whose description matches REGEX (rows and sums); executions
shorter than --min-ms are left out of the rows but counted in the sums.
"""
import argparse
import json
import os
import re
import sys

SQL = "org.apache.spark.sql.execution.ui."


def union_ms(intervals, lo, hi):
    """Length of the union of [start, end] intervals, clipped to [lo, hi]."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def lines(path):
    if not os.path.isdir(path):
        files = [path]
    else:
        rolled = [(int(m.group(1)), n) for n in os.listdir(path)
                  for m in [re.match(r"events_(\d+)_", n)] if m]
        files = [os.path.join(path, n) for _, n in sorted(rolled)]
    for name in files:
        with open(name, encoding="utf-8") as f:
            yield from f


def read(path):
    execs, jobs = {}, {}
    for line in lines(path):
        ev = json.loads(line)
        kind = ev.get("Event", "")
        if kind == SQL + "SparkListenerSQLExecutionStart":
            execs[ev["executionId"]] = {
                "start": ev["time"], "end": None, "aqe": 0, "jobs": [],
                "plan_chars": len(ev.get("physicalPlanDescription", "")),
                "what": ev.get("description", "")}
        elif kind == SQL + "SparkListenerSQLAdaptiveExecutionUpdate":
            x = execs.get(ev["executionId"])
            if x is not None:
                x["aqe"] += 1
                x["plan_chars"] = max(x["plan_chars"], len(ev.get("physicalPlanDescription", "")))
        elif kind == SQL + "SparkListenerSQLExecutionEnd":
            x = execs.get(ev["executionId"])
            if x is not None:
                x["end"] = ev["time"]
        elif kind == "SparkListenerJobStart":
            sql_id = (ev.get("Properties") or {}).get("spark.sql.execution.id")
            jobs[ev["Job ID"]] = [sql_id, ev["Submission Time"], None]
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]][2] = ev["Completion Time"]
    for sql_id, start, end in jobs.values():
        if sql_id is not None and end is not None and int(sql_id) in execs:
            execs[int(sql_id)]["jobs"].append((start, end))
    return execs


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("event_log")
    ap.add_argument("--match", default="")
    ap.add_argument("--min-ms", type=int, default=0)
    a = ap.parse_args()
    execs = read(a.event_log)
    if not execs:
        sys.exit("no SQL executions in the log")
    cols = ["id", "wall_ms", "job_ms", "driver_ms", "jobs", "aqe", "plan_chars"]
    print("\t".join(cols + ["what"]))
    sums = dict.fromkeys(cols[1:], 0)
    for eid in sorted(execs, key=lambda i: (execs[i]["start"], i)):
        x = execs[eid]
        if x["end"] is None or not re.search(a.match, x["what"]):
            continue
        wall = x["end"] - x["start"]
        job = union_ms(x["jobs"], x["start"], x["end"])
        row = {"wall_ms": wall, "job_ms": job, "driver_ms": wall - job, "jobs": len(x["jobs"]),
               "aqe": x["aqe"], "plan_chars": x["plan_chars"]}
        for k, v in row.items():
            sums[k] = max(sums[k], v) if k == "plan_chars" else sums[k] + v
        if wall >= a.min_ms:
            what = " ".join(x["what"].split())[:60]
            print("\t".join([str(eid)] + [str(row[c]) for c in cols[1:]] + [what]))
    print("\t".join(["total"] + [str(sums[c]) for c in cols[1:]] + [""]))


if __name__ == "__main__":
    main()
