#!/usr/bin/env python3
"""One line per SQL execution from an uncompressed Spark event log.

Usage: python3 tools/eventlog_jobs.py <event log>

The event log is a file, a rolling log's `eventlog_v2_<app>` directory (its
`events_<n>_<app>` files read in order), or a log directory, which means its
newest log. Get a log from any run by setting, e.g.

    JAVA_TOOL_OPTIONS="-Dspark.eventLog.enabled=true \\
      -Dspark.eventLog.compress=false -Dspark.eventLog.dir=file:///tmp/ev"

(the directory must exist; Spark reads spark.* system properties into every
SparkConf, so the program needs no change).

Prints one line per SQL execution, and one per Spark job that runs outside
any execution (file listing, RDD actions), in start order:
  gap_s   driver time before it: its start minus the latest end of every
          line that started earlier (0 when it overlaps one)
  run_s   its end minus its start
  jobs    Spark jobs tagged with its execution id (1 for a lone job)
  tasks   tasks those jobs finished
  id      the execution id, or `job <n>` for a lone job, and its
          description: the job description when one is set
          (`SparkContext.setJobDescription`, e.g. `report <dir>` for each
          write of the report rebuild); otherwise the execution's call
          site, or the lone job's first stage name; cut before its first
          `<br/>`, where Spark's listing jobs append their path list
A closing line totals them. The lines with the largest gap and run times
are where a run's per-job floor sits.
"""
import json
import os
import sys
from collections import Counter

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_END = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd"


def log_files(path):
    """The files of the event log at `path`, in write order."""
    if os.path.isfile(path):
        return [path]
    names = [n for n in os.listdir(path) if not n.startswith(".")]
    parts = [n for n in names if n.startswith("events_")]
    if parts:
        return [os.path.join(path, n) for n in sorted(parts, key=lambda n: int(n.split("_")[1]))]
    logs = [os.path.join(path, n) for n in names if not n.startswith("appstatus")]
    if not logs:
        sys.exit(f"no event log in {path}")
    return log_files(max(logs, key=os.path.getmtime))


def events(path):
    for name in log_files(path):
        with open(name, encoding="utf-8") as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


def timeline(path):
    """Rows of id, desc, start, end (ms), jobs and tasks, in start order."""
    execs, jobs, stage_job, tasks = {}, {}, {}, Counter()
    for e in events(path):
        kind = e.get("Event")
        if kind == SQL_START:
            execs[e["executionId"]] = {"id": str(e["executionId"]),
                                       "desc": e.get("description", ""),
                                       "start": e["time"], "end": e["time"]}
        elif kind == SQL_END and e["executionId"] in execs:
            execs[e["executionId"]]["end"] = e["time"]
        elif kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            sql_id = props.get("spark.sql.execution.id")
            stages = e.get("Stage Infos") or [{}]
            jobs[e["Job ID"]] = {"exec": int(sql_id) if sql_id is not None else None,
                                 "desc": props.get("spark.job.description")
                                 or stages[0].get("Stage Name", ""),
                                 "start": e["Submission Time"], "end": e["Submission Time"]}
            for s in e.get("Stage IDs", []):
                stage_job[s] = e["Job ID"]
        elif kind == "SparkListenerJobEnd" and e["Job ID"] in jobs:
            jobs[e["Job ID"]]["end"] = e["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            tasks[stage_job.get(e["Stage ID"])] += 1
    for r in execs.values():
        r["jobs"] = r["tasks"] = 0
    rows = list(execs.values())
    for j, job in jobs.items():
        if job["exec"] in execs:
            execs[job["exec"]]["jobs"] += 1
            execs[job["exec"]]["tasks"] += tasks[j]
        else:
            rows.append(dict(job, id=f"job {j}", jobs=1, tasks=tasks[j]))
    return sorted(rows, key=lambda r: r["start"])


def main():
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    rows = timeline(sys.argv[1])
    print(f"{'gap_s':>7} {'run_s':>7} {'jobs':>4} {'tasks':>5}  id  description")
    last_end, total_gap = None, 0.0
    for r in rows:
        gap = 0.0 if last_end is None else max(0, r["start"] - last_end) / 1e3
        total_gap += gap
        last_end = r["end"] if last_end is None else max(last_end, r["end"])
        head, cut, _ = r["desc"].partition("<br/>")
        desc = " ".join((head.rstrip(":") if cut else head).split())[:80]
        print(f"{gap:7.3f} {(r['end'] - r['start']) / 1e3:7.3f} {r['jobs']:4d} "
              f"{r['tasks']:5d}  {r['id']}  {desc}")
    span = (last_end - rows[0]["start"]) / 1e3 if rows else 0.0
    print(f"{len(rows)} lines over {span:.3f} s: {total_gap:.3f} s of driver gaps, "
          f"{sum(r['jobs'] for r in rows)} jobs, {sum(r['tasks'] for r in rows)} tasks")


if __name__ == "__main__":
    main()
