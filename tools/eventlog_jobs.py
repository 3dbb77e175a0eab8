#!/usr/bin/env python3
"""Per-job breakdown of an uncompressed Spark event log.

    python3 tools/eventlog_jobs.py <event log> [--group <job group>]

<event log> is one log file, or the directory of a rolling log
(`eventlog_v2_*`, Spark's default), whose `events_<n>_*` parts are read in
order.

For every job, in submission order, prints one line:

    job  gap_ms  wall_ms  stages  tasks  run_ms  deser_ms  cpu_ms  group  name

  gap_ms    driver time between the latest completion of any earlier job
            and this job's submission, 0 when an earlier job was still
            running (the first job's gap is from the application start)
  wall_ms   submission to completion, with `*` appended when the job
            overlapped an earlier one (AQE submits query-stage jobs
            concurrently)
  run_ms    the largest task executor run time over the job's stages
  deser_ms  the largest task deserialize time over the job's stages
  cpu_ms    the largest task executor CPU time over the job's stages
  name      the call site of the job's final stage

and, under it, one indented line per stage with the same three maxima, so
a job whose wall time is mostly scheduling shows small task maxima. A
closing line reports the time covered by jobs (the union of their
intervals, so concurrent jobs count once), the number of overlapping
jobs, and the summed gaps. Write the log with
`-Dspark.eventLog.enabled=true -Dspark.eventLog.compress=false
-Dspark.eventLog.dir=<dir>` on the JVM's command line.
"""

import argparse
import json
import os
import sys


def lines(path):
    if not os.path.isdir(path):
        parts = [path]
    else:
        names = [n for n in os.listdir(path) if n.startswith("events_")]
        parts = [os.path.join(path, n) for n in sorted(names, key=lambda n: int(n.split("_")[1]))]
    for part in parts:
        with open(part, errors="replace") as fh:
            yield from fh


def new_stage():
    return {"name": "", "tasks": 0, "run": 0, "deser": 0, "cpu": 0}


def load(path):
    app_start = None
    jobs = {}    # job id -> dict
    stages = {}  # stage id -> dict
    for line in lines(path):
        e = json.loads(line)
        kind = e.get("Event")
        if kind == "SparkListenerApplicationStart":
            app_start = e.get("Timestamp")
        elif kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            infos = e.get("Stage Infos") or []
            final = max(infos, key=lambda s: s["Stage ID"]) if infos else {}
            jobs[e["Job ID"]] = {
                "id": e["Job ID"], "start": e.get("Submission Time"), "end": None,
                "stages": [s["Stage ID"] for s in infos],
                "group": props.get("spark.jobGroup.id", ""),
                "name": final.get("Stage Name", ""),
            }
            for s in infos:
                stages.setdefault(s["Stage ID"], new_stage())["name"] = s.get("Stage Name", "")
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in jobs:
                jobs[e["Job ID"]]["end"] = e.get("Completion Time")
        elif kind == "SparkListenerTaskEnd":
            st = stages.setdefault(e["Stage ID"], new_stage())
            m = e.get("Task Metrics") or {}
            st["tasks"] += 1
            st["run"] = max(st["run"], m.get("Executor Run Time", 0))
            st["deser"] = max(st["deser"], m.get("Executor Deserialize Time", 0))
            st["cpu"] = max(st["cpu"], m.get("Executor CPU Time", 0) / 1e6)
    return app_start, sorted(jobs.values(), key=lambda j: (j["start"] or 0, j["id"])), stages


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("log")
    ap.add_argument("--group", help="only jobs of this job group")
    a = ap.parse_args()
    app_start, jobs, stages = load(a.log)
    if a.group is not None:
        jobs = [j for j in jobs if j["group"] == a.group]
    if not jobs:
        sys.exit(f"no jobs in {a.log}")
    print("job\tgap_ms\twall_ms\tstages\ttasks\trun_ms\tdeser_ms\tcpu_ms\tgroup\tname")
    latest_end = app_start  # the latest completion so far
    covered = total_gap = overlapping = 0
    span_start = span_end = None  # the current union of overlapping intervals
    for j in jobs:
        ran = [(sid, stages[sid]) for sid in j["stages"] if stages.get(sid, {}).get("tasks")]
        wall = (j["end"] - j["start"]) if j["end"] and j["start"] else 0
        gap = max(j["start"] - latest_end, 0) if latest_end and j["start"] else 0
        overlaps = bool(latest_end and j["start"] and j["start"] < latest_end)
        overlapping += overlaps
        total_gap += gap
        if j["start"] and j["end"]:
            if span_end is None or j["start"] > span_end:
                if span_end is not None:
                    covered += span_end - span_start
                span_start, span_end = j["start"], j["end"]
            else:
                span_end = max(span_end, j["end"])
        if j["end"]:
            latest_end = max(latest_end or 0, j["end"])
        print(f"{j['id']}\t{gap}\t{wall}{'*' if overlaps else ''}\t{len(ran)}\t{sum(s['tasks'] for _, s in ran)}\t"
              f"{max((s['run'] for _, s in ran), default=0)}\t"
              f"{max((s['deser'] for _, s in ran), default=0)}\t"
              f"{max((s['cpu'] for _, s in ran), default=0):.0f}\t{j['group']}\t{j['name']}")
        for sid, s in ran:
            print(f"  stage {sid}\t{s['tasks']} tasks\trun {s['run']}\tdeser {s['deser']}\t"
                  f"cpu {s['cpu']:.0f}\t{s['name']}")
    if span_end is not None:
        covered += span_end - span_start
    print(f"# {len(jobs)} jobs ({overlapping} overlapping an earlier one), {covered} ms covered by jobs, "
          f"{total_gap} ms in driver gaps before them")


if __name__ == "__main__":
    try:
        main()
    except BrokenPipeError:
        # the reader closed the pipe (`| head`): stop quietly, and point
        # stdout at /dev/null so the exit-time flush cannot raise again
        os.dup2(os.open(os.devnull, os.O_WRONLY), sys.stdout.fileno())
        sys.exit(1)
