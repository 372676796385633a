#!/usr/bin/env python3
"""Scheduler occupancy per time window of one Spark event log.

For each window it prints the jobs and stages submitted and the tasks
launched in it, the task-busy seconds (task run time clipped to the
window), how many seconds exactly k tasks were running (k = 0, 1, ...
up to the busiest moment of the log), and the seconds no job was
running at all. A run that is floor-bound shows up as seconds with no
job or one task; a run that fills its cores shows up in the top bucket.

Usage: eventlog_summary.py <events-file> [cut ...]
  <events-file>  an uncompressed event log (JSON lines); '-' reads stdin.
                 Spark writes `<dir>/<app-id>.zstd` by default: decompress
                 it with `zstd -dc <file> > events.json` first.
  cut ...        seconds since the first job started, ascending; they split
                 the log into windows. With none, the whole log is one
                 window; `from to` gives the windows before, between and
                 after them.
"""
import json
import sys
from collections import Counter


def load(stream):
    jobs, stages, tasks = {}, [], []
    for line in stream:
        e = json.loads(line)
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            jobs[e["Job ID"]] = [e["Submission Time"], None]
        elif kind == "SparkListenerJobEnd":
            jobs[e["Job ID"]][1] = e["Completion Time"]
        elif kind == "SparkListenerStageSubmitted":
            t = e["Stage Info"].get("Submission Time")
            if t is not None:
                stages.append(t)
        elif kind == "SparkListenerTaskEnd":
            info = e["Task Info"]
            tasks.append((info["Launch Time"], info["Finish Time"]))
    return jobs, stages, tasks


def occupancy(intervals, lo, hi):
    """Seconds in [lo, hi) during which exactly k intervals overlap."""
    edges = [(max(a, lo), 1) for a, b in intervals if a < hi and b > lo]
    edges += [(min(b, hi), -1) for a, b in intervals if a < hi and b > lo]
    edges.sort()
    out, level, at = Counter(), 0, lo
    for t, step in edges:
        out[level] += t - at
        level, at = level + step, t
    out[level] += hi - at
    return {k: ms / 1000 for k, ms in out.items() if ms > 0}


def main(argv):
    if len(argv) < 2:
        sys.exit(__doc__)
    stream = sys.stdin if argv[1] == "-" else open(argv[1])
    jobs, stages, tasks = load(stream)
    if not jobs:
        sys.exit("no SparkListenerJobStart in the log")
    t0 = min(a for a, _ in jobs.values())
    end = max([b or a for a, b in jobs.values()] + [b for _, b in tasks])
    jobs = [(a, b if b is not None else end) for a, b in jobs.values()]
    cuts = [t0 + float(c) * 1000 for c in argv[2:]]
    bounds = [t0] + [c for c in cuts if t0 < c < end] + [end]
    width = max(occupancy(tasks, t0, end), default=0)
    head = ["window_s", "jobs", "stages", "tasks", "busy_s"]
    head += [f"{k}_task_s" for k in range(width + 1)] + ["no_job_s"]
    print("\t".join(head))
    for lo, hi in zip(bounds, bounds[1:]):
        busy = sum(min(b, hi) - max(a, lo) for a, b in tasks if a < hi and b > lo) / 1000
        occ = occupancy(tasks, lo, hi)
        row = [f"{(lo - t0) / 1000:.2f}-{(hi - t0) / 1000:.2f}",
               sum(lo <= a < hi for a, _ in jobs),
               sum(lo <= t < hi for t in stages),
               sum(lo <= a < hi for a, _ in tasks),
               f"{busy:.2f}"]
        row += [f"{occ.get(k, 0):.2f}" for k in range(width + 1)]
        row.append(f"{occupancy(jobs, lo, hi).get(0, 0):.2f}")
        print("\t".join(map(str, row)))


if __name__ == "__main__":
    main(sys.argv)
