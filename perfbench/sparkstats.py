"""Spark-side counts for one traced call: jobs, stages and tasks from
the StatusTracker, and scan / shuffle / spill volumes from the event
log.

The suite submits jobs from its own thread pool, whose threads do not
inherit a caller's job group, so a call's jobs are found as the job
ids that appeared while it ran (the benchmark is the only client of
its session).
"""

from __future__ import annotations

import glob
import json
import os

from pyspark import SparkContext


def job_ids(sc: SparkContext) -> set[int]:
    # the suite sets no job groups, so every job is in the None group
    return set(sc.statusTracker().getJobIdsForGroup(None))


def job_counts(sc: SparkContext, jobs: set[int]) -> dict[str, int]:
    """Jobs, executed stages and completed tasks of ``jobs``."""
    tracker = sc.statusTracker()
    stages, tasks = set(), 0
    for j in jobs:
        info = tracker.getJobInfo(j)
        for s in info.stageIds if info else ():
            st = tracker.getStageInfo(s)
            # a stage whose shuffle output was reused is skipped: no tasks
            if st is not None and st.numCompletedTasks > 0 and s not in stages:
                stages.add(s)
                tasks += st.numCompletedTasks
    return {"jobs": len(jobs), "stages": len(stages), "tasks": tasks}


def event_log_volumes(log_dir: str, jobs: set[int]) -> dict[str, float]:
    """From the (uncompressed, non-rolling) event log in ``log_dir``:
    the number of executed stages of ``jobs`` that read task input,
    and the shuffle bytes written and disk bytes spilled, in MiB."""
    stage_ids: set[int] = set()
    read: dict[int, int] = {}
    shuffle = spill = 0
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart" and ev["Job ID"] in jobs:
                    stage_ids.update(ev["Stage IDs"])
                elif kind == "SparkListenerTaskEnd" and ev["Stage ID"] in stage_ids:
                    m = ev.get("Task Metrics") or {}
                    sid = ev["Stage ID"]
                    read[sid] = read.get(sid, 0) + m.get("Input Metrics", {}).get(
                        "Bytes Read", 0
                    )
                    shuffle += m.get("Shuffle Write Metrics", {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    spill += m.get("Disk Bytes Spilled", 0)
    mb = 1024.0 * 1024.0
    return {
        "input_scans": sum(1 for b in read.values() if b > 0),
        "shuffle_write_mb": shuffle / mb,
        "spill_mb": spill / mb,
    }
