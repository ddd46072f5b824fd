"""Offline parser for a Spark event log (JSON lines).

Reads only what Spark itself records: job start/end times, each job's
job group and call site, and the task metrics of every stage. A job
belongs to the benchmark span whose job group it carries; a job in
another group (the engine tags its per-partition work itself) belongs
to the innermost span open when it was submitted. A job whose call site
names no file of the engine or the benchmark counts as unattributed.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

#: a job whose call site names none of these files is unattributed
ATTRIBUTED_CALLSITES = ("mlcast_sourcedata_validator_spark/", "__spark_entry__.py",
                        "perfbench/")

STAGE_METRICS = ("input_bytes", "shuffle_write_bytes", "shuffle_read_bytes",
                 "spill_bytes", "executor_run_s", "jvm_gc_s",
                 "output_bytes", "output_records")


@dataclass
class Job:
    id: int
    group: str | None
    callsite: str
    submit: float
    end: float = 0.0
    stages: list[int] = field(default_factory=list)


def attributed(callsite: str) -> bool:
    return any(f in callsite for f in ATTRIBUTED_CALLSITES)


def _task_metrics(m: dict) -> dict[str, float]:
    sr = m.get("Shuffle Read Metrics", {})
    return {
        "input_bytes": m.get("Input Metrics", {}).get("Bytes Read", 0),
        "shuffle_write_bytes": m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0),
        "shuffle_read_bytes": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        "spill_bytes": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
        "executor_run_s": m.get("Executor Run Time", 0) / 1000.0,
        "jvm_gc_s": m.get("JVM GC Time", 0) / 1000.0,
        "output_bytes": m.get("Output Metrics", {}).get("Bytes Written", 0),
        "output_records": m.get("Output Metrics", {}).get("Records Written", 0),
    }


def parse(log_dir: str) -> tuple[dict[int, Job], dict[int, dict[str, float]]]:
    """(jobs by id, summed task metrics by stage id) of every event log
    file under ``log_dir``."""
    jobs: dict[int, Job] = {}
    stages: dict[int, dict[str, float]] = {}
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name)) as f:  # one file per application
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    infos = ev.get("Stage Infos") or [{}]
                    callsite = props.get("callSite.short") or infos[0].get("Stage Name", "")
                    jobs[ev["Job ID"]] = Job(ev["Job ID"], props.get("spark.jobGroup.id"),
                                             callsite, ev["Submission Time"] / 1000.0,
                                             stages=list(ev.get("Stage IDs", ())))
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd" and ev.get("Task Metrics"):
                    acc = stages.setdefault(ev["Stage ID"], dict.fromkeys(STAGE_METRICS, 0.0))
                    for k, v in _task_metrics(ev["Task Metrics"]).items():
                        acc[k] += v
    return jobs, stages


def attribute(jobs: dict[int, Job], spans) -> dict[int, int]:
    """job id -> span id: the span whose job group the job carries, else
    the innermost span whose interval holds the job's submission time."""
    by_group = {s.group: s.id for s in spans}
    out: dict[int, int] = {}
    for j in jobs.values():
        if j.group in by_group:
            out[j.id] = by_group[j.group]
            continue
        inner = None
        for s in spans:
            if s.t0 <= j.submit <= s.t1 and (inner is None or s.t0 >= inner.t0):
                inner = s
        if inner is not None:
            out[j.id] = inner.id
    return out


def union_seconds(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total
