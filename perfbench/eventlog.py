"""Per-call Spark engine metrics from a local Spark event log.

The traced worker enables ``spark.eventLog`` from outside the program
(``PYSPARK_SUBMIT_ARGS``) and tags each call it makes with
``setJobDescription``; Structured Streaming tags its own micro-batch
jobs with the query name.  This module groups task metrics by that
description.
"""

from __future__ import annotations

import glob
import json
import os
import statistics

KEEP = ('{"Event":"SparkListenerJobStart"', '{"Event":"SparkListenerTaskEnd"')


def load(log_dir: str) -> list[dict]:
    """Events of every application log under ``log_dir``: a plain log
    file, or the ``events_*`` files of a rolling log directory (Spark
    4's default)."""
    events = []
    paths = glob.glob(f"{log_dir}/*") + glob.glob(f"{log_dir}/*/events_*")
    for path in sorted(p for p in paths if os.path.isfile(p)):
        with open(path) as f:
            # SQL execution events carry whole plan strings: skip them unparsed
            events.extend(json.loads(line) for line in f if line.startswith(KEEP))
    return events


def by_description(events: list[dict]) -> dict[str, dict]:
    """``{description: {jobs, stages, tasks, task_failures, task_cpu_s,
    gc_s, shuffle_mb, spill_mb, stage_task_s}}``; ``stage_task_s`` maps
    each stage to its task durations in seconds."""
    job_desc, stage_desc, out = {}, {}, {}
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            desc = (e.get("Properties") or {}).get("spark.job.description") or ""
            job_desc[e["Job ID"]] = desc
            for sid in e.get("Stage IDs", []):
                stage_desc[sid] = desc
            agg = out.setdefault(desc, _empty())
            agg["jobs"] += 1
        elif kind == "SparkListenerTaskEnd":
            agg = out.setdefault(stage_desc.get(e["Stage ID"], ""), _empty())
            info, m = e["Task Info"], e.get("Task Metrics") or {}
            agg["tasks"] += 1
            agg["task_failures"] += bool(info.get("Failed"))
            agg["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            agg["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            agg["shuffle_mb"] += (
                (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / 1e6
            )
            agg["spill_mb"] += (
                m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            ) / 1e6
            agg["stage_task_s"].setdefault(e["Stage ID"], []).append(
                (info["Finish Time"] - info["Launch Time"]) / 1e3
            )
    for agg in out.values():
        agg["stages"] = len(agg["stage_task_s"])
    return out


def _empty() -> dict:
    return {
        "jobs": 0,
        "tasks": 0,
        "task_failures": 0,
        "task_cpu_s": 0.0,
        "gc_s": 0.0,
        "shuffle_mb": 0.0,
        "spill_mb": 0.0,
        "stage_task_s": {},
    }


def merge(aggs: list[dict]) -> dict:
    out = _empty()
    for a in aggs:
        for k, v in a.items():
            if k == "stage_task_s":
                out[k].update(v)
            elif k != "stages":
                out[k] += v
    out["stages"] = len(out["stage_task_s"])
    return out


def task_skew(agg: dict) -> float:
    """max / median task time of the stage with the most task time — the
    stage where one slow key or partition delays the whole call."""
    if not agg["stage_task_s"]:
        return 0.0
    durs = max(agg["stage_task_s"].values(), key=sum)
    med = statistics.median(durs)
    return max(durs) / med if med > 0 else 1.0
