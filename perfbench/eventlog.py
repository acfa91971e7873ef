"""Fold a Spark event log (uncompressed JSON lines) into execution numbers
per job description.

The benchmark tags every job it causes with ``setJobDescription``; this
module groups stages and tasks by that tag and splits task time by stage
class:

- ``python``: the stage runs a Python/Arrow seam (``*InPandas*``,
  ``*Python*``, ``*InArrow*`` operators);
- ``shuffle``: otherwise, the stage reads the output of a parent stage;
- ``scan``: otherwise (parquet, cached blocks or driver-local rows).
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics

STAGE_CLASSES = ("scan", "shuffle", "python")
_PYTHON_OP = re.compile(r"InPandas|Python|InArrow")
#: Stages whose longest task is shorter than this carry no skew worth a
#: ratio: a 3 ms task against a 1 ms median is scheduling noise.
SKEW_MIN_TASK_MS = 100
_MB = 1024 * 1024


def read_events(path: str) -> list[dict]:
    """Events of one application log: a file, or a rolling-log directory
    whose ``events_<n>_*`` parts are read in order."""
    if os.path.isdir(path):
        parts = sorted(glob.glob(os.path.join(path, "events_*")),
                       key=lambda p: int(os.path.basename(p).split("_")[1]))
    else:
        parts = [path]
    events = []
    for part in parts:
        with open(part) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


def app_log(log_dir: str, app_id: str) -> str:
    """The log of application ``app_id`` under ``spark.eventLog.dir``."""
    for name in os.listdir(log_dir):
        if name in (app_id, f"eventlog_v2_{app_id}"):  # single-file or rolling log
            return os.path.join(log_dir, name)
    raise FileNotFoundError(f"no event log for {app_id} in {log_dir}")


def classify_stage(stage_info: dict) -> str:
    scopes = []
    for rdd in stage_info.get("RDD Info", []):
        try:
            scopes.append(json.loads(rdd.get("Scope") or "{}").get("name", ""))
        except ValueError:
            pass
    if any(_PYTHON_OP.search(s) for s in scopes):
        return "python"
    if stage_info.get("Parent IDs"):
        return "shuffle"
    return "scan"


def _empty() -> dict:
    out = {"jobs": 0, "stages": 0, "tasks": 0, "task_s": 0.0, "gc_s": 0.0,
           "shuffle_write_mb": 0.0, "shuffle_read_mb": 0.0, "spill_mb": 0.0,
           "skew_max": 1.0}
    out.update({f"{c}_task_s": 0.0 for c in STAGE_CLASSES})
    return out


def fold(events: list[dict]) -> dict[str, dict]:
    """Job description -> execution totals of the jobs carrying it."""
    stage_desc: dict[int, str] = {}
    stage_class: dict[int, str] = {}
    stage_tasks: dict[int, list[int]] = {}
    out: dict[str, dict] = {}
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            desc = (e.get("Properties") or {}).get("spark.job.description") or ""
            out.setdefault(desc, _empty())["jobs"] += 1
            for sid in e.get("Stage IDs", []):
                stage_desc.setdefault(sid, desc)
            for si in e.get("Stage Infos", []):
                stage_class.setdefault(si["Stage ID"], classify_stage(si))
        elif kind == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            stage_class[si["Stage ID"]] = classify_stage(si)
            if si["Stage ID"] in stage_desc and "Completion Time" in si:
                out[stage_desc[si["Stage ID"]]]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            sid = e["Stage ID"]
            agg = out.get(stage_desc.get(sid, ""))
            m = e.get("Task Metrics")
            if agg is None or not m:
                continue
            run_ms = m.get("Executor Run Time", 0)
            agg["tasks"] += 1
            agg["task_s"] += run_ms / 1000
            agg[f"{stage_class.get(sid, 'scan')}_task_s"] += run_ms / 1000
            agg["gc_s"] += m.get("JVM GC Time", 0) / 1000
            sr = m.get("Shuffle Read Metrics", {})
            agg["shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / _MB
            agg["shuffle_write_mb"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / _MB
            agg["spill_mb"] += m.get("Disk Bytes Spilled", 0) / _MB
            stage_tasks.setdefault(sid, []).append(run_ms)
    for sid, times in stage_tasks.items():
        if len(times) < 2 or max(times) < SKEW_MIN_TASK_MS:
            continue
        ratio = max(times) / max(statistics.median(times), 1)
        agg = out[stage_desc[sid]]
        agg["skew_max"] = max(agg["skew_max"], ratio)
    return out


def total(folded: dict[str, dict], keep) -> dict:
    """Sum the groups whose description satisfies ``keep``; skew is a max."""
    acc = _empty()
    for desc, agg in folded.items():
        if not keep(desc):
            continue
        for k, v in agg.items():
            acc[k] = max(acc[k], v) if k == "skew_max" else acc[k] + v
    return acc
