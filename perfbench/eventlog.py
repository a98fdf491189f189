"""Stdlib reader for Spark's JSON event log, folded onto benchmark spans.

Needs the log written uncompressed (``spark.eventLog.compress=false``:
Spark 4 compresses with zstd by default, which the stdlib cannot
read). Both layouts are read: the single ``<app id>`` file and the
rolling ``eventlog_v2_<app id>/events_<n>_<app id>`` directory.

Jobs are attributed to spans by their submission time, not by job
group: the validation engine runs its checks on ``ThreadPoolExecutor``
threads, which do not inherit the caller's ``setJobGroup``. A job
belongs to the innermost span whose interval holds its submission
time; its tasks belong to it through their stage ids.
"""

from __future__ import annotations

import json
import os
import re
from collections import defaultdict

PYTHON_RUN_METRIC = "time to run Python workers"

# (output name, how to read one SparkListenerTaskEnd) — times in s
TASK_FIELDS = {
    "executor_run_s": lambda m, _: m.get("Executor Run Time", 0) / 1e3,
    "executor_cpu_s": lambda m, _: m.get("Executor CPU Time", 0) / 1e9,
    "deserialize_s": lambda m, _: m.get("Executor Deserialize Time", 0) / 1e3,
    "gc_s": lambda m, _: m.get("JVM GC Time", 0) / 1e3,
    "shuffle_write_bytes": lambda m, _: m.get("Shuffle Write Metrics", {}).get(
        "Shuffle Bytes Written", 0),
    "spill_bytes": lambda m, _: m.get("Disk Bytes Spilled", 0),
    "input_bytes": lambda m, _: m.get("Input Metrics", {}).get("Bytes Read", 0),
    "python_s": lambda _, accs: accs.get(PYTHON_RUN_METRIC, 0.0) / 1e3,
}


def event_files(log_dir: str) -> list[str]:
    """Event files under ``log_dir`` in write order."""
    out = []
    for entry in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, entry)
        if os.path.isdir(path) and entry.startswith("eventlog_v2_"):
            parts = [f for f in os.listdir(path) if f.startswith("events_")]
            parts.sort(key=lambda f: int(re.match(r"events_(\d+)_", f).group(1)))
            out.extend(os.path.join(path, f) for f in parts)
        elif os.path.isfile(path) and not entry.startswith("."):
            out.append(path)
    return out


def read_jobs(log_dir: str) -> list[dict]:
    """One dict per job: id, submit/end (epoch ms), tasks and the
    summed ``TASK_FIELDS`` of its tasks."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for path in event_files(log_dir):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    jobs[jid] = {
                        "id": jid, "submit_ms": ev["Submission Time"],
                        "end_ms": None, "tasks": 0,
                        **{f: 0 for f in TASK_FIELDS},
                    }
                    # a stage belongs to the job that created it; later
                    # jobs list it again only as a skipped dependency
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end_ms"] = ev["Completion Time"]
                elif kind == "SparkListenerTaskEnd":
                    job = jobs.get(stage_job.get(ev.get("Stage ID")))
                    if job is None:
                        continue
                    metrics = ev.get("Task Metrics") or {}
                    accs: dict[str, float] = defaultdict(float)
                    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                        try:
                            accs[acc.get("Name")] += float(acc.get("Update", 0))
                        except (TypeError, ValueError):
                            pass
                    job["tasks"] += 1
                    for name, read in TASK_FIELDS.items():
                        job[name] += read(metrics, accs)
    return sorted(jobs.values(), key=lambda j: j["id"])


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def fold(spans: list[dict], jobs: list[dict]) -> dict[int, dict]:
    """Per span id: jobs, tasks and ``TASK_FIELDS`` over the span and
    its children, plus its driver gap and self time.

    ``driver_gap_s`` is the span's wall time not covered by any of its
    jobs (analysis, planning, py4j, driver collects, file commits);
    ``self_s`` is its wall time not covered by child spans."""
    by_id = {s["id"]: s for s in spans}
    own: dict[int, list[dict]] = defaultdict(list)
    for job in jobs:
        home = None
        for s in spans:
            if s["start_ms"] <= job["submit_ms"] <= s["end_ms"]:
                if home is None or s["start_ms"] >= home["start_ms"]:
                    home = s
        if home is not None:
            own[home["id"]].append(job)
    # jobs of a span and all of its descendants
    inclusive: dict[int, list[dict]] = defaultdict(list)
    for sid, js in own.items():
        cur = sid
        while cur is not None:
            inclusive[cur].extend(js)
            cur = by_id[cur]["parent"]
    child_ms: dict[int, float] = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child_ms[s["parent"]] += s["end_ms"] - s["start_ms"]
    out = {}
    for s in spans:
        js = inclusive.get(s["id"], [])
        wall = s["end_ms"] - s["start_ms"]
        covered = _union_ms([
            (max(j["submit_ms"], s["start_ms"]),
             min(j["end_ms"] or s["end_ms"], s["end_ms"]))
            for j in js
        ])
        row = {"jobs": len(js), "tasks": sum(j["tasks"] for j in js)}
        for name in TASK_FIELDS:
            row[name] = sum(j[name] for j in js)
        row["driver_gap_s"] = max(0.0, wall - covered) / 1e3
        row["self_s"] = max(0.0, wall - child_ms[s["id"]]) / 1e3
        out[s["id"]] = row
    return out
