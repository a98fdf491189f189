"""Self-test of the benchmark's tracing layer.

    python3 perfbench/selftest.py

Run from the root of a checkout. First the event-log fold is checked
on a hand-made log (jobs land in the innermost span that holds their
submission time; driver gap and self time add up). Then every workload
runs once at the tiny (sf0.001-sized) scale with ``--trace 1``, and the
test asserts that its result is correct and that every operation span
got at least one Spark job from the real event log.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from eventlog import fold, read_jobs  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def check_fold() -> None:
    def task(stage, run_ms, py_ms):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Task Metrics": {"Executor Run Time": run_ms, "JVM GC Time": 1},
                "Task Info": {"Accumulables": [
                    {"Name": "time to run Python workers", "Update": py_ms}]}}

    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0,
         "Submission Time": 1_100, "Stage IDs": [0]},
        task(0, 300, 200),
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1_400},
        # job 1 lists stage 0 again as a skipped dependency
        {"Event": "SparkListenerJobStart", "Job ID": 1,
         "Submission Time": 1_600, "Stage IDs": [0, 1]},
        task(1, 100, 0),
        task(1, 100, 0),
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 1_800},
    ]
    with tempfile.TemporaryDirectory(dir=".") as d:
        with open(os.path.join(d, "local-1"), "w") as fh:
            fh.writelines(json.dumps(e) + "\n" for e in events)
        jobs = read_jobs(d)
    spans = [
        {"id": 0, "parent": None, "start_ms": 1_000, "end_ms": 2_000},
        {"id": 1, "parent": 0, "start_ms": 1_500, "end_ms": 1_900},
    ]
    got = fold(spans, jobs)
    assert got[1]["jobs"] == 1 and got[1]["tasks"] == 2, got[1]
    assert got[0]["jobs"] == 2 and got[0]["tasks"] == 3, got[0]
    assert abs(got[0]["executor_run_s"] - 0.5) < 1e-9, got[0]
    assert abs(got[0]["python_s"] - 0.2) < 1e-9, got[0]
    # span 0: 1000 ms wall, jobs cover 300 + 200 ms
    assert abs(got[0]["driver_gap_s"] - 0.5) < 1e-9, got[0]
    assert abs(got[0]["self_s"] - 0.6) < 1e-9, got[0]
    assert abs(got[1]["driver_gap_s"] - 0.2) < 1e-9, got[1]


def check_workload(name: str) -> None:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", name,
         "--seed", "1", "--seconds", "1", "--trace", "1", "--scale", "tiny"],
        capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.splitlines()[-1])
    assert result["correct"] and result["failed"] == 0, proc.stdout[-3000:]
    with open(os.path.join(".perfbench_out", f"{name}-trace.json")) as fh:
        trace = json.load(fh)
    ops = [s for s in trace["spans"]
           if s["run"] != "setup" and s["name"] != "iteration"]
    assert ops, "no operation spans"
    for s in ops:
        assert trace["span_spark"][str(s["id"])]["jobs"] >= 1, \
            f"{name}: span {s['run']} {s['name']} got no Spark job"
    print(f"{name}: {len(ops)} operation spans, all with jobs; "
          f"{len(result['metrics'])} per-layer metrics")


def main() -> int:
    check_fold()
    print("event-log fold: ok")
    for name in WORKLOADS:
        check_workload(name)
    return 0


if __name__ == "__main__":
    sys.exit(main())
