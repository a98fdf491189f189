"""In-process spans, the /proc memory sampler and the host stamp.

Spans are kept in memory while the benchmark runs and written out once
at the end, so recording them costs a ``time.time()`` pair per call.
Each span carries a name, its layer, start and end (epoch ms, the
clock Spark's event log uses), its parent span and the run id of the
iteration it belongs to (``setup`` for set-up spans).
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager


class Spans:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, layer: str, run: str):
        rec = {
            "id": len(self.spans),
            "name": name,
            "layer": layer,
            "run": run,
            "parent": self._stack[-1] if self._stack else None,
            "start_ms": time.time() * 1000.0,
            "end_ms": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end_ms"] = time.time() * 1000.0

    @staticmethod
    def seconds(rec: dict) -> float:
        return (rec["end_ms"] - rec["start_ms"]) / 1000.0


def descendants(root: int) -> list[int]:
    """Every live process below ``root`` (the JVM, its Python daemon
    and workers), read from /proc/<pid>/task/<tid>/children."""
    out: list[int] = []
    todo = [root]
    while todo:
        pid = todo.pop()
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/children") as fh:
                    kids = [int(k) for k in fh.read().split()]
            except OSError:
                continue
            out.extend(kids)
            todo.extend(kids)
    return out


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, with each page shared by
    k processes counted 1/k times. Python workers are forked from one
    daemon and share most of their pages with it, so summing plain RSS
    would count those pages once per worker."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass
    return 0


class RssSampler:
    """Polls the summed resident memory (PSS) of this process's
    descendants (the Spark JVM and its Python workers; the benchmark's
    own interpreter is not counted) and keeps the peak."""

    def __init__(self, interval_s: float = 0.2) -> None:
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            total = sum(_pss_bytes(p) for p in descendants(me))
            self.peak_bytes = max(self.peak_bytes, total)
            self._stop.wait(self.interval_s)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        return self.peak_bytes / (1024 * 1024)


def host_stamp() -> dict:
    import pyspark

    mem_kb = 0
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_mb": mem_kb // 1024,
        "pyspark": pyspark.__version__,
    }
