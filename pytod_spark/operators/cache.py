"""Tracked persist handles.

Operators that persist a multi-consumer subtree (ECOD's ranked base,
MinHash's shingle frame) register the handle here so long-lived
sessions — the bench harness, the validation engine, a notebook — can
release executor memory/disk between queries instead of waiting for
LRU eviction pressure. The returned DataFrames stay lazy, so the
operator itself cannot unpersist (the final action happens at the
caller); tracking the handle is the contract instead.

Ownership: the registry holds strong references on purpose — a weak
reference would let the Python handle die while the JVM cache block
lives on, making it unreleasable from here. Library consumers that
never call ``release_all()`` get exactly Spark's default behavior
(LRU eviction under executor memory pressure) plus an O(#persists)
list of driver-side handles; long-lived sessions (bench harness,
validation engine, notebooks) call ``release_all()`` between units of
work, which is what keeps the registry bounded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_HANDLES: list[DataFrame] = []


def track(df: DataFrame) -> DataFrame:
    """Register a persisted DataFrame for later release; returns it."""
    _HANDLES.append(df)
    return df


def release_all() -> int:
    """Unpersist every tracked handle (blocking=False); returns count."""
    n = 0
    while _HANDLES:
        df = _HANDLES.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:
            pass
    return n


def cut_lineage(df: DataFrame) -> DataFrame:
    """Eagerly checkpoint ``df``: reliable when the session has a
    checkpoint dir, executor-local otherwise. The choice is made up
    front, so a compute error inside ``df`` propagates once instead of
    being mistaken for a missing checkpoint dir and re-run."""
    if df.sparkSession.sparkContext.getCheckpointDir():
        return df.checkpoint()
    return df.localCheckpoint()
