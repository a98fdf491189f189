"""Shared artifact IO for the engine and the report reader.

Stage-A outputs are hive-partitioned by the suite's partition column.
Two round-trip hazards live here, so every consumer must go through
these helpers instead of raw ``spark.read.parquet``:

* a partitioned write whose frame was EMPTY (the healthy
  zero-violation case) emits only _SUCCESS — reading it back dies on
  schema inference, so presence is checked with ``has_parquet``;
* Spark's partition-column type inference rewrites numeric-looking
  partition values on read (a lang dir ``lang=007`` comes back as
  int 7), which silently breaks every string comparison against the
  verdict/marker keys the engine wrote. ``read_string_partitioned``
  disables inference for the read so partition values round-trip as
  the exact strings the engine persisted.

Model-sized outputs (one row per partition, or per partition and
feature) skip Spark's write path altogether: ``collect_partitioned``
collects the frame once and writes each partition's rows from the
driver with pyarrow into the same hive layout, under the directory
name Spark's own writer would use (``escape_path_name``).
"""

from __future__ import annotations

import os
import threading
from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession

_INFER_CONF = "spark.sql.sources.partitionColumnTypeInference.enabled"

# the characters Spark's ExternalCatalogUtils.escapePathName %-escapes
# in hive partition dir names (non-Windows): ASCII controls and these
_ESCAPED = frozenset(
    [chr(i) for i in range(1, 0x20)]
    + list('"#%\'*/:=?\\\x7f{[]^')
)
# the dir value Spark writes for a NULL or empty partition value
HIVE_DEFAULT_PARTITION = "__HIVE_DEFAULT_PARTITION__"

# The inference toggle below is a SESSION-GLOBAL conf flip: a second
# thread reading parquet while the flag is down would get inference
# disabled for an unrelated frame (or race the restore and leak the
# conf). The engine runs stage-A checks on concurrent driver threads,
# so every toggled read serializes through this lock — toggle + read +
# restore is one critical section (the read's partition discovery is
# eager, so the lock is held only for the listing, not the query).
_INFER_LOCK = threading.Lock()


def has_parquet(path: str) -> bool:
    """True when ``path`` holds at least one parquet data file."""
    for _root, _dirs, files in os.walk(path):
        if any(f.endswith(".parquet") for f in files):
            return True
    return False


def escape_path_name(name: str) -> str:
    """A hive dir name component exactly as Spark writes it.
    ``urllib.parse.quote`` escapes a different set (it escapes spaces
    and leaves ``=`` alone, for instance), so it cannot stand in."""
    return "".join(f"%{ord(ch):02X}" if ch in _ESCAPED else ch for ch in name)


def hive_dir(pcol: str, value) -> str:
    """``<pcol>=<value>`` as ``df.write.partitionBy(pcol)`` names it."""
    text = "" if value is None else str(value)
    return f"{escape_path_name(pcol)}={escape_path_name(text) or HIVE_DEFAULT_PARTITION}"


def collect_partitioned(df: DataFrame, path: str, pcol: str) -> list:
    """Collect a model-sized frame ONCE and write it to ``path`` from
    the driver, partitioned by ``pcol`` in Spark's hive layout: one
    ``part-00000.parquet`` per partition value, its Arrow schema taken
    from the frame's Spark schema. Each file is written to a hidden
    temp name (which neither Spark nor ``has_parquet`` reads) and then
    ``os.replace``d, so a crash leaves a partition's old file or its
    new one, never a torn one. Returns the collected rows, for the
    caller's summary. One collect replaces a shuffle, a Spark write
    job and its commit, whose latency dwarfs a few hundred rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    rows = df.collect()
    schema = to_arrow_schema(df.schema)
    file_schema = schema.remove(schema.get_field_index(pcol))
    by_part: dict = {}
    for r in rows:
        by_part.setdefault(r[pcol], []).append(r.asDict())
    os.makedirs(path, exist_ok=True)
    for value, part_rows in by_part.items():
        d = os.path.join(path, hive_dir(pcol, value))
        os.makedirs(d, exist_ok=True)
        final = os.path.join(d, "part-00000.parquet")
        tmp = os.path.join(d, ".part-00000.parquet.tmp")
        pq.write_table(pa.Table.from_pylist(part_rows, schema=file_schema), tmp)
        os.replace(tmp, final)
    return rows


def rows_by_partition(
    path: str, pcol: str, parts: Iterable[str] | None = None
) -> dict[str, int]:
    """Row count per partition value (all, or only ``parts``) of a
    hive-partitioned parquet artifact, summed from the parquet footers
    on the driver (no Spark job). A partition with no dir counts 0.
    Spark %-escapes special characters in the dir names."""
    import pyarrow.parquet as pq
    from urllib.parse import unquote

    pref = f"{pcol}="
    want = None if parts is None else {str(p) for p in parts}
    out: dict[str, int] = dict.fromkeys(want or (), 0)
    if not os.path.isdir(path):
        return out
    for d in os.listdir(path):
        if not d.startswith(pref):
            continue
        value = unquote(d[len(pref):])
        if want is not None and value not in want:
            continue
        n = 0
        for root, _dirs, files in os.walk(os.path.join(path, d)):
            n += sum(
                pq.read_metadata(os.path.join(root, f)).num_rows
                for f in files
                if f.endswith(".parquet")
            )
        out[value] = n
    return out


def read_string_partitioned(spark: SparkSession, path: str) -> DataFrame:
    """Read a hive-partitioned artifact with partition-type inference
    off, so partition values stay the strings the writer used.
    Partition discovery happens eagerly inside ``read.parquet``, so
    toggling the session conf around the call is sufficient; the
    prior value is always restored. Thread-safe: the session-global
    toggle is serialized through ``_INFER_LOCK`` (see its comment)."""
    with _INFER_LOCK:
        try:
            old = spark.conf.get(_INFER_CONF)
        except Exception:
            old = None
        spark.conf.set(_INFER_CONF, "false")
        try:
            return spark.read.parquet(path)
        finally:
            if old is None:
                spark.conf.unset(_INFER_CONF)
            else:
                spark.conf.set(_INFER_CONF, old)
