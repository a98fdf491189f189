"""Population Stability Index drift check between two snapshots of a
numeric column.

The classic schema-validation drift statistic (complements the
detector-based drift stage, validation/engine.py): bin the REFERENCE
snapshot's value range into B fixed-width bins, histogram both
snapshots onto those bins (out-of-range current values clamp to the
edge bins), and report per group

    PSI = sum_b (p_b - q_b) * ln(p_b / q_b)

with proportions clamped at eps so empty bins contribute finitely.
Rule-of-thumb verdicts: < 0.1 stable, 0.1-0.2 drifting, > 0.2 drifted.

100-TB shape: the row-scale input collapses once into the shared
per-(group, distinct value) counts profile (validation/profile.py —
a partial-aggregated hash shuffle that two-sample KS reuses); one
grouped Arrow kernel then bins each group's distinct values and
reduces to PSI (profile.drift_report; bin depends on the value only,
so per-value counts bin exactly like per-row values). The kernel
holds O(distinct values) of one group in one Python worker; nothing
row-scale ever reaches Python.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .profile import drift_report, snapshot_value_counts


def psi_report(
    df: DataFrame,
    is_ref: Column,
    value_col: str = "value",
    group_col: str | list[str] = "event_type",
    n_bins: int = 10,
    threshold: float = 0.2,
) -> DataFrame:
    """Per-group PSI of ``value_col`` between the rows where ``is_ref``
    is true (reference snapshot) and the rest (current snapshot):
    ``n_ref, n_cur, psi, drifted``. ``group_col`` may be a list (e.g.
    [partition, feature])."""
    group_cols = [group_col] if isinstance(group_col, str) else list(group_col)
    per_val = snapshot_value_counts(df, is_ref, value_col, group_cols)
    return drift_report(
        per_val, value_col, group_cols, n_bins=n_bins, threshold=threshold
    ).select(
        *group_cols, "n_ref", "n_cur", "psi",
        F.col("psi_drifted").alias("drifted"),
    )
