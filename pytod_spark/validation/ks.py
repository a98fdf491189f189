"""Two-sample Kolmogorov-Smirnov drift check between two snapshots of
a numeric column.

The distribution-free companion to the PSI check (validation/psi.py):
D = max_x |F_ref(x) - F_cur(x)| over the pooled support, with the
standard large-sample significance bound
D_crit = c(alpha) * sqrt((n_r + n_c) / (n_r * n_c)), c(0.05) = 1.358.

100-TB shape: pre-aggregate to one row per (group, distinct value)
with per-side counts (the shared snapshot profile,
validation/profile.py — PSI reads the same frame), then one grouped
Arrow kernel per group sorts the distinct values and takes the
cumulative counts (profile.drift_report). The kernel holds
O(distinct values) of one group in one Python worker; nothing
row-scale reaches Python.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .profile import drift_report, snapshot_value_counts


def ks_report(
    df: DataFrame,
    is_ref: Column,
    value_col: str = "value",
    group_col: str | list[str] = "event_type",
    alpha: float = 0.05,
) -> DataFrame:
    """Per-group two-sample KS statistic between the rows where
    ``is_ref`` is true and the rest, with an ``alpha``-level drift
    verdict: ``n_ref, n_cur, ks_d, ks_crit, drifted``. ``group_col``
    may be a list (e.g. [partition, feature]). Callers testing many
    (group, feature) cells and AND-ing the verdicts into one pass/fail
    should Bonferroni-correct (pass alpha/#cells-per-verdict) — the
    engine does (engine.py _job_dist_drift)."""
    group_cols = [group_col] if isinstance(group_col, str) else list(group_col)
    per_val = snapshot_value_counts(df, is_ref, value_col, group_cols)
    return drift_report(per_val, value_col, group_cols, alpha=alpha).select(
        *group_cols, "n_ref", "n_cur", "ks_d", "ks_crit",
        F.col("ks_drifted").alias("drifted"),
    )
