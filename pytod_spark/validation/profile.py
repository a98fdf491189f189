"""Shared snapshot profile for the distribution-drift checks, and the
one kernel that turns it into the PSI + two-sample KS report.

Both PSI (validation/psi.py) and two-sample KS (validation/ks.py) are
functions of the same sufficient statistic: the per-(group, distinct
value) row counts of each snapshot.  Computing that profile once and
feeding both checks from it means the row-scale input — at the
validation engine's scale, a scan that includes deriving numeric
features from the raw reference snapshot's content column — crosses
the wire exactly once, as one partial-aggregated hash shuffle whose
output is model-sized (numeric drift features repeat heavily, so the
per-value counts collapse map-side).

:func:`drift_report` then maps the model-sized profile through ONE
grouped Arrow kernel (``groupBy(group).applyInPandas``): each group's
distinct values are sorted, their cumulative ``__r``/``__c`` counts
give the KS statistic, and the same values binned onto the reference
range give PSI. One exchange of the profile, one Python pass, no
windows and no joins — the batched map-then-reduce shape of pytod's
pairwise operators, instead of a chain of SQL windows and broadcast
joins (each a job barrier) over a few thousand rows. Memory bound:
O(distinct values) of one group, in one Python worker — a group holds
distinct values, not rows, so the bound holds at any corpus size as
long as a single (partition, feature) has a driver-sized value domain.
"""

from __future__ import annotations

import math
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

# PSI proportions are clamped at this floor so an empty bin contributes
# finitely
PSI_EPS = 1e-6
# Smirnov's c(0.05), the 3-decimal table value the DuckDB oracles use
KS_C_ALPHA = 1.358

# the report columns after the group columns, in order
DRIFT_FIELDS = [
    StructField("n_ref", LongType()),
    StructField("n_cur", LongType()),
    StructField("psi", DoubleType()),
    StructField("psi_drifted", IntegerType()),
    StructField("ks_d", DoubleType()),
    StructField("ks_crit", DoubleType()),
    StructField("ks_drifted", IntegerType()),
]

_MICRO = Decimal("1e-6")


def c_alpha(alpha: float) -> float:
    """Smirnov's large-sample coefficient c(a) = sqrt(-ln(a/2)/2).
    The default level returns the published 3-decimal table value
    1.358 (what the DuckDB oracles hardcode), not the raw 1.35810."""
    if alpha == 0.05:
        return KS_C_ALPHA
    return math.sqrt(-math.log(alpha / 2.0) / 2.0)


def spark_round6(x: float) -> float:
    """``round(x, 6)`` as Spark rounds a double: HALF_UP on the
    shortest decimal repr. Python's ``round`` is half-even on the
    binary value (0.0078125 -> 0.007812, where Spark and DuckDB give
    0.007813)."""
    return float(Decimal(repr(float(x))).quantize(_MICRO, ROUND_HALF_UP))


def drift_stats(
    v: np.ndarray,
    is_null: np.ndarray,
    r: np.ndarray,
    c: np.ndarray,
    n_bins: int = 10,
    threshold: float = 0.2,
    alpha: float = 0.05,
) -> tuple:
    """PSI and KS of one group's profile: one entry per distinct value
    ``v`` (``is_null`` marks the NULL value) with reference count ``r``
    and current count ``c``. Returns (n_ref, n_cur, psi, psi_drifted,
    ks_d, ks_crit, ks_drifted), rounded as Spark's ``round(x, 6)``.

    * PSI bins the values onto B equal-width bins of the reference
      range (out-of-range current values clamp to the edge bins; a
      constant or empty reference, and the NULL value, land in bin 0)
      and sums (p - q) ln(p / q) over the occupied bins, proportions
      clamped at ``PSI_EPS``.
    * KS is max |F_ref - F_cur| over the pooled values, NULL ordered
      first as in Spark's ascending sort, against
      D_crit = c(alpha) sqrt((n_r + n_c) / (n_r n_c)). A group present
      in only one snapshot is the strongest drift signal: D = 1,
      D_crit NULL, drifted.
    """
    tr, tc = int(r.sum()), int(c.sum())
    real = ~is_null

    # KS: the NULL value first, then ascending values
    o = np.lexsort((v, real))
    cum_r, cum_c = np.cumsum(r[o]), np.cumsum(c[o])
    if tr == 0 or tc == 0:
        ks_d, ks_crit, ks_drifted = 1.0, None, 1
    else:
        d = np.max(np.abs(cum_r / tr - cum_c / tc))
        ks_d = spark_round6(d)
        ks_crit = spark_round6(
            c_alpha(alpha) * math.sqrt(float(tr + tc) / (float(tr) * float(tc)))
        )
        ks_drifted = int(ks_d > ks_crit)

    # PSI on the reference range
    bins = np.zeros(len(v), dtype=np.int64)
    ref = real & (r > 0)
    if ref.any():
        lo, hi = v[ref].min(), v[ref].max()
        if hi != lo:
            raw = np.floor((v[real] - lo) / ((hi - lo) / n_bins))
            bins[real] = np.clip(raw, 0, n_bins - 1).astype(np.int64)
    occupied = np.bincount(bins, minlength=n_bins) > 0
    hr = np.bincount(bins, weights=r, minlength=n_bins)[occupied]
    hc = np.bincount(bins, weights=c, minlength=n_bins)[occupied]
    p = np.maximum(hr / tr, PSI_EPS) if tr else np.full(len(hr), PSI_EPS)
    q = np.maximum(hc / tc, PSI_EPS) if tc else np.full(len(hc), PSI_EPS)
    psi = spark_round6(math.fsum(((p - q) * np.log(p / q)).tolist()))
    return tr, tc, psi, int(psi > threshold), ks_d, ks_crit, ks_drifted


def drift_report(
    per_val: DataFrame,
    value_col: str,
    group_cols: list[str],
    n_bins: int = 10,
    threshold: float = 0.2,
    alpha: float = 0.05,
) -> DataFrame:
    """Per-group PSI and KS from a counts profile (one row per
    (group..., distinct value) with ``__r``/``__c`` counts, as
    :func:`snapshot_value_counts` and
    :func:`combine_with_reference_profile` build it): the group
    columns, then ``n_ref, n_cur, psi, psi_drifted, ks_d, ks_crit,
    ks_drifted`` (:func:`drift_stats`). One ``applyInPandas`` over the
    profile; a group with a NULL key is dropped, as the SQL
    definition's joins drop it."""
    group_cols = list(group_cols)
    schema = StructType(
        [per_val.schema[g] for g in group_cols] + DRIFT_FIELDS
    )
    names = schema.fieldNames()

    def kernel(key, pdf):
        stats = drift_stats(
            pdf["__v"].to_numpy(dtype=np.float64, na_value=np.nan),
            pdf["__null"].to_numpy(dtype=bool),
            pdf["__r"].to_numpy(dtype=np.int64),
            pdf["__c"].to_numpy(dtype=np.int64),
            n_bins, threshold, alpha,
        )
        return pd.DataFrame([[*key, *stats]], columns=names)

    keyed = per_val
    for g in group_cols:
        keyed = keyed.where(F.col(g).isNotNull())
    return (
        keyed.select(
            *group_cols,
            F.col(value_col).cast("double").alias("__v"),
            F.col(value_col).isNull().alias("__null"),
            "__r",
            "__c",
        )
        .groupBy(*group_cols)
        .applyInPandas(kernel, schema)
    )


def snapshot_value_counts(
    df: DataFrame,
    is_ref: Column,
    value_col: str,
    group_cols: list[str],
) -> DataFrame:
    """One row per (group..., distinct value) with per-snapshot counts:
    ``__r`` = rows where ``is_ref`` holds (reference snapshot),
    ``__c`` = the rest (current snapshot)."""
    return df.groupBy(*group_cols, value_col).agg(
        F.sum(F.when(is_ref, 1).otherwise(0)).alias("__r"),
        F.sum(F.when(is_ref, 0).otherwise(1)).alias("__c"),
    )


def feature_stack_expr(feature_cols: list[str]) -> str:
    """``stack()`` expression pivoting wide feature columns into the
    long (feature, value) shape — a map-side Generate, no shuffle."""
    return "stack({}, {}) as (feature, value)".format(
        len(feature_cols),
        ", ".join(f"'{c}', cast({c} as double)" for c in feature_cols),
    )


def build_snapshot_profile(
    snapshot: DataFrame,
    partition_col: str = "lang",
    feature_cols: list[str] | None = None,
) -> DataFrame:
    """The persistable drift profile of ONE corpus snapshot: one row
    per (partition, feature, distinct value) with its row count
    (``__n``).

    This is the sufficient statistic both PSI and two-sample KS need,
    so a validation deployment computes it ONCE per reference snapshot
    (one feature-derivation scan + one partial-aggregated hash
    shuffle, output model-sized) and writes it next to the snapshot.
    Every subsequent validation run then passes it as
    ``ValidationSuite.run(reference_profile=...)`` instead of
    ``reference=...`` — at 10^12 rows, rescanning the frozen reference
    corpus per run is the difference between a bounded-cost check and
    doubling every run's I/O. Built by the CLI ``profile`` subcommand.
    """
    from .features import derive_features

    return stacked_value_counts(
        derive_features(snapshot), partition_col, feature_cols
    )


def stacked_value_counts(
    feats: DataFrame,
    partition_col: str,
    feature_cols: list[str] | None = None,
) -> DataFrame:
    """(partition, feature, value) -> ``__n`` counts over
    already-derived feature columns. The SINGLE definition of a
    counts profile: both the persisted reference profile
    (:func:`build_snapshot_profile`) and the engine's current-run
    counts are built here, so the two sides of the dist-drift check
    cannot desynchronize (the check's correctness contract is that
    the sides aggregate identically)."""
    from .features import FEATURE_COLS

    feature_cols = list(feature_cols or FEATURE_COLS)
    long = feats.selectExpr(partition_col, feature_stack_expr(feature_cols))
    return long.groupBy(partition_col, "feature", "value").agg(
        F.count(F.lit(1)).alias("__n")
    )


PROFILE_COLUMNS = ("feature", "value", "__n")


def combine_with_reference_profile(
    ref_profile: DataFrame,
    cur_counts: DataFrame,
    value_col: str,
    group_cols: list[str],
) -> DataFrame:
    """Zero-filled full-outer merge of a persisted reference profile
    with the current snapshot's counts — produces exactly the
    ``(__r, __c)`` frame :func:`snapshot_value_counts` builds when
    both snapshots are scanned inline, so PSI/KS results are
    identical either way. Join keys include the (deterministically
    derived, parquet-exact) double value; both profiles are
    model-sized, so this join never moves row-scale data."""
    ref = ref_profile.select(
        *group_cols, value_col, F.col("__n").alias("__r")
    )
    cur = cur_counts.select(
        *group_cols, value_col, F.col("__n").alias("__c")
    )
    return ref.join(cur, [*group_cols, value_col], "full_outer").select(
        *group_cols,
        value_col,
        F.coalesce("__r", F.lit(0)).alias("__r"),
        F.coalesce("__c", F.lit(0)).alias("__c"),
    )
