"""Uniqueness, referential-integrity, and declarative row-constraint
checks -> violation rows + per-partition summaries (north_rule:
uniqueness on (repo, path, commit); RI repo -> commit; arbitrary
user-declared row predicates as the extensible constraint surface).

Shapes chosen for skew survival: uniqueness is a partial-aggregating
groupBy on the key (map-side combine absorbs the giant-repo key
space); RI is a left-anti join that broadcasts automatically when the
parent fits (commit dimension per repo is small), else sort-merge
with AQE skew splitting; row constraints are pure Catalyst
expressions evaluated in one map-only pass (the summary is one
partial-aggregating groupBy, model-sized output)."""

from __future__ import annotations

import re
from collections.abc import Iterable
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_CONSTRAINT_NAME_RE = re.compile(r"^[A-Za-z0-9_.-]+$")


@dataclass(frozen=True)
class RowConstraint:
    """One declarative row-level data-quality rule.

    ``predicate`` is an ANSI-SQL boolean expression over the frame's
    columns; a row PASSES only when it evaluates to TRUE — FALSE *and*
    NULL both count as violations (null-hostile, so ``length(path) <
    4096`` cannot silently wave through a NULL path). A partition
    fails the constraint when its violation rate exceeds
    ``max_violation_rate`` (default 0: any violating row fails it).

    Pure-SQL predicates keep the whole check inside whole-stage
    codegen — no Python boundary — and make the rule portable to any
    engine (the DuckDB oracle runs the same string verbatim).
    """

    name: str
    predicate: str
    max_violation_rate: float = 0.0

    def __post_init__(self):
        if not _CONSTRAINT_NAME_RE.match(self.name):
            raise ValueError(
                f"constraint name {self.name!r} must match "
                "[A-Za-z0-9_.-]+ (it names output files and columns)"
            )
        if not (0.0 <= self.max_violation_rate < 1.0):
            raise ValueError(
                f"constraint {self.name}: max_violation_rate must be in "
                f"[0, 1), got {self.max_violation_rate}"
            )
        if not self.predicate or not self.predicate.strip():
            raise ValueError(f"constraint {self.name}: empty predicate")
        # SQL parse/resolution errors surface in validate_constraints
        # (the engine's zero-job analysis gate): F.expr needs a live
        # session, and RowConstraint must stay constructible pre-JVM
        # (the CLI builds the rules at argparse time)

    def passes(self):
        """Catalyst column: TRUE iff the row satisfies the predicate
        (NULL-safe — NULL collapses to a violation)."""
        return F.expr(self.predicate).eqNullSafe(F.lit(True))


def _check_constraints(constraints: Iterable[RowConstraint]) -> list[RowConstraint]:
    cs = list(constraints)
    if not cs:
        raise ValueError("at least one RowConstraint is required")
    names = [c.name for c in cs]
    dupes = {n for n in names if names.count(n) > 1}
    if dupes:
        raise ValueError(f"duplicate constraint name(s): {sorted(dupes)}")
    return cs


def validate_constraints(df: DataFrame, constraints: Iterable[RowConstraint]) -> None:
    """Zero-job analysis gate: parse + resolve every predicate against
    the frame's schema so a typo'd column or malformed SQL fails
    BEFORE any work runs (DataFrame analysis is eager in PySpark —
    ``df.select`` raises AnalysisException without launching a job).
    The resolved type must be boolean: Spark happily resolves
    ``length(path)`` as a predicate, and eqNullSafe(TRUE) on a
    non-boolean would just mark every row violating."""
    from pyspark.sql.types import BooleanType

    for c in _check_constraints(constraints):
        try:
            probe = df.select(F.expr(c.predicate).alias("__p"))
        except Exception as exc:
            raise ValueError(
                f"constraint {c.name}: predicate {c.predicate!r} does not "
                f"parse/resolve against columns {df.columns}: {exc}"
            ) from exc
        dtype = probe.schema["__p"].dataType
        if not isinstance(dtype, BooleanType):
            raise ValueError(
                f"constraint {c.name}: predicate {c.predicate!r} resolves "
                f"to {dtype.simpleString()}, expected boolean"
            )


def failed_constraints_col(constraints: Iterable[RowConstraint]):
    """Catalyst column: sorted array of the rule names the row broke
    (empty array = clean row). The single shared definition of the
    tagging semantics — the batch violations pass and the streaming
    ingest gate both use it, so they cannot silently diverge."""
    return F.array_sort(
        F.array_compact(
            F.array(
                *[F.when(~c.passes(), F.lit(c.name)) for c in constraints]
            )
        )
    )


def _guard_reserved_tag(df: DataFrame) -> None:
    if "failed_constraints" in df.columns:
        raise ValueError(
            "input frame already has a failed_constraints column — the "
            "constraint tagger would clobber it; drop or rename it "
            "first (e.g. when re-checking a previously quarantined "
            "table against new rules)"
        )


def row_constraint_violations(
    df: DataFrame,
    constraints: Iterable[RowConstraint],
    keep_cols: Iterable[str] | None = None,
) -> DataFrame:
    """Rows violating >= 1 constraint: ``keep_cols`` +
    ``failed_constraints`` (sorted array of the rule names the row
    broke). One map-only pass — every predicate is a Catalyst
    expression evaluated in the same whole-stage-codegen span; no
    shuffle, no explode (a row with k failures is ONE output row, so
    output size is bounded by the violating-row count, not
    rows x constraints)."""
    cs = _check_constraints(constraints)
    _guard_reserved_tag(df)
    out_cols = list(keep_cols) if keep_cols is not None else list(df.columns)
    return (
        df.withColumn("failed_constraints", failed_constraints_col(cs))
        .where(F.size("failed_constraints") > 0)
        .select(*out_cols, "failed_constraints")
    )


def row_constraint_summary(
    df: DataFrame,
    constraints: Iterable[RowConstraint],
    group_cols: Iterable[str] = (),
) -> DataFrame:
    """Long-format per-(group, constraint) report: ``n_rows``,
    ``n_violations``, ``violation_rate``, ``passed`` (rate <= the
    rule's max_violation_rate). One partial-aggregating groupBy — each
    input split collapses map-side to |groups| rows carrying one
    counter per constraint, then a model-sized shuffle; the wide->long
    stack afterwards runs on |groups| rows only."""
    cs = _check_constraints(constraints)
    group_cols = list(group_cols)
    aggs = [F.count(F.lit(1)).alias("__n")] + [
        F.sum((~c.passes()).cast("long")).alias(f"__v{i}")
        for i, c in enumerate(cs)
    ]
    wide = df.groupBy(*group_cols).agg(*aggs) if group_cols else df.groupBy().agg(*aggs)
    reports = F.array(
        *[
            F.struct(
                F.lit(c.name).alias("constraint"),
                F.col("__n").alias("n_rows"),
                F.col(f"__v{i}").alias("n_violations"),
                F.try_divide(F.col(f"__v{i}"), F.col("__n")).alias("violation_rate"),
                (
                    F.coalesce(
                        F.try_divide(F.col(f"__v{i}"), F.col("__n")), F.lit(0.0)
                    )
                    <= F.lit(c.max_violation_rate)
                ).alias("passed"),
            )
            for i, c in enumerate(cs)
        ]
    )
    return (
        wide.select(*group_cols, F.explode(reports).alias("__r"))
        .select(*group_cols, "__r.*")
    )


def uniqueness_violations(
    df: DataFrame,
    keys: Iterable[str],
    group_cols: Iterable[str] = (),
    hash_prefilter: bool = True,
) -> DataFrame:
    """Rows of duplicated business keys: key columns + n_copies (> 1).

    ``hash_prefilter=True`` (default) shuffles an 8-byte xxhash64 of
    the key instead of the full key tuple to find *candidate*
    duplicate hashes, then re-checks exactly on the (tiny) matching
    subset via a broadcast semi-join — same result set (hash
    collisions are eliminated by the exact re-check), ~10x less
    shuffle volume on wide string keys. This is the plan that
    matters at 10^12 rows, where the key tuple dominates the
    shuffle. Falls back to the single exact groupBy when disabled."""
    keys = list(keys)
    group_cols = [c for c in group_cols if c not in keys]
    exact = (
        lambda frame: frame.groupBy(*group_cols, *keys)
        .agg(F.count(F.lit(1)).alias("n_copies"))
        .where(F.col("n_copies") > 1)
    )
    if not hash_prefilter:
        return exact(df)
    h = F.xxhash64(*group_cols, *keys).alias("__kh")
    cand = (
        df.select(h)
        .groupBy("__kh")
        .count()
        .where(F.col("count") > 1)
        .select("__kh")
    )
    # no explicit broadcast hint: the candidate set scales with the
    # number of duplicated keys (a dup-heavy corpus at 10^12 rows makes
    # it billions of hashes), so a forced broadcast would OOM the
    # driver. AQE upgrades the semi-join to broadcast at runtime
    # whenever the candidate side is actually small.
    suspects = df.withColumn("__kh", F.xxhash64(*group_cols, *keys)).join(
        cand, on="__kh", how="left_semi"
    )
    return exact(suspects)


def ri_violations(
    child: DataFrame, parent: DataFrame, keys: Iterable[str],
    child_cols: Iterable[str] = (),
) -> DataFrame:
    """Child rows whose key has no parent (left-anti join)."""
    keys = list(keys)
    out_cols = list(child_cols) or child.columns
    return child.join(parent.select(*keys).distinct(), on=keys, how="left_anti").select(
        *out_cols
    )
