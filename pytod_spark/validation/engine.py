"""ValidationSuite: the end-to-end engine of the north_rule.

Composes, over an input corpus table (repo, path, commit, lang,
content):

  schema gate (driver-side metadata, zero jobs — validation/schema.py):
    contract columns present with contract types, else fail fast
  stage A (resumable per partition, idempotent writes):
    features -> per-partition column stats -> uniqueness violations ->
    referential-integrity violations -> declarative row-constraint
    violations (user RowConstraint predicates, validation/
    constraints.py) -> drift scores (pytod-parity detector per
    partition)
  stage B (cheap, recomputed every run from the completion markers):
    merged KLL score sketch -> global score threshold -> drift
    violations/labels -> per-partition pass/fail verdicts + metrics

Scale/skew posture:
* every check is a single grouped aggregation / anti-join — partial
  aggregation absorbs the giant-repo key skew, AQE splits skewed
  joins;
* the feature stage is map-only over Spark's size-balanced file
  splits (no pre-shuffle of the wide content column); key skew is
  absorbed where keys are actually grouped — hash-assigned blocks in
  the kNN tile plan, partial aggregation + AQE skew join in the SQL
  checks (salted/spread execution per north_rule);
* the checks (stats, uniqueness, RI, row constraints, drift,
  dist-drift, fingerprint) are independent given the cached feature
  frame and run as concurrent driver jobs (standard multi-job
  scheduler pattern): plan/commit overheads overlap, the executor
  pool stays saturated, and each check computes its own per-partition
  summary from the in-memory frame it is about to write. The checks
  start without waiting for the feature frame to be materialized: the
  first job to reach a partition caches it while the others plan;
* stage-A outputs are written with dynamic partition overwrite
  (partitionBy(partition_col) + mode=overwrite), so re-running a
  partition after a crash replaces, never duplicates — this is what
  makes resume idempotent;
* resume skips partitions with completion markers
  (<run_dir>/markers/<partition>.json, replaced atomically) — kill
  the job mid-run, rerun, and only unfinished partitions recompute.
  Each marker holds the partition's stage-A summary: verdict counts,
  constraint violation rates and a KLL sketch of its drift scores.
  Stage B, on fresh, resumed and incremental runs alike, reads the
  markers, merges the sketches into the global threshold on the
  driver (no Spark job) and rewrites drift_violations in one pruned
  pass over drift_scores (in the drift thread when every partition
  is pending, overlapped with the other checks);
* incremental revalidation (run_incremental): markers also record a
  per-partition content fingerprint (xor of row hashes + count), so
  a nightly re-run recomputes only partitions whose data changed —
  named explicitly via changed_partitions (free from an Iceberg
  snapshot diff) or detected by one map+agg fingerprint scan. Stale
  partitions are surgically invalidated (marker + hive dirs across
  every stage-A output), then the normal resume machinery takes over.

The drift stage defaults to HBOS (broadcast histogram model +
map-side Arrow scoring — KB-scale shuffles at any input size); every
other detector from pytod_spark.detectors can be plugged in.
Per-partition scores are median/MAD-normalized before the one global
sketch-quantile threshold, so flags concentrate in the partition that
actually drifted (a drifted partition inflates its own sigma and
masks itself under plain mu/sigma standardization). Note ECOD
reproduces the reference's argsort permutation quirk (scores land on
rank positions, not rows) — parity-faithful but not row-attributable,
hence not the engine default.
"""

from __future__ import annotations

import base64
import json
import logging
import os
import shutil
import time
from collections.abc import Iterable
from concurrent.futures import ThreadPoolExecutor, as_completed
from contextlib import contextmanager

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..detectors import ALL_DETECTORS
from .constraints import (
    RowConstraint,
    ri_violations,
    row_constraint_summary,
    row_constraint_violations,
    uniqueness_violations,
    validate_constraints,
)
from .features import FEATURE_COLS, derive_features
from .io import has_parquet, read_string_partitioned, rows_by_partition

log = logging.getLogger(__name__)

# every stage-A artifact that is partitioned by partition_col — the
# set an incremental run must clear per stale partition (dynamic
# partition overwrite alone leaves old violation files behind when the
# re-run produces ZERO violations for the partition)
_STAGE_A_OUTPUTS = (
    "stats",
    "uniqueness_violations",
    "ri_violations",
    "drift_scores",
    "drift_violations",
    "dist_drift",
    "constraint_violations",
    "constraint_summary",
)

# KLL sketch size for the drift scores. A sketch holds its first k
# items exactly: up to k scored rows the merged threshold is the exact
# rank quantile (= percentile_approx at accuracy 10000) whatever the
# merge order. Above k it compacts with a random coin, so fresh and
# incremental runs over one snapshot may differ by the rank error
# (gated <= 1e-3 at 2M rows). Measured: k=4000 over 5 005 rows gave
# 2-3 distinct merged p90s across merge orders, k=8192 one.
KLL_K = 8192


def score_sketch(col: str) -> Column:
    """Aggregate: the KLL sketch of one partition's drift scores."""
    return F.kll_sketch_agg_double(col, F.lit(KLL_K))


def merged_quantile(
    spark: SparkSession, sketches: Iterable[str | None], q: float
) -> float | None:
    """Quantile ``q`` of the union of base64 KLL double sketches (one
    per partition); None when there is no sketch to merge (no scored
    rows anywhere). The sketches become literals merged pairwise in a
    balanced tree over a one-row local relation, so the optimizer
    folds the whole expression on the driver — no Spark job."""
    cols = [F.lit(base64.b64decode(s)) for s in sketches if s]
    if not cols:
        return None
    while len(cols) > 1:
        cols = [
            F.kll_sketch_merge_double(*cols[i:i + 2]) if i + 1 < len(cols)
            else cols[i]
            for i in range(0, len(cols), 2)
        ]
    one_row = spark.sql("SELECT * FROM VALUES (1) AS t(one)")
    return one_row.select(
        F.kll_sketch_get_quantile_double(cols[0], F.lit(q))
    ).collect()[0][0]


@contextmanager
def job_group(spark: SparkSession, group_id: str, description: str):
    """Tag every job this thread submits with ``group_id``; the
    thread's previous group, description and cancel flag are restored
    afterwards."""
    sc = spark.sparkContext
    keys = ("spark.jobGroup.id", "spark.job.description",
            "spark.job.interruptOnCancel")
    prev = {k: sc.getLocalProperty(k) for k in keys}
    sc.setJobGroup(group_id, description)
    try:
        yield
    finally:
        for k, v in prev.items():
            sc.setLocalProperty(k, v)


def partition_fingerprints(df: DataFrame, pcol: str, key_cols: list[str]) -> DataFrame:
    """Order-independent per-partition content fingerprint: xor of
    per-row hashes over (key columns, content sha256) plus the row
    count. One map + tiny grouped agg — partial aggregation collapses
    each input split to |partitions| rows before the shuffle, so the
    scan is bandwidth-bound and ~10x cheaper than the full check
    suite it lets an incremental run skip. xor is commutative (file
    order within a partition doesn't matter) but blind to changes in
    identical-row PAIRS (h^h = 0 both before and after), so a decimal
    SUM of the same hashes rides along: a pair contributes 2h vs 2h',
    which the sum sees. decimal(28,0) inputs make the accumulator
    decimal(38,0) — exact (no float rounding, no long wraparound /
    ANSI overflow) up to ~10^19 rows per partition."""
    if "content_sha256" in df.columns:
        sha = F.col("content_sha256")
    else:
        # must match derive_features' invariant exactly
        sha = F.sha2(F.coalesce(F.col("content"), F.lit("")), 256)
    row_h = F.xxhash64(*[F.col(c) for c in key_cols], sha)
    return df.groupBy(pcol).agg(
        F.bit_xor(row_h).alias("fp"),
        F.count(F.lit(1)).alias("fp_n"),
        F.sum(row_h.cast("decimal(28,0)")).cast("string").alias("fp_sum"),
    )


class ValidationSuite:
    def __init__(
        self,
        key_cols: Iterable[str] = ("repo", "path", "commit"),
        partition_col: str = "lang",
        detector: str = "hbos",
        detector_params: dict | None = None,
        contamination: float = 0.1,
        max_outlier_rate: float | None = None,
        n_salt: int = 16,
        schema_contract: dict | None = None,
        constraints: Iterable[RowConstraint] | None = None,
    ):
        # None -> derive the contract from key/partition columns +
        # content (all strings per the corpus table shape); pass {} to
        # disable the gate, or a full {col: simpleString} mapping.
        if schema_contract is None:
            schema_contract = {
                c: "string"
                for c in (*key_cols, partition_col, "content")
            }
        self.schema_contract = schema_contract
        self.key_cols = list(key_cols)
        self.partition_col = partition_col
        self.detector = detector
        self.detector_params = detector_params or {}
        self.contamination = contamination
        # a partition fails the drift check when its share of globally-
        # thresholded outliers exceeds this rate
        self.max_outlier_rate = max_outlier_rate or 1.5 * contamination
        self.n_salt = n_salt
        # declarative row-level rules (validation/constraints.py
        # RowConstraint): predicates over the FEATURE FRAME's columns
        # — key cols, partition col, content_sha256, and the derived
        # numerics in FEATURE_COLS (raw content is dropped before the
        # checks run; express content rules via content_length /
        # token_count etc.). Validated against that exact schema by a
        # zero-job analysis gate at run() start.
        self.constraints = list(constraints) if constraints else []

    def _constraints_sig(self) -> str | None:
        """Stable fingerprint of the configured rule set — (name,
        predicate) pairs only. Markers record it so a resume under a
        DIFFERENT rule set recomputes instead of silently reusing
        results the new rules never produced (same contract as the
        check-coverage gate). max_violation_rate is deliberately NOT
        part of the fingerprint: stage B judges the persisted
        per-(partition, rule) violation_rate against the CURRENT
        budgets, so retuning a budget re-verdicts for free instead of
        re-running the whole stage-A suite."""
        if not self.constraints:
            return None
        import hashlib

        payload = json.dumps(
            sorted((c.name, c.predicate) for c in self.constraints)
        )
        return hashlib.sha256(payload.encode()).hexdigest()[:16]

    def _judge_constraint_rates(self, rates: dict) -> int:
        """Count of FAILED rules for one partition: its persisted
        {constraint: violation_rate} judged against the current rule
        budgets (rules absent from the current set are ignored — a
        removed rule changes the sig and forces a recompute anyway)."""
        return sum(
            1
            for c in self.constraints
            if (rates.get(c.name) or 0.0) > c.max_violation_rate
        )

    # ------------------------------------------------------------ helpers

    def _marker_path(self, run_dir: str, part: str) -> str:
        # %-encode the partition value: a value containing os.sep (a
        # lang like "c/c++") must not become a directory traversal in
        # the marker filename. Plain alphanumerics are unchanged, so
        # markers from earlier runs still resolve.
        from urllib.parse import quote

        return os.path.join(run_dir, "markers", f"{quote(str(part), safe='')}.json")

    def _done_partitions(self, run_dir: str) -> set[str]:
        from urllib.parse import unquote

        mdir = os.path.join(run_dir, "markers")
        if not os.path.isdir(mdir):
            return set()
        return {unquote(f[:-5]) for f in os.listdir(mdir) if f.endswith(".json")}

    def _read_marker(self, run_dir: str, part: str) -> dict | None:
        try:
            with open(self._marker_path(run_dir, part)) as fh:
                return json.load(fh)
        except (OSError, json.JSONDecodeError):
            return None

    def _invalidate_partitions(self, run_dir: str, parts: Iterable[str]) -> None:
        """Drop these partitions' completion markers and their hive
        subdirectories in every stage-A output, so they recompute from
        scratch with no stale files surviving."""
        from urllib.parse import unquote

        parts = {str(p) for p in parts}
        if not parts:
            return
        for part in parts:
            mp = self._marker_path(run_dir, part)
            if os.path.exists(mp):
                os.remove(mp)
        pref = f"{self.partition_col}="
        for name in _STAGE_A_OUTPUTS:
            base = os.path.join(run_dir, name)
            if not os.path.isdir(base):
                continue
            for d in os.listdir(base):
                # Spark %-escapes special chars in hive dir names
                if d.startswith(pref) and unquote(d[len(pref):]) in parts:
                    shutil.rmtree(os.path.join(base, d), ignore_errors=True)

    def _write_marker(self, run_dir: str, part: str, marker: dict) -> None:
        """Write a completion marker atomically: a crash mid-write
        leaves at most a stray .tmp file (which _done_partitions does
        not list), never a torn marker."""
        path = self._marker_path(run_dir, part)
        tmp = f"{path}.tmp"
        with open(tmp, "w") as fh:
            json.dump(marker, fh)
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, path)

    def _label_drift(
        self, spark: SparkSession, scores: DataFrame | None, run_dir: str,
        sketches: Iterable[str | None],
    ) -> tuple[float | None, dict]:
        """The global drift threshold — the (1 - contamination) quantile
        of the merged per-partition KLL sketches — and the
        drift_violations it implies, rewritten whole from ``scores``:
        dynamic partition overwrite only touches partitions with >= 1
        violation, so a partition that dropped to zero (or left the
        table) would otherwise keep its old violation files. Returns
        (threshold, {partition: n_outliers}); the threshold is None
        when nothing was scored."""
        shutil.rmtree(os.path.join(run_dir, "drift_violations"), ignore_errors=True)
        thr = merged_quantile(spark, sketches, 1 - self.contamination)
        if thr is None or scores is None:
            return thr, {}
        self._write_partitioned(
            scores.where(F.col("score_z") > F.lit(thr))
            .withColumn("label", F.lit(1))
            .withColumn("threshold", F.lit(thr)),
            run_dir, "drift_violations", compact=False,
        )
        # per-partition outlier counts from the written files' parquet
        # footers: exact, and no second pass over the scores
        return thr, rows_by_partition(
            os.path.join(run_dir, "drift_violations"), self.partition_col
        )

    def _write_partitioned(
        self, df: DataFrame, run_dir: str, name: str, compact: bool = True,
        n_values: int | None = None,
    ) -> None:
        # compact=True bounds files per hive dir (the commit protocol's
        # driver-side file moves scale with file count) — but ONE task
        # per partition value would leave all but n_values cores idle
        # during the write, an anti-scaling serial stage. Salt the
        # repartition so the write uses ~defaultParallelism tasks total
        # while keeping files-per-dir at a small constant
        # (ceil(par / n_values)), the best of both.
        if compact:
            spark = df.sparkSession
            par = spark.sparkContext.defaultParallelism
            nv = max(1, n_values or 8)
            # ~2 write tasks per core (straggler smoothing) spread over
            # the partition values; files per dir stays at salt_n
            salt_n = max(1, (2 * par + nv - 1) // nv)
            if salt_n > 1:
                salt = F.pmod(F.xxhash64(*[F.col(c) for c in df.columns[:2]]),
                              F.lit(salt_n))
                df = df.repartition(nv * salt_n, F.col(self.partition_col), salt)
            else:
                df = df.repartition(self.partition_col)
        (
            df.write.partitionBy(self.partition_col)
            .mode("overwrite")
            .parquet(os.path.join(run_dir, name))
        )

    # ---------------------------------------------------------------- run

    def run(
        self,
        spark: SparkSession,
        df: DataFrame,
        run_dir: str,
        parent: DataFrame | None = None,
        ri_keys: Iterable[str] = ("repo", "commit"),
        resume: bool = True,
        partitions: Iterable[str] | None = None,
        reference: DataFrame | None = None,
        reference_profile: DataFrame | None = None,
        psi_threshold: float = 0.2,
    ) -> dict:
        """Execute the suite. ``partitions`` optionally names the
        partition values present in ``df`` (skips a discovery scan —
        on a real lakehouse this comes from catalog metadata).
        ``reference`` optionally provides a prior snapshot of the same
        table: when given, a fifth concurrent check computes
        per-(partition, feature) PSI + two-sample KS between snapshots
        (validation/psi.py, validation/ks.py), writes the
        ``dist_drift`` report, and folds a ``dist_pass`` verdict (no
        feature with PSI > psi_threshold or significant KS D) into
        ``partition_pass``. ``reference_profile`` is the scale path
        for the same check: a PREBUILT per-(partition, feature, value)
        counts profile of the reference snapshot
        (validation/profile.py build_snapshot_profile, CLI
        ``profile``), so the frozen reference corpus is scanned once
        ever instead of once per run — results are identical to
        passing the raw ``reference``. Passing both is an error."""
        t0 = time.time()
        phase_times: dict[str, float] = {}
        if reference is not None and reference_profile is not None:
            raise ValueError(
                "pass either reference (raw snapshot) or "
                "reference_profile (prebuilt counts profile), not both"
            )
        if reference_profile is not None:
            # driver-side metadata gate, mirroring the schema contract:
            # a frame that is not a profile must fail before any work.
            # (The job-running feature-set gate lives in
            # _job_dist_drift — it only costs a Spark job when the
            # check actually runs, i.e. there is pending work.)
            from .profile import PROFILE_COLUMNS

            missing = [
                c
                for c in (self.partition_col, *PROFILE_COLUMNS)
                if c not in reference_profile.columns
            ]
            if missing:
                raise ValueError(
                    f"reference_profile is missing column(s) {missing}; "
                    "build it with validation.profile.build_snapshot_profile"
                )

        def _mark(label, start):
            phase_times[label] = round(time.time() - start, 2)
            return time.time()

        # schema gate: driver-side metadata only (no job) — fail before
        # touching data when the input can't satisfy the checks below
        if self.schema_contract:
            from .schema import SchemaContractError, schema_violations

            sviol = schema_violations(df, contract=self.schema_contract)
            if sviol:
                raise SchemaContractError(sviol)
            # the reference snapshot feeds the same feature derivation
            # (dist-drift job), so a drifted reference schema must fail
            # here too — not as an AnalysisException mid-run after the
            # stats/uniqueness/RI work already burned
            if reference is not None:
                rviol = schema_violations(reference, contract=self.schema_contract)
                if rviol:
                    raise SchemaContractError(
                        [{**v, "frame": "reference"} for v in rviol]
                    )
        if self.constraints:
            # zero-job analysis gate against the EXACT schema the
            # constraints will see (the projected feature frame): a
            # typo'd column or a predicate over raw `content` (dropped
            # before checks run) fails here, before any scan
            probe = df
            if "row_id" not in probe.columns:
                probe = probe.withColumn("row_id", F.lit(0).cast("bigint"))
            probe = derive_features(probe).select(
                self.partition_col, "row_id", *self.key_cols,
                "content_sha256", *FEATURE_COLS, "features",
            )
            validate_constraints(probe, self.constraints)

        if not resume and os.path.isdir(run_dir):
            # resume=False into an existing run_dir means START OVER:
            # dynamic partition overwrite only replaces partitions the
            # new run writes, so a partition whose re-run produces ZERO
            # violations would otherwise keep its stale violation files
            for sub in ("markers", *_STAGE_A_OUTPUTS, "verdicts"):
                shutil.rmtree(os.path.join(run_dir, sub), ignore_errors=True)
        os.makedirs(os.path.join(run_dir, "markers"), exist_ok=True)
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        pcol = self.partition_col

        if partitions is not None:
            all_parts = sorted(partitions)
        else:
            all_parts = [r[0] for r in df.select(pcol).distinct().collect()]
        # the checks this run performs; markers record them
        checks = ["stats", "uniqueness", "drift_scores"]
        if parent is not None:
            checks.append("ri")
        if reference is not None or reference_profile is not None:
            checks.append("dist_drift")
        if self.constraints:
            checks.append("constraints")
        done = self._done_partitions(run_dir) if resume else set()
        if done:
            # a marker only certifies the checks that RAN when it was
            # written: resuming with a check the marker doesn't cover
            # (a reference/profile added since -> dist_drift; a parent
            # added since -> ri) must recompute the partition, not
            # silently report the uncovered check as passed
            required = set(checks)
            sig = self._constraints_sig()

            def _covered(part: str) -> bool:
                # a missing/torn marker reads as {}; a marker without
                # the stage-B summary predates it — all recompute
                marker = self._read_marker(run_dir, part) or {}
                if "summary" not in marker:
                    return False
                if not required <= set(marker.get("checks") or []):
                    return False
                # rule-set coverage: a marker written under different
                # RowConstraint rules (or none) must not satisfy this
                # run's constraint check
                return sig is None or marker.get("constraints_sig") == sig

            under_covered = sorted(part for part in done if not _covered(part))
            done.difference_update(under_covered)
            if under_covered:
                log.warning(
                    "resume: %d partition marker(s) do not cover the "
                    "requested check set %s (or were written under a "
                    "different constraint rule set) — recomputing: %s",
                    len(under_covered), sorted(required), under_covered,
                )
        pending = sorted(set(all_parts) - done)
        fresh_full = not done and set(pending) == set(all_parts)
        # every pending partition starts clean: a crashed or
        # under-covered earlier attempt must not leave files that this
        # run's output (or the footer counts below) would pick up
        self._invalidate_partitions(run_dir, pending)
        stage_a_rows = 0
        # per-partition stage-A summaries collected by the check
        # threads, persisted into each partition's marker
        sums: dict[str, dict] = {
            "n_rows": {}, "n_dup_keys": {}, "n_extra_rows": {},
            "n_orphans": {}, "n_constraint_viol": {}, "violation_rate": {},
            "psi_max": {}, "n_dist_drifted": {}, "drift_n": {},
            "kll_sketch": {}, "fp": {},
        }
        # fresh runs: (threshold, outlier counts) from the drift thread
        labeled: dict = {}
        group = os.path.basename(os.path.normpath(run_dir))

        tp = time.time()
        if pending:
            work = df.where(F.col(pcol).isin(pending))
            if "row_id" not in work.columns:
                # the corpus contract is (repo, path, commit, lang,
                # content) — row_id is an engine-internal row handle,
                # synthesized deterministically (NOT
                # monotonically_increasing_id, which changes on
                # recompute) when the source doesn't carry one
                work = work.withColumn(
                    "row_id",
                    F.xxhash64(*[F.col(c) for c in self.key_cols], F.col("content")),
                )
            # drop the raw content before persisting: every downstream
            # check needs only keys + invariant hash + numeric features
            feats = derive_features(work).select(
                pcol, "row_id", *self.key_cols, "content_sha256",
                *FEATURE_COLS, "features",
            ).persist()
            # no feats.count() barrier: the checks start at once and
            # the first job to reach a partition caches it (Spark's
            # block locks keep the others from recomputing it), so
            # the feature pass overlaps the checks' plan building

            def _job_stats():
                stats = column_stats_frame(feats, pcol)
                self._write_partitioned(stats, run_dir, "stats", n_values=len(pending))
                for r in stats.where(F.col("col_name") == FEATURE_COLS[0]).collect():
                    sums["n_rows"][r[pcol]] = r["n_rows"]

            def _job_uniqueness():
                viol = uniqueness_violations(feats, self.key_cols, [pcol]).persist()
                self._write_partitioned(viol, run_dir, "uniqueness_violations", n_values=len(pending))
                for r in viol.groupBy(pcol).agg(
                    F.count(F.lit(1)).alias("k"),
                    F.sum(F.col("n_copies") - 1).alias("x"),
                ).collect():
                    sums["n_dup_keys"][r[pcol]] = r["k"]
                    sums["n_extra_rows"][r[pcol]] = r["x"]
                viol.unpersist()

            def _job_ri():
                if parent is None:
                    return
                viol = ri_violations(
                    feats, parent, list(ri_keys),
                    child_cols=[pcol, *self.key_cols, "content_sha256"],
                )
                self._write_partitioned(viol, run_dir, "ri_violations", n_values=len(pending))
                # counts from the written files' footers: no second job
                sums["n_orphans"].update(rows_by_partition(
                    os.path.join(run_dir, "ri_violations"), pcol, pending
                ))

            def _job_constraints():
                if not self.constraints:
                    return
                # violations: one map-only codegen pass over the cached
                # feature frame (no shuffle); summary: one partial-agg
                # groupBy to model size. Both persisted partitioned for
                # the report; their counts and rates go into the marker.
                viol = row_constraint_violations(
                    feats,
                    self.constraints,
                    keep_cols=[pcol, *self.key_cols, "content_sha256"],
                )
                self._write_partitioned(
                    viol, run_dir, "constraint_violations",
                    n_values=len(pending),
                )
                sums["n_constraint_viol"].update(rows_by_partition(
                    os.path.join(run_dir, "constraint_violations"), pcol,
                    pending,
                ))
                # the persisted summary carries counts + rates only —
                # `passed` is a function of the CURRENT budgets and is
                # always judged at stage B (_judge_constraint_rates),
                # so a budget-only retune never leaves a stale verdict
                # column behind and never forces a stage-A recompute
                summ = row_constraint_summary(
                    feats, self.constraints, [pcol]
                ).drop("passed").persist()
                self._write_partitioned(
                    summ, run_dir, "constraint_summary",
                    n_values=len(pending),
                )
                for r in summ.select(
                    pcol, "constraint", "violation_rate"
                ).collect():
                    sums["violation_rate"].setdefault(r[pcol], {})[
                        r["constraint"]
                    ] = r["violation_rate"]
                summ.unpersist()

            def _job_drift():
                det_cls = ALL_DETECTORS[self.detector]
                params = dict(self.detector_params)
                if self.detector == "hbos" and "n_cells_hint" not in params:
                    # the engine knows the model size exactly:
                    # one histogram per (pending partition, feature)
                    params["n_cells_hint"] = len(pending) * len(FEATURE_COLS)
                det = det_cls(contamination=self.contamination, **params)
                # keep_cols passthrough: map-side detector plans carry
                # the business key + invariant hash through scoring,
                # so no n-row join is needed afterwards
                scores = det.score_df(
                    feats,
                    id_col="row_id",
                    features_col="features",
                    group_cols=[pcol],
                    keep_cols=[*self.key_cols, "content_sha256"],
                ).persist()
                # Per-partition detector fits produce scores on
                # incomparable scales; normalize per partition before
                # the one global threshold, so flags concentrate in
                # the partition that actually drifted instead of
                # skimming contamination% off every partition. This is
                # the reference's 'unify' idea (standardize scores
                # with fit statistics, pytod base.py:224-231, 432-433)
                # hardened with robust statistics: median/MAD instead
                # of mu/sigma, because a drifted partition inflates
                # its own sigma and masks itself (observed: planted
                # 10%-anomalous partition scored *fewer* z-flags than
                # clean ones under mu/sigma).
                # sketch quantiles (partial-aggregatable, KB-scale
                # shuffle) — exact percentile would move every score
                # to one buffer per group, the wrong plan at 10^12
                med = scores.groupBy(pcol).agg(
                    F.percentile_approx("score", 0.5).alias("__med")
                )
                scores2 = scores.join(F.broadcast(med), on=pcol)
                mad = scores2.groupBy(pcol).agg(
                    F.percentile_approx(
                        F.abs(F.col("score") - F.col("__med")), 0.5
                    ).alias("__mad")
                )
                keyed = (
                    scores2.join(F.broadcast(mad), on=pcol)
                    .withColumn(
                        "score_z",
                        (F.col("score") - F.col("__med"))
                        / F.when(
                            F.col("__mad") > 0, F.col("__mad") * 1.4826
                        ).otherwise(F.lit(1.0)),
                    )
                    .drop("__med", "__mad")
                ).persist()
                self._write_partitioned(keyed, run_dir, "drift_scores", compact=False)
                scores.unpersist()
                # per-partition row count + KLL sketch of score_z: the
                # marker's drift summary, merged into the global
                # threshold at stage B (one grouped aggregate, KB-scale
                # shuffle)
                for r in keyed.groupBy(pcol).agg(
                    F.count(F.lit(1)).alias("n"),
                    score_sketch("score_z").alias("sk"),
                ).collect():
                    sums["drift_n"][r[pcol]] = r["n"]
                    sums["kll_sketch"][r[pcol]] = base64.b64encode(
                        bytes(r["sk"])
                    ).decode("ascii")
                if fresh_full:
                    # every partition is pending: threshold and label
                    # from the in-memory scores here, overlapped with
                    # the other checks, instead of re-reading them at
                    # stage B
                    labeled["thr"], labeled["outliers"] = self._label_drift(
                        spark, keyed, run_dir, sums["kll_sketch"].values()
                    )
                keyed.unpersist()

            def _job_dist_drift():
                if reference is None and reference_profile is None:
                    return
                from .ks import ks_report_from_counts
                from .psi import psi_report_from_counts
                from .profile import (
                    combine_with_reference_profile,
                    feature_stack_expr,
                    snapshot_value_counts,
                )

                # long format: one row per (partition, feature, value,
                # side) — stack() is a map-side Generate, no shuffle.
                # The row-scale input (which includes deriving the
                # reference snapshot's features from raw content)
                # collapses ONCE into the shared per-(partition,
                # feature, value) counts profile; PSI and KS both read
                # the persisted profile, so nothing row-scale is ever
                # scanned or shuffled twice.
                stack_expr = feature_stack_expr(FEATURE_COLS)
                if reference_profile is not None:
                    # feature-set gate (one model-sized job on the
                    # profile, rows ~ |features| x |distinct values|):
                    # a profile built against an older/renamed
                    # FEATURE_COLS would otherwise pass the column
                    # gate and then full_outer-join into one-sided
                    # (partition, feature) groups, which the KS reader
                    # deliberately scores as D=1.0/drifted — a
                    # guaranteed false FAIL on every partition with no
                    # hint that the profile is stale. Fail loud.
                    profile_feats = {
                        r[0]
                        for r in reference_profile.select("feature")
                        .distinct()
                        .collect()
                    }
                    if profile_feats != set(FEATURE_COLS):
                        raise ValueError(
                            "reference_profile feature set does not match "
                            "this engine's FEATURE_COLS: profile has "
                            f"{sorted(profile_feats)}, engine expects "
                            f"{sorted(FEATURE_COLS)}. Rebuild the profile "
                            "with the current pytod_spark version "
                            "(CLI `profile` subcommand)."
                        )
                    # prebuilt-profile path: the reference corpus is
                    # never touched — only its model-sized profile is
                    # joined against this run's counts. The counts
                    # side MUST aggregate exactly like the profile
                    # builder did — shared definition, not a copy
                    from .profile import stacked_value_counts

                    cur_counts = stacked_value_counts(
                        feats.select(pcol, *FEATURE_COLS), pcol, FEATURE_COLS
                    )
                    per_val = combine_with_reference_profile(
                        reference_profile.where(F.col(pcol).isin(pending)),
                        cur_counts,
                        "value",
                        [pcol, "feature"],
                    ).persist()
                else:
                    ref_feats = derive_features(
                        reference.where(F.col(pcol).isin(pending))
                    ).select(pcol, *FEATURE_COLS)
                    both = (
                        ref_feats.withColumn("__is_ref", F.lit(True))
                        .unionByName(
                            feats.select(pcol, *FEATURE_COLS).withColumn(
                                "__is_ref", F.lit(False)
                            )
                        )
                        .selectExpr(pcol, "__is_ref", stack_expr)
                    )
                    per_val = snapshot_value_counts(
                        both, F.col("__is_ref"), "value", [pcol, "feature"]
                    ).persist()
                psi = psi_report_from_counts(
                    per_val, "value", [pcol, "feature"],
                    threshold=psi_threshold,
                ).withColumnRenamed("drifted", "psi_drifted")
                # dist_pass ANDs one KS verdict per feature, so at the
                # raw 5% level a genuinely identical reference would
                # false-fail ~1-0.95^|features| ~= 30% of partitions.
                # Bonferroni keeps the per-PARTITION false-fail at 5%.
                ks = ks_report_from_counts(
                    per_val, "value", [pcol, "feature"],
                    alpha=0.05 / len(FEATURE_COLS),
                ).select(
                    pcol, "feature", "ks_d", "ks_crit",
                    F.col("drifted").alias("ks_drifted"),
                )
                rep = psi.join(ks, [pcol, "feature"]).persist()
                self._write_partitioned(
                    rep, run_dir, "dist_drift", n_values=len(pending)
                )
                # model-sized (|pending| x |features| rows): fold the
                # per-partition summary on the driver, no shuffle
                for r in rep.select(
                    pcol, "psi", "psi_drifted", "ks_drifted"
                ).collect():
                    part = r[pcol]
                    sums["psi_max"][part] = max(
                        sums["psi_max"].get(part, 0.0), float(r["psi"])
                    )
                    sums["n_dist_drifted"][part] = sums["n_dist_drifted"].get(
                        part, 0
                    ) + max(r["psi_drifted"], r["ks_drifted"])
                rep.unpersist()
                per_val.unpersist()

            def _job_fingerprint():
                # model-sized result (|pending| rows) recorded in each
                # partition's lineage marker — what run_incremental
                # compares against to skip unchanged partitions
                for r in partition_fingerprints(
                    feats.select(pcol, *self.key_cols, "content_sha256"),
                    pcol,
                    self.key_cols,
                ).collect():
                    sums["fp"][r[pcol]] = {
                        "xor": int(r["fp"]),
                        "n": int(r["fp_n"]),
                        "sum": str(r["fp_sum"]),
                    }

            jobs = {
                "stats": _job_stats,
                "uniqueness": _job_uniqueness,
                "ri": _job_ri,
                "constraints": _job_constraints,
                "drift": _job_drift,
                "dist_drift": _job_dist_drift,
                "fingerprint": _job_fingerprint,
            }

            def _timed(name, fn):
                t = time.time()
                with job_group(spark, f"{group}:{name}", name):
                    fn()
                # per-check wall time (threads overlap, so these sum to
                # more than checks_parallel; the max is the critical path)
                phase_times[f"check_{name}"] = round(time.time() - t, 2)

            with ThreadPoolExecutor(max_workers=len(jobs)) as pool:
                futs = [pool.submit(_timed, nm, fn) for nm, fn in jobs.items()]
                for fut in as_completed(futs):
                    fut.result()  # propagate the first failure
            tp = _mark("checks_parallel", tp)
            feats.unpersist()
            stage_a_rows = sum(sums["n_rows"].values())

            # --- per-partition completion markers (written only after
            # every stage-A output for the partition is committed)
            for part in pending:
                summary = {
                    k: sums[k].get(part, 0)
                    for k in (
                        "n_rows", "n_dup_keys", "n_extra_rows", "n_orphans",
                        "n_constraint_viol", "psi_max", "n_dist_drifted",
                        "drift_n",
                    )
                }
                summary["violation_rate"] = sums["violation_rate"].get(part, {})
                summary["kll_sketch"] = sums["kll_sketch"].get(part)
                self._write_marker(run_dir, part, {
                    "partition": part,
                    # record only checks that actually RAN: the resume
                    # coverage gate above compares this list against
                    # the next run's request
                    "checks": checks,
                    "constraints_sig": self._constraints_sig(),
                    "fingerprint": sums["fp"].get(part),
                    "summary": summary,
                    "completed_at": time.time(),
                })

        # ---------------- stage B: threshold + verdicts from the markers
        tp = time.time()
        summaries = {
            part: (self._read_marker(run_dir, part) or {}).get("summary") or {}
            for part in all_parts
        }
        # threshold None = no drift scores exist anywhere (empty corpus)
        # — the metrics JSON records null
        if fresh_full:
            thr, outliers = labeled.get("thr"), labeled.get("outliers", {})
        else:
            with job_group(spark, f"{group}:stage_b", "stage_b"):
                scores = None
                if has_parquet(os.path.join(run_dir, "drift_scores")):
                    # partition-pruned to the CURRENT snapshot: a
                    # partition dropped from the table keeps its stage-A
                    # parquet but must not be rewritten into
                    # drift_violations
                    scores = read_string_partitioned(
                        spark, os.path.join(run_dir, "drift_scores")
                    ).where(F.col(pcol).isin(all_parts))
                thr, outliers = self._label_drift(
                    spark, scores, run_dir,
                    [summaries[p].get("kll_sketch") for p in all_parts],
                )

        def _count(s: dict, key: str, on: bool = True) -> int:
            return int(s.get(key) or 0) if on else 0

        # a check this run did not request reports zero, whatever an
        # older marker that covered it recorded
        dist_on = "dist_drift" in checks
        verdict_rows = []
        for part in all_parts:
            s = summaries[part]
            n, o = _count(s, "drift_n"), int(outliers.get(part, 0))
            verdict_rows.append({
                pcol: part,
                "n_rows": n,
                "n_dup_keys": _count(s, "n_dup_keys"),
                "n_extra_rows": _count(s, "n_extra_rows"),
                "n_orphans": _count(s, "n_orphans", parent is not None),
                # unrounded count alongside the rounded rate: at
                # 10^12-row partitions a handful of outliers rounds the
                # rate to 0.0, and the report's drift-example gate must
                # still see that violation rows exist
                "n_outliers": o,
                "outlier_rate": round(o / max(1, n), 6),
                "psi_max": float(s.get("psi_max") or 0.0) if dist_on else 0.0,
                "n_dist_drifted": _count(s, "n_dist_drifted", dist_on),
                "n_constraint_viol": _count(
                    s, "n_constraint_viol", bool(self.constraints)
                ),
                # judged against the CURRENT budgets, so a budget-only
                # retune re-verdicts without recompute
                "n_constraint_failed": self._judge_constraint_rates(
                    s.get("violation_rate") or {}
                ),
            })

        for v in verdict_rows:
            v["uniqueness_pass"] = v["n_dup_keys"] == 0
            v["ri_pass"] = v["n_orphans"] == 0
            v["drift_pass"] = v["outlier_rate"] <= self.max_outlier_rate
            v["dist_pass"] = v["n_dist_drifted"] == 0
            # per-constraint rates are judged against each rule's own
            # max_violation_rate inside row_constraint_summary; the
            # verdict folds the count of FAILED rules (trivially 0
            # when no constraints are configured)
            v["constraint_pass"] = v["n_constraint_failed"] == 0
            v["partition_pass"] = (
                v["uniqueness_pass"]
                and v["ri_pass"]
                and v["drift_pass"]
                and v["dist_pass"]
                and v["constraint_pass"]
            )
        # the verdict table is a handful of rows — write it from the
        # driver with pyarrow instead of scheduling a Spark job whose
        # task-launch + commit latency dwarfs the data
        import pyarrow as pa
        import pyarrow.parquet as pq

        vschema = pa.schema(
            [
                (pcol, pa.string()),
                ("n_rows", pa.int64()),
                ("n_dup_keys", pa.int64()),
                ("n_extra_rows", pa.int64()),
                ("n_orphans", pa.int64()),
                ("n_outliers", pa.int64()),
                ("outlier_rate", pa.float64()),
                ("psi_max", pa.float64()),
                ("n_dist_drifted", pa.int64()),
                ("n_constraint_viol", pa.int64()),
                ("n_constraint_failed", pa.int64()),
                ("uniqueness_pass", pa.bool_()),
                ("ri_pass", pa.bool_()),
                ("drift_pass", pa.bool_()),
                ("dist_pass", pa.bool_()),
                ("constraint_pass", pa.bool_()),
                ("partition_pass", pa.bool_()),
            ]
        )
        vdir = os.path.join(run_dir, "verdicts")
        os.makedirs(vdir, exist_ok=True)
        pq.write_table(
            pa.Table.from_pylist(
                [{k: v[k] for k in vschema.names} for v in verdict_rows],
                schema=vschema,
            ),
            os.path.join(vdir, "part-00000.parquet"),
        )
        _mark("stage_b", tp)

        elapsed = time.time() - t0
        total_rows = sum(v["n_rows"] for v in verdict_rows)
        metrics = {
            "schema_ok": True,  # gate raised above otherwise
            "elapsed_sec": elapsed,
            "partitions_total": len(all_parts),
            # count only markers for partitions still in the table —
            # a dropped partition's orphaned marker is not "reused"
            "partitions_resumed_skip": len(done & set(all_parts)),
            "stage_a_rows": stage_a_rows,
            "rows_total": total_rows,
            "files_per_sec": stage_a_rows / elapsed if elapsed > 0 else 0.0,
            "threshold": thr,
            "phase_times": phase_times,
            "failed_partitions": [
                v[pcol] for v in verdict_rows if not v["partition_pass"]
            ],
        }
        with open(os.path.join(run_dir, f"metrics_{int(t0)}.json"), "w") as fh:
            json.dump(metrics, fh, indent=2)
        return metrics

    # ------------------------------------------------------- incremental

    def run_incremental(
        self,
        spark: SparkSession,
        df: DataFrame,
        run_dir: str,
        changed_partitions: Iterable[str] | None = None,
        **run_kwargs,
    ) -> dict:
        """Re-validate only what changed since the last completed run
        in ``run_dir`` — at 10^12 files a nightly snapshot touches a
        sliver of partitions, and re-running the full suite over the
        unchanged ones is the dominant wasted cost.

        Two ways to learn what changed:

        * ``changed_partitions`` (metadata path): the caller names the
          partition values whose data changed — on a real lakehouse
          this comes free from an Iceberg snapshot diff (changed data
          files -> partition values via manifest metadata), so NO data
          is scanned for unchanged partitions. Partitions new to the
          table need no mention; they have no completion marker and
          recompute regardless.
        * fingerprint scan (fallback, when no table-format metadata is
          available): one map+agg pass hashes (key columns, content
          sha256) per partition — see ``partition_fingerprints`` — and
          compares against the fingerprint stored in each completion
          marker. A partition is stale when the xor-of-row-hashes or
          the row count differs, or its marker predates fingerprints.

        Stale partitions get their marker AND their hive subdirectory
        in every stage-A output removed before the resumed run:
        dynamic partition overwrite only replaces partitions the new
        run writes, so a stale partition whose re-run produces ZERO
        violations would otherwise keep its old violation files.

        Stage B then derives the verdicts from the completion markers
        of the partitions present in the CURRENT snapshot: the reused
        (unchanged) markers and the rewritten (changed) ones. Their
        KLL score sketches merge into the global threshold — a
        replaced partition just swaps its sketch — so stage B costs
        O(partitions) plus one partition-pruned pass over drift_scores
        that rewrites drift_violations and counts the outliers. A
        partition dropped from the table drops out of both the
        verdicts and the global threshold.

        Returns the same metrics dict as ``run``, plus
        ``incremental_stale`` (partitions invalidated and recomputed)
        and ``incremental_skipped`` (unchanged partitions reused).

        Check-set coverage: markers certify WHICH checks ran, and
        ``run``'s resume gate recomputes any partition whose marker
        does not cover this run's request (e.g. a reference/profile
        supplied for the first time). The reference snapshot itself is
        assumed FROZEN across incremental runs (the deployment
        contract of ``reference_profile``); swapping in a different
        reference with unchanged current partitions requires
        ``run(resume=False)`` or a fresh run_dir — content staleness
        of the reference is not detectable from the current table's
        fingerprints.
        """
        if "resume" in run_kwargs:
            raise ValueError(
                "run_incremental is resume-by-construction; for a full "
                "start-over call run(resume=False) instead"
            )
        t_scan = time.time()
        pcol = self.partition_col
        done = self._done_partitions(run_dir)
        if changed_partitions is not None:
            stale = {str(p) for p in changed_partitions} & done
            scan_sec = 0.0
        else:
            cur = {
                str(r[pcol]): {
                    "xor": int(r["fp"]),
                    "n": int(r["fp_n"]),
                    "sum": str(r["fp_sum"]),
                }
                for r in partition_fingerprints(
                    df, pcol, self.key_cols
                ).collect()
            }
            scan_sec = round(time.time() - t_scan, 2)
            stale = set()
            for part in done:
                marker = self._read_marker(run_dir, part)
                stored = (marker or {}).get("fingerprint")
                # missing/corrupt marker, pre-fingerprint marker, or a
                # changed fingerprint all force a recompute; a
                # partition absent from the current snapshot is left
                # alone (stage B excludes it via the all_parts filter)
                if part in cur and (stored is None or stored != cur[part]):
                    stale.add(part)
            # the fingerprint scan already named every partition value
            # present in df — hand that to run() so it skips its own
            # discovery scan (a second full pass over the snapshot)
            run_kwargs.setdefault("partitions", sorted(cur))
        self._invalidate_partitions(run_dir, stale)
        metrics = self.run(spark, df, run_dir, resume=True, **run_kwargs)
        metrics["incremental_stale"] = sorted(stale)
        metrics["incremental_skipped"] = metrics["partitions_resumed_skip"]
        if scan_sec:
            metrics["phase_times"]["fingerprint_scan"] = scan_sec
        return metrics


def column_stats_frame(feats: DataFrame, pcol: str) -> DataFrame:
    """Per-partition stats profile over the engine's feature columns
    (null rate, HLL distinct, min/max/mean/std, quantile sketches)."""
    from .stats import column_stats

    return column_stats(feats, FEATURE_COLS, [pcol])
