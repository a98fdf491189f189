"""Stage B: verdicts from the per-partition marker summaries and a
merged KLL threshold. Fresh, resumed and incremental runs must agree
exactly; torn or pre-summary markers must recompute; the merged
threshold must stay within 1e-3 rank of the exact quantile; every
check's jobs carry the run's job group."""

import base64
import json
import os

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from pytod_spark.datagen import generate_repo_table, repo_commits_dim
from pytod_spark.datagen.repo_table import LANGS
from pytod_spark.validation import RowConstraint, ValidationSuite
from pytod_spark.validation.engine import merged_quantile, score_sketch


def _suite():
    return ValidationSuite(
        contamination=0.1,
        constraints=[
            RowConstraint("len_soft", "content_length <= 2000",
                          max_violation_rate=0.25),
        ],
    )


def _grow(df, langs):
    """The next snapshot: every file of ``langs`` grew by one line."""
    return df.withColumn(
        "content",
        F.when(F.col("lang").isin(sorted(langs)),
               F.concat(F.col("content"), F.lit("\nx = 1")))
        .otherwise(F.col("content")),
    )


def _verdicts(run_dir):
    import pyarrow.parquet as pq

    rows = pq.read_table(os.path.join(run_dir, "verdicts")).to_pylist()
    return sorted(rows, key=lambda r: r["lang"])


def _flagged(spark, run_dir):
    from pytod_spark.validation.io import has_parquet

    path = os.path.join(run_dir, "drift_violations")
    if not has_parquet(path):
        return set()
    return {
        (r["lang"], r["row_id"], r["threshold"])
        for r in spark.read.parquet(path).collect()
    }


@settings(
    max_examples=3,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow,
                           HealthCheck.function_scoped_fixture],
)
@given(
    n=st.integers(300, 900),
    seed=st.integers(0, 10_000),
    changed=st.sets(st.sampled_from(LANGS)),
)
def test_fresh_resume_and_incremental_verdicts_identical(
    spark, tmp_path_factory, n, seed, changed
):
    """Three runs on the same final snapshot B — fresh, incremental
    after a run on A, and a pure-resume rerun — write identical
    verdicts (n_outliers included), thresholds and drift violations."""
    a = generate_repo_table(spark, n, seed=seed)
    b = _grow(a, changed)
    parent = repo_commits_dim(spark, n, seed=seed)
    ref = generate_repo_table(spark, n, seed=seed + 1)
    root = tmp_path_factory.mktemp("stage_b")
    fresh, inc = str(root / "fresh"), str(root / "inc")
    suite = _suite()

    m_fresh = suite.run(spark, b, fresh, parent=parent, reference=ref,
                        resume=False)
    want = _verdicts(fresh)
    want_flagged = _flagged(spark, fresh)

    suite.run(spark, a, inc, parent=parent, reference=ref)
    m_inc = suite.run_incremental(spark, b, inc, parent=parent, reference=ref)
    assert m_inc["incremental_stale"] == sorted(changed)
    assert _verdicts(inc) == want
    assert m_inc["threshold"] == m_fresh["threshold"]
    assert _flagged(spark, inc) == want_flagged

    m_res = suite.run(spark, b, fresh, parent=parent, reference=ref,
                      resume=True)
    assert m_res["partitions_resumed_skip"] == m_res["partitions_total"]
    assert _verdicts(fresh) == want
    assert m_res["threshold"] == m_fresh["threshold"]
    assert _flagged(spark, fresh) == want_flagged


@pytest.mark.parametrize("damage", ["truncated", "no_summary"])
def test_damaged_marker_recomputes_partition(spark, tmp_path, damage):
    """A torn marker (crash mid-write on a filesystem without atomic
    rename) or one written before markers carried the stage-B summary
    counts as under-covered: the partition recomputes and the verdicts
    equal a fresh run's."""
    df = generate_repo_table(spark, 600, seed=5)
    parent = repo_commits_dim(spark, 600, seed=5)
    suite = _suite()
    suite.run(spark, df, str(tmp_path / "fresh"), parent=parent)
    want = _verdicts(str(tmp_path / "fresh"))

    run_dir = str(tmp_path / "run")
    m0 = suite.run(spark, df, run_dir, parent=parent)
    mdir = os.path.join(run_dir, "markers")
    # markers are replaced atomically: no temp file survives a run
    assert not [f for f in os.listdir(mdir) if not f.endswith(".json")]
    path = suite._marker_path(run_dir, "python")
    with open(path) as fh:
        text = fh.read()
    if damage == "truncated":
        text = text[: len(text) // 2]
    else:
        marker = json.loads(text)
        del marker["summary"]
        text = json.dumps(marker)
    with open(path, "w") as fh:
        fh.write(text)

    m = suite.run(spark, df, run_dir, parent=parent, resume=True)
    assert m["partitions_resumed_skip"] == m0["partitions_total"] - 1
    assert m["stage_a_rows"] == df.where("lang = 'python'").count()
    assert _verdicts(run_dir) == want
    assert "summary" in suite._read_marker(run_dir, "python")


def _skewed_scores(spark, n):
    # five partitions on different scales, so the merged quantile is
    # not any single partition's quantile
    return spark.range(n).select(
        (F.col("id") % 5).cast("string").alias("p"),
        (F.randn(seed=11) * (1 + F.col("id") % 5)).alias("s"),
    )


def _merged_threshold(spark, df, q):
    sketches = [
        base64.b64encode(bytes(r["sk"])).decode("ascii")
        for r in df.groupBy("p").agg(score_sketch("s").alias("sk")).collect()
    ]
    return merged_quantile(spark, sketches, q)


def test_merged_kll_threshold_rank_error_at_2m_rows(spark):
    """2M rows over 5 partitions: the merged sketch's p90 lands within
    1e-3 of rank of the exact percentile."""
    n = 2_000_000
    df = _skewed_scores(spark, n).persist()
    try:
        thr = _merged_threshold(spark, df, 0.9)
        exact = df.agg(F.percentile("s", 0.9)).collect()[0][0]
        r = df.agg(
            F.sum((F.col("s") <= F.lit(thr)).cast("long")).alias("at_thr"),
            F.sum((F.col("s") <= F.lit(exact)).cast("long")).alias("at_exact"),
        ).collect()[0]
        assert abs(r["at_thr"] - r["at_exact"]) / n <= 1e-3
    finally:
        df.unpersist()


@pytest.mark.parametrize("n", [1_000, 5_005])
def test_merged_kll_threshold_exact_below_sketch_capacity(spark, n):
    """While the scored rows fit in the sketch, the merged threshold is
    exactly percentile_approx(accuracy 10000) — so no verdict of the
    earlier percentile_approx threshold changes at these sizes."""
    df = _skewed_scores(spark, n)
    want = df.agg(F.percentile_approx("s", 0.9, 10000)).collect()[0][0]
    assert _merged_threshold(spark, df, 0.9) == want


def test_checks_and_stage_b_tag_their_jobs(spark, tmp_path):
    """Each check thread and stage B run under the job group
    '<run dir name>:<check>'; the caller's own group survives."""
    sc = spark.sparkContext
    df = generate_repo_table(spark, 600, seed=9)
    parent = repo_commits_dim(spark, 600, seed=9)
    ref = generate_repo_table(spark, 600, seed=10)
    run_dir = str(tmp_path / "tagged_run")
    suite = _suite()
    sc.setJobGroup("caller-group", "caller")
    try:
        suite.run(spark, df, run_dir, parent=parent, reference=ref)
        suite.run_incremental(spark, _grow(df, ["go"]), run_dir,
                              parent=parent, reference=ref)
        assert sc.getLocalProperty("spark.jobGroup.id") == "caller-group"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        sc.setLocalProperty("spark.job.interruptOnCancel", None)
    tracker = sc.statusTracker()
    for check in ("stats", "uniqueness", "ri", "constraints", "drift",
                  "dist_drift", "fingerprint", "stage_b"):
        assert tracker.getJobIdsForGroup(f"tagged_run:{check}"), check
