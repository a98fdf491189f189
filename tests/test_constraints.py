"""Declarative row-constraint checks (validation/constraints.py
RowConstraint): operator semantics (NULL-hostile predicates, one
output row per violating row, long-format summary), driver-side
gates, and the ValidationSuite wiring (violation artifacts, verdict
columns, resume/coverage behavior)."""

import os

import pytest
from pyspark.sql import functions as F

from pytod_spark.datagen import generate_repo_table
from pytod_spark.validation import (
    RowConstraint,
    ValidationSuite,
    row_constraint_summary,
    row_constraint_violations,
)
from pytod_spark.validation.constraints import validate_constraints
from pytod_spark.validation.features import derive_features

N = 2000


@pytest.fixture(scope="module")
def small(spark):
    df = spark.createDataFrame(
        [
            ("a", "x", 10, None),
            ("a", "y", 3, "ok"),
            ("b", "z", 100, "ok"),
            ("b", "w", 5, None),
        ],
        "grp string, id string, n int, s string",
    )
    return df


def test_violations_null_hostile_and_sorted(spark, small):
    cs = [
        RowConstraint("s_present", "s IS NOT NULL"),
        RowConstraint("n_small", "n < 50"),
    ]
    rows = {
        r["id"]: list(r["failed_constraints"])
        for r in row_constraint_violations(small, cs, keep_cols=["id"]).collect()
    }
    assert rows == {"x": ["s_present"], "z": ["n_small"], "w": ["s_present"]}

    # NULL predicate result is a violation, not a pass: length(NULL)
    # is NULL, so plain SQL would wave the NULL rows through
    null_trap = [RowConstraint("short_s", "length(s) < 3")]
    got = {
        r["id"]
        for r in row_constraint_violations(small, null_trap, keep_cols=["id"]).collect()
    }
    assert got == {"x", "w"}  # exactly the NULL-s rows ('ok' passes 2<3)

    # a row breaking several rules is ONE output row with both names
    both = row_constraint_violations(
        small, [RowConstraint("z1", "n < 5"), RowConstraint("a1", "s IS NOT NULL")],
        keep_cols=["id"],
    )
    by_id = {r["id"]: list(r["failed_constraints"]) for r in both.collect()}
    assert by_id["x"] == ["a1", "z1"]  # sorted, deduped row


def test_summary_long_format_and_rates(spark, small):
    cs = [
        RowConstraint("n_small", "n < 50"),
        RowConstraint("lenient", "s IS NOT NULL", max_violation_rate=0.6),
    ]
    rep = {
        (r["grp"], r["constraint"]): r
        for r in row_constraint_summary(small, cs, ["grp"]).collect()
    }
    assert rep[("b", "n_small")]["n_violations"] == 1
    assert rep[("b", "n_small")]["violation_rate"] == pytest.approx(0.5)
    assert not rep[("b", "n_small")]["passed"]
    assert rep[("a", "n_small")]["passed"]
    # 0.5 violation rate <= 0.6 budget -> lenient rule passes everywhere
    assert rep[("a", "lenient")]["passed"] and rep[("b", "lenient")]["passed"]
    # ungrouped variant: one row per constraint over the whole frame
    glob = {r["constraint"]: r for r in row_constraint_summary(small, cs).collect()}
    assert glob["n_small"]["n_rows"] == 4 and glob["n_small"]["n_violations"] == 1


def test_declaration_and_analysis_gates(spark, small):
    with pytest.raises(ValueError, match="must match"):
        RowConstraint("bad name!", "n < 1")
    with pytest.raises(ValueError, match="max_violation_rate"):
        RowConstraint("r", "n < 1", max_violation_rate=1.0)
    with pytest.raises(ValueError, match="empty predicate"):
        RowConstraint("r", "   ")
    with pytest.raises(ValueError, match="duplicate"):
        validate_constraints(small, [RowConstraint("r", "n < 1")] * 2)
    with pytest.raises(ValueError, match="at least one"):
        validate_constraints(small, [])
    with pytest.raises(ValueError, match="does not parse/resolve"):
        validate_constraints(small, [RowConstraint("typo", "nope_col < 1")])
    with pytest.raises(ValueError, match="expected boolean"):
        validate_constraints(small, [RowConstraint("notbool", "length(s)")])


@pytest.fixture(scope="module")
def corpus(spark):
    df = generate_repo_table(spark, N, seed=11).persist()
    df.count()
    return df


def test_suite_constraint_check_end_to_end(spark, corpus, tmp_path):
    run_dir = str(tmp_path / "run_cons")
    # pick a content_length cut that some-but-not-all rows violate, so
    # the test asserts against an independently computed ground truth
    feats = derive_features(corpus)
    cut = feats.agg(F.percentile_approx("content_length", 0.9)).collect()[0][0]
    cs = [
        RowConstraint("len_bound", f"content_length <= {cut}"),
        RowConstraint("path_nonempty", "length(path) > 0"),  # never violated
        RowConstraint(
            "len_bound_lenient", f"content_length <= {cut}",
            max_violation_rate=0.5,
        ),  # same cut, generous budget -> passes
    ]
    suite = ValidationSuite(contamination=0.1, constraints=cs)
    suite.run(spark, corpus, run_dir)

    expected = feats.where(F.col("content_length") > cut)
    exp_by_lang = {r["lang"]: r["count"] for r in expected.groupBy("lang").count().collect()}
    viol = spark.read.parquet(os.path.join(run_dir, "constraint_violations"))
    got_by_lang = {r["lang"]: r["count"] for r in viol.groupBy("lang").count().collect()}
    assert got_by_lang == exp_by_lang and sum(exp_by_lang.values()) > 0
    # every violating row names exactly the two len rules
    assert viol.where(
        F.col("failed_constraints")
        != F.array(F.lit("len_bound"), F.lit("len_bound_lenient"))
    ).count() == 0

    # persisted summary: counts + rates only (`passed` is judged at
    # stage B against the CURRENT budgets, never baked into stage A)
    summ = spark.read.parquet(os.path.join(run_dir, "constraint_summary"))
    assert "passed" not in summ.columns
    srows = {(r["lang"], r["constraint"]): r for r in summ.collect()}
    langs = sorted(exp_by_lang)
    for lang in langs:
        assert srows[(lang, "len_bound")]["n_violations"] == exp_by_lang[lang]
        assert srows[(lang, "path_nonempty")]["n_violations"] == 0
        assert srows[(lang, "len_bound_lenient")]["violation_rate"] <= 0.5

    verdicts = {
        r["lang"]: r
        for r in spark.read.parquet(os.path.join(run_dir, "verdicts")).collect()
    }
    for lang, v in verdicts.items():
        exp_fail = lang in exp_by_lang
        assert v["constraint_pass"] == (not exp_fail)
        assert v["n_constraint_viol"] == exp_by_lang.get(lang, 0)
        assert v["n_constraint_failed"] == (1 if exp_fail else 0)
        if exp_fail:
            assert not v["partition_pass"]


def test_suite_constraint_resume_and_coverage(spark, corpus, tmp_path):
    run_dir = str(tmp_path / "run_cons_resume")
    cs = [RowConstraint("never", "token_count >= 0")]
    base = ValidationSuite(contamination=0.1)
    m0 = base.run(spark, corpus, run_dir)
    assert m0["partitions_resumed_skip"] == 0

    # resume with constraints ADDED: markers don't cover the new check
    # -> coverage gate recomputes every partition
    suite = ValidationSuite(contamination=0.1, constraints=cs)
    m1 = suite.run(spark, corpus, run_dir, resume=True)
    assert m1["partitions_resumed_skip"] == 0
    v1 = {
        r["lang"]: r
        for r in spark.read.parquet(os.path.join(run_dir, "verdicts")).collect()
    }
    assert all(v["constraint_pass"] for v in v1.values())

    # resume again with the same check set: everything skips and
    # stage B rebuilds the constraint verdict columns from the marker
    # summaries (zero-violation run -> counts 0)
    m2 = suite.run(spark, corpus, run_dir, resume=True)
    assert m2["partitions_resumed_skip"] == m1["partitions_total"]
    v2 = {
        r["lang"]: r
        for r in spark.read.parquet(os.path.join(run_dir, "verdicts")).collect()
    }
    assert all(
        v["constraint_pass"] and v["n_constraint_viol"] == 0 for v in v2.values()
    )


def test_suite_gate_rejects_unresolvable_constraint(spark, corpus, tmp_path):
    suite = ValidationSuite(
        contamination=0.1,
        # raw `content` is dropped before checks run — the zero-job
        # gate must reject it with a clear error, not die mid-run
        constraints=[RowConstraint("raw", "content IS NOT NULL")],
    )
    with pytest.raises(ValueError, match="does not parse/resolve"):
        suite.run(spark, corpus, str(tmp_path / "never_runs"))
    assert not os.path.isdir(str(tmp_path / "never_runs"))


def test_resume_recomputes_when_rule_set_changes(spark, corpus, tmp_path):
    """Markers record a fingerprint of the RowConstraint rule set;
    resuming under DIFFERENT rules must recompute, not reuse results
    the new rules never produced."""
    run_dir = str(tmp_path / "run_sig")
    a = ValidationSuite(
        contamination=0.1,
        constraints=[RowConstraint("loose", "content_length >= 0")],
    )
    m0 = a.run(spark, corpus, run_dir)
    assert m0["partitions_resumed_skip"] == 0
    v0 = spark.read.parquet(os.path.join(run_dir, "verdicts"))
    assert all(r["constraint_pass"] for r in v0.collect())

    # same check NAME, different rule -> fingerprints differ -> full
    # recompute and the impossible rule fails every partition
    b = ValidationSuite(
        contamination=0.1,
        constraints=[RowConstraint("loose", "content_length < 0")],
    )
    m1 = b.run(spark, corpus, run_dir, resume=True)
    assert m1["partitions_resumed_skip"] == 0
    v1 = spark.read.parquet(os.path.join(run_dir, "verdicts"))
    assert all(not r["constraint_pass"] for r in v1.collect())

    # unchanged rules -> markers cover, everything skips
    m2 = b.run(spark, corpus, run_dir, resume=True)
    assert m2["partitions_resumed_skip"] == m2["partitions_total"]


def test_budget_only_retune_reverdicts_without_recompute(spark, corpus, tmp_path):
    """max_violation_rate is not part of the rule-set fingerprint:
    retuning a budget re-judges the persisted per-(partition, rule)
    rates at stage B — zero stage-A recompute — and flips the
    verdicts accordingly."""
    run_dir = str(tmp_path / "run_budget")
    pred = "content_length <= 0"  # every row violates -> rate 1.0
    strict = ValidationSuite(
        contamination=0.1,
        constraints=[RowConstraint("len", pred, max_violation_rate=0.5)],
    )
    m0 = strict.run(spark, corpus, run_dir)
    assert m0["partitions_resumed_skip"] == 0
    v0 = spark.read.parquet(os.path.join(run_dir, "verdicts"))
    assert all(not r["constraint_pass"] for r in v0.collect())

    # same rule, budget loosened past the observed rate: everything
    # skips (fingerprint unchanged) and the verdict flips to pass
    lenient = ValidationSuite(
        contamination=0.1,
        constraints=[RowConstraint("len", pred, max_violation_rate=0.999)],
    )
    m1 = lenient.run(spark, corpus, run_dir, resume=True)
    assert m1["partitions_resumed_skip"] == m1["partitions_total"]
    v1 = spark.read.parquet(os.path.join(run_dir, "verdicts"))
    rows = v1.collect()
    # rate 1.0 > 0.999 still fails; drop to a rule the budget covers
    assert all(not r["constraint_pass"] for r in rows)
    ok = ValidationSuite(
        contamination=0.1,
        constraints=[RowConstraint("len", "content_length >= 0",
                                   max_violation_rate=0.0)],
    )
    # different predicate -> sig differs -> recompute, sanity-checking
    # the other direction on the same run_dir
    m2 = ok.run(spark, corpus, run_dir, resume=True)
    assert m2["partitions_resumed_skip"] == 0
    v2 = spark.read.parquet(os.path.join(run_dir, "verdicts"))
    assert all(r["constraint_pass"] for r in v2.collect())


def test_incremental_revalidation_recomputes_constraints_for_changed(
    spark, corpus, tmp_path
):
    """Constraints ride the incremental machinery: a changed partition
    recomputes its constraint artifacts over the NEW content; the
    verdict for an unchanged partition comes off its persisted
    summary."""
    run_dir = str(tmp_path / "run_inc_cons")
    # rule violated only by rows carrying the injected marker text
    cs = [RowConstraint("no_marker", "NOT path LIKE '%grown%'")]
    suite = ValidationSuite(contamination=0.1, constraints=cs)
    m0 = suite.run(spark, corpus, run_dir)
    n_langs = m0["partitions_total"]
    v0 = {
        r["lang"]: r
        for r in spark.read.parquet(os.path.join(run_dir, "verdicts")).collect()
    }
    assert all(v["constraint_pass"] for v in v0.values())

    # rewrite the python partition's paths so every row violates
    changed = corpus.withColumn(
        "path",
        F.when(
            F.col("lang") == "python", F.concat(F.col("path"), F.lit(".grown"))
        ).otherwise(F.col("path")),
    )
    m1 = suite.run_incremental(spark, changed, run_dir)
    assert m1["incremental_stale"] == ["python"]
    assert m1["incremental_skipped"] == n_langs - 1
    v1 = {
        r["lang"]: r
        for r in spark.read.parquet(os.path.join(run_dir, "verdicts")).collect()
    }
    n_python = corpus.where("lang = 'python'").count()
    assert not v1["python"]["constraint_pass"]
    assert v1["python"]["n_constraint_viol"] == n_python
    for lang, v in v1.items():
        if lang != "python":
            assert v["constraint_pass"] and v["n_constraint_viol"] == 0
