"""End-to-end engine tests: injected violations detected exactly,
drift recall on planted anomalies, and checkpoint/resume semantics."""

import os

import pytest
from pyspark.sql import functions as F

from pytod_spark.datagen import generate_repo_table, repo_commits_dim
from pytod_spark.validation import ValidationSuite
from pytod_spark.validation.features import derive_features
from pytod_spark.validation.io import has_parquet

N = 4000


@pytest.fixture(scope="module")
def corpus(spark):
    # anomaly_every=10: the planted-drift lang must exceed the verdict
    # bound (1.5 x contamination) by a robust margin, not ride the
    # global 10% outlier quota's spread across langs
    df = generate_repo_table(spark, N, seed=42, anomaly_every=10, with_labels=True).persist()
    df.count()
    return df


@pytest.fixture(scope="module")
def parent(spark):
    return repo_commits_dim(spark, N, seed=42)


def test_generator_deterministic(spark):
    a = generate_repo_table(spark, 500, seed=7, n_partitions=2).orderBy("row_id").collect()
    b = generate_repo_table(spark, 500, seed=7, n_partitions=5).orderBy("row_id").collect()
    assert a == b  # partitioning must not change the table


def test_features_invariants(spark, corpus):
    f = derive_features(corpus.limit(200))
    rows = f.select("content", "content_sha256", "content_length", "line_count").collect()
    import hashlib

    for r in rows[:20]:
        assert r["content_sha256"] == hashlib.sha256(r["content"].encode()).hexdigest()
        assert r["content_length"] == float(len(r["content"]))
        assert r["line_count"] == float(r["content"].count("\n") + 1)


def test_suite_detects_injected_violations(spark, corpus, parent, tmp_path):
    run_dir = str(tmp_path / "run1")
    suite = ValidationSuite(contamination=0.1)
    metrics = suite.run(spark, corpus.drop("is_anomaly", "is_orphan"), run_dir, parent=parent)

    # uniqueness: generator duplicates every dup_every-th row's key
    expected_dups = corpus.groupBy("repo", "path", "commit").count().where("count > 1").count()
    uniq = spark.read.parquet(os.path.join(run_dir, "uniqueness_violations"))
    assert uniq.count() == expected_dups and expected_dups > 0

    # RI: orphan commits (plus their injected duplicates) all surface
    expected_orphans = corpus.where("is_orphan = 1").count()
    ri = spark.read.parquet(os.path.join(run_dir, "ri_violations"))
    assert ri.count() == expected_orphans and expected_orphans > 0

    # drift: every planted anomaly must be flagged at the global threshold
    flagged = spark.read.parquet(os.path.join(run_dir, "drift_violations"))
    planted = {
        (r["repo"], r["path"], r["commit"])
        for r in corpus.where("is_anomaly = 1").select("repo", "path", "commit").collect()
    }
    got = {(r["repo"], r["path"], r["commit"]) for r in flagged.collect()}
    assert planted, "fixture must plant anomalies"
    missed = planted - got
    assert not missed, f"drift stage missed {len(missed)} planted anomalies"

    # verdicts: the anomaly-injected lang fails, clean langs pass drift
    verdicts = {r["lang"]: r for r in spark.read.parquet(os.path.join(run_dir, "verdicts")).collect()}
    from pytod_spark.datagen.repo_table import ANOMALY_LANG

    assert not verdicts[ANOMALY_LANG]["drift_pass"]
    assert metrics["rows_total"] == corpus.count()
    assert metrics["files_per_sec"] > 0


def test_resume_skips_completed_partitions(spark, corpus, parent, tmp_path):
    run_dir = str(tmp_path / "run2")
    clean = corpus.drop("is_anomaly", "is_orphan")
    suite = ValidationSuite(contamination=0.1)

    # first run: only two partitions' worth of data "arrives"
    first = clean.where(F.col("lang").isin(["python", "java"]))
    m1 = suite.run(spark, first, run_dir, parent=parent)
    assert m1["partitions_resumed_skip"] == 0

    # second run over the full table: python/java must be skipped
    m2 = suite.run(spark, clean, run_dir, parent=parent)
    assert m2["partitions_resumed_skip"] == 2
    assert m2["stage_a_rows"] < m1["rows_total"] + m2["rows_total"]

    # third run: nothing pending, stage A untouched, verdicts still full
    m3 = suite.run(spark, clean, run_dir, parent=parent)
    assert m3["stage_a_rows"] == 0
    verdicts = spark.read.parquet(os.path.join(run_dir, "verdicts"))
    assert verdicts.count() == clean.select("lang").distinct().count()

    # resume reruns are idempotent: no duplicated violation rows
    uniq_total = spark.read.parquet(os.path.join(run_dir, "uniqueness_violations")).count()
    expected = clean.groupBy("repo", "path", "commit").count().where("count > 1").count()
    assert uniq_total == expected


def test_engine_dist_drift_check_flags_injected_snapshot_shift(
    spark, corpus, parent, tmp_path
):
    """The engine's fifth check (PSI + KS vs a reference snapshot):
    inject a doubled-content shift into ONE lang of the current
    snapshot — that lang must fail dist_pass with psi_max > 0.2, every
    untouched lang must pass with psi_max == 0 (ref == cur there)."""
    import json

    run_dir = str(tmp_path / "run_dist")
    clean = corpus.drop("is_anomaly", "is_orphan")
    shifted = clean.withColumn(
        "content",
        F.when(
            F.col("lang") == "python",
            F.concat(F.col("content"), F.lit("\n"), F.col("content")),
        ).otherwise(F.col("content")),
    )
    suite = ValidationSuite(contamination=0.1)
    suite.run(spark, shifted, run_dir, parent=parent, reference=clean)

    verdicts = {
        r["lang"]: r
        for r in spark.read.parquet(os.path.join(run_dir, "verdicts")).collect()
    }
    assert not verdicts["python"]["dist_pass"]
    assert verdicts["python"]["psi_max"] > 0.2
    assert not verdicts["python"]["partition_pass"]
    for lang, v in verdicts.items():
        if lang != "python":
            assert v["dist_pass"], f"{lang} false-positive dist drift"
            assert v["psi_max"] == 0.0

    # the per-(partition, feature) report is written and partitioned
    rep = spark.read.parquet(os.path.join(run_dir, "dist_drift"))
    from pytod_spark.validation.features import FEATURE_COLS

    assert rep.where(F.col("lang") == "python").count() == len(FEATURE_COLS)
    drifted_feats = {
        r["feature"]
        for r in rep.where(
            (F.col("lang") == "python") & (F.col("psi_drifted") == 1)
        ).collect()
    }
    assert "content_length" in drifted_feats

    # resume marker records the fifth check
    with open(os.path.join(run_dir, "markers", "python.json")) as fh:
        assert "dist_drift" in json.load(fh)["checks"]


def test_engine_dist_drift_resume_path_rebuilds_from_markers(
    spark, corpus, parent, tmp_path
):
    """Stage B on a resumed run rebuilds the dist verdicts from the
    dist summary persisted in each partition's completion marker."""
    run_dir = str(tmp_path / "run_dist_resume")
    clean = corpus.drop("is_anomaly", "is_orphan")
    shifted = clean.withColumn(
        "content",
        F.when(
            F.col("lang") == "python",
            F.concat(F.col("content"), F.lit("\n"), F.col("content")),
        ).otherwise(F.col("content")),
    )
    suite = ValidationSuite(contamination=0.1)
    suite.run(spark, shifted, run_dir, parent=parent, reference=clean)
    # second run: nothing pending -> stage B reads the marker summaries
    suite.run(spark, shifted, run_dir, parent=parent, reference=clean)
    verdicts = {
        r["lang"]: r
        for r in spark.read.parquet(os.path.join(run_dir, "verdicts")).collect()
    }
    assert not verdicts["python"]["dist_pass"]
    assert verdicts["python"]["psi_max"] > 0.2


def test_psi_detects_shift_and_handles_degenerate_group(spark):
    """PSI flags a shifted snapshot; a constant-value reference group
    (zero bin width) degrades to bin 0 instead of NaN/Inf bins."""
    from pyspark.sql import functions as F

    from pytod_spark.validation.psi import psi_report

    # group 'shift': ref uniform 0..99, cur shifted +60
    rows = [
        ("shift", float((i // 2) % 100) + (0.0 if i % 2 == 0 else 60.0),
         i % 2 == 0)
        for i in range(2000)
    ] + [("const", 5.0, i % 2 == 0) for i in range(200)]
    df = spark.createDataFrame(rows, "g string, value double, is_ref boolean")
    out = {r["g"]: r for r in psi_report(
        df, F.col("is_ref"), "value", "g").collect()}
    assert out["shift"]["drifted"] == 1 and out["shift"]["psi"] > 0.2
    assert out["const"]["psi"] == 0.0 and out["const"]["drifted"] == 0


def test_ks_flags_shift_not_identical(spark):
    from pyspark.sql import functions as F

    from pytod_spark.validation.ks import ks_report

    # pair i%2 with (i // 2) % 50 so both sides see identical values
    # (i % 2 and i % 50 correlate: even i only hits even residues)
    rows = [
        ("same", float((i // 2) % 50), i % 2 == 0) for i in range(2000)
    ] + [
        ("shift", float((i // 2) % 50) + (0.0 if i % 2 == 0 else 20.0),
         i % 2 == 0)
        for i in range(2000)
    ]
    df = spark.createDataFrame(rows, "g string, value double, is_ref boolean")
    out = {r["g"]: r for r in ks_report(
        df, F.col("is_ref"), "value", "g").collect()}
    assert out["same"]["ks_d"] == 0.0 and out["same"]["drifted"] == 0
    assert out["shift"]["drifted"] == 1 and out["shift"]["ks_d"] >= 0.35


def test_ks_one_sided_group_is_max_drift(spark):
    """A group present in only one snapshot must report ks_d=1.0 and
    drifted=1 (not silent NULLs from the 0/0 ECDF)."""
    from pyspark.sql import functions as F

    from pytod_spark.validation.ks import ks_report

    rows = [("both", float(i % 20), i % 2 == 0) for i in range(200)] + [
        ("newgrp", float(i), False) for i in range(50)
    ]
    df = spark.createDataFrame(rows, "g string, value double, is_ref boolean")
    out = {r["g"]: r for r in ks_report(df, F.col("is_ref"), "value", "g").collect()}
    assert out["newgrp"]["ks_d"] == 1.0 and out["newgrp"]["drifted"] == 1
    assert out["both"]["drifted"] == 0


def test_engine_reference_profile_path_matches_inline_reference(
    spark, corpus, parent, tmp_path
):
    """The prebuilt-profile path (reference scanned once ever, profile
    persisted to parquet) must produce the exact same dist_drift
    report and verdicts as passing the raw reference snapshot."""
    from pytod_spark.validation.profile import build_snapshot_profile

    clean = corpus.drop("is_anomaly", "is_orphan")
    shifted = clean.withColumn(
        "content",
        F.when(
            F.col("lang") == "python",
            F.concat(F.col("content"), F.lit("\n"), F.col("content")),
        ).otherwise(F.col("content")),
    )
    suite = ValidationSuite(contamination=0.1)

    run_inline = str(tmp_path / "run_inline")
    suite.run(spark, shifted, run_inline, parent=parent, reference=clean)

    # parquet round-trip: the deployment contract is a profile built
    # once and read back in later runs
    prof_path = str(tmp_path / "ref_profile")
    build_snapshot_profile(clean).write.parquet(prof_path)
    run_prof = str(tmp_path / "run_prof")
    suite.run(
        spark, shifted, run_prof, parent=parent,
        reference_profile=spark.read.parquet(prof_path),
    )

    def _report(run_dir):
        return sorted(
            (r["lang"], r["feature"], round(r["psi"], 12),
             round(r["ks_d"], 12), r["psi_drifted"], r["ks_drifted"])
            for r in spark.read.parquet(
                os.path.join(run_dir, "dist_drift")
            ).collect()
        )

    assert _report(run_prof) == _report(run_inline)

    def _verdicts(run_dir):
        return sorted(
            tuple(r) for r in spark.read.parquet(
                os.path.join(run_dir, "verdicts")
            ).collect()
        )

    assert _verdicts(run_prof) == _verdicts(run_inline)


def test_engine_reference_profile_input_gates(spark, corpus, parent, tmp_path):
    """Both-references is a usage error; a frame that is not a profile
    must fail the driver-side gate before any job runs."""
    clean = corpus.drop("is_anomaly", "is_orphan")
    suite = ValidationSuite(contamination=0.1)
    with pytest.raises(ValueError, match="not both"):
        suite.run(
            spark, clean, str(tmp_path / "r1"), parent=parent,
            reference=clean, reference_profile=clean,
        )
    with pytest.raises(ValueError, match="missing column"):
        suite.run(
            spark, clean, str(tmp_path / "r2"), parent=parent,
            reference_profile=clean,
        )
    # a profile with the right COLUMNS but a stale/renamed feature set
    # (older FEATURE_COLS) would full_outer-join into one-sided groups
    # that KS deliberately scores D=1.0 — i.e. guaranteed false FAILs;
    # the gate must reject it loudly instead
    from pyspark.sql import functions as F

    from pytod_spark.validation.features import FEATURE_COLS
    from pytod_spark.validation.profile import build_snapshot_profile

    stale = build_snapshot_profile(clean).withColumn(
        "feature",
        F.when(F.col("feature") == FEATURE_COLS[0], F.lit("renamed_feat"))
        .otherwise(F.col("feature")),
    )
    with pytest.raises(ValueError, match="feature set"):
        suite.run(
            spark, clean, str(tmp_path / "r3"), parent=parent,
            reference_profile=stale,
        )


def test_engine_dist_drift_no_false_positive_on_same_distribution(
    spark, corpus, parent, tmp_path
):
    """Two INDEPENDENT snapshots of the same distribution (different
    generator seeds, so per-value counts genuinely differ) must not
    fail dist_pass: each KS verdict is a significance test, and
    AND-ing |FEATURE_COLS| of them per partition without correction
    would false-fail ~30% of partitions at alpha=0.05. The engine
    Bonferroni-corrects, keeping the per-partition false-fail at 5%."""
    run_dir = str(tmp_path / "run_same_dist")
    cur = corpus.drop("is_anomaly", "is_orphan")
    ref = generate_repo_table(spark, N, seed=43, anomaly_every=10)
    suite = ValidationSuite(contamination=0.1)
    suite.run(spark, cur, run_dir, parent=parent, reference=ref)
    verdicts = spark.read.parquet(os.path.join(run_dir, "verdicts")).collect()
    assert verdicts, "no verdicts written"
    for v in verdicts:
        assert v["dist_pass"], (
            f"{v['lang']} false-positive dist drift on identical "
            f"distributions (n_dist_drifted={v['n_dist_drifted']})"
        )


def test_schema_gate_covers_reference_snapshot(spark, corpus, parent, tmp_path):
    """A drifted REFERENCE schema must fail at the zero-job gate, not
    as an AnalysisException deep inside the dist-drift job."""
    from pytod_spark.validation import SchemaContractError

    clean = corpus.drop("is_anomaly", "is_orphan")
    bad_ref = clean.withColumn("content", F.length("content"))
    suite = ValidationSuite(contamination=0.1)
    with pytest.raises(SchemaContractError, match="content"):
        suite.run(spark, clean, str(tmp_path / "run_badref"),
                  parent=parent, reference=bad_ref)
    assert not os.path.isdir(str(tmp_path / "run_badref" / "markers"))


def _clean_corpus(spark, n=600):
    """Hand-built corpus with ZERO violations: unique keys, no
    orphans (parent derived from it), benign content."""
    rows = [
        (i, f"repo{i % 7}", f"src/f{i}.py", f"c{i % 7}", ["python", "go", "rust"][i % 3],
         f"def f{i}():\n    return {i} + {i*3}\n" * (2 + i % 5))
        for i in range(n)
    ]
    df = spark.createDataFrame(
        rows, "row_id long, repo string, path string, commit string, "
              "lang string, content string")
    parent = df.select("repo", "commit").distinct()
    return df, parent


def test_resume_into_zero_violation_run_dir_does_not_crash(spark, tmp_path):
    """The healthy zero-violation case: run 1 writes EMPTY
    uniqueness/ri violation artifacts (only _SUCCESS — no parquet
    files to infer a schema from); a resumed run must report them as
    'no rows', not die on schema inference."""
    df, parent = _clean_corpus(spark)
    run_dir = str(tmp_path / "run_zero")
    suite = ValidationSuite(contamination=0.1)
    m1 = suite.run(spark, df, run_dir, parent=parent)
    assert m1["partitions_resumed_skip"] == 0
    # second run, resume=True, all partitions done -> pure stage-B
    # rebuild from the completion markers
    m2 = suite.run(spark, df, run_dir, parent=parent)
    assert m2["partitions_resumed_skip"] == 3
    verdicts = spark.read.parquet(os.path.join(run_dir, "verdicts")).collect()
    assert {v["lang"] for v in verdicts} == {"python", "go", "rust"}
    for v in verdicts:
        assert v["uniqueness_pass"] and v["ri_pass"]


def test_restart_clears_stale_violation_partitions(spark, corpus, parent, tmp_path):
    """resume=False into an existing run_dir must start over: dynamic
    partition overwrite alone would keep a partition's old violation
    files when the re-run produces zero rows for it."""
    run_dir = str(tmp_path / "run_restart")
    suite = ValidationSuite(contamination=0.1)
    suite.run(spark, corpus.drop("is_anomaly", "is_orphan"), run_dir,
              parent=parent, resume=False)
    n_viol_1 = spark.read.parquet(
        os.path.join(run_dir, "uniqueness_violations")).count()
    assert n_viol_1 > 0, "fixture must plant duplicate keys"
    # fixed upstream: dedupe the keys, re-run into the SAME dir
    fixed = (corpus.drop("is_anomaly", "is_orphan")
             .dropDuplicates(["repo", "path", "commit"]))
    suite.run(spark, fixed, run_dir, parent=parent, resume=False)
    assert not has_parquet(
        os.path.join(run_dir, "uniqueness_violations")
    ), "stale violation partitions must be wiped on restart"
    verdicts = spark.read.parquet(os.path.join(run_dir, "verdicts")).collect()
    assert all(v["uniqueness_pass"] for v in verdicts)


def test_null_content_and_missing_row_id_tolerated(spark, tmp_path):
    """NULL content rows must flow through the Arrow feature kernel as
    empty documents (not AttributeError), and a source without the
    engine-internal row_id column gets one synthesized."""
    df, parent = _clean_corpus(spark, n=400)
    df = df.drop("row_id")
    df = df.withColumn(
        "content",
        F.when(F.col("path") == "src/f3.py", F.lit(None)).otherwise(F.col("content")),
    )
    m = ValidationSuite(contamination=0.1).run(
        spark, df, str(tmp_path / "run_null"), parent=parent)
    assert m["stage_a_rows"] == 400
    feats = derive_features(df.limit(50))
    row = feats.where(F.col("path") == "src/f3.py").first()
    assert row["content_length"] == 0.0 and row["token_count"] == 0.0
    assert row["content_sha256"] is not None


def test_schema_contract_gate(spark, corpus, tmp_path):
    """The engine's zero-job schema gate: missing / mistyped contract
    columns fail before any data is read; extra columns are fine
    (non-strict); strict mode flags them."""
    from pytod_spark.validation import SchemaContractError, schema_violations

    clean = corpus.drop("is_anomaly", "is_orphan")
    assert schema_violations(clean) == []
    # extra (label) columns don't violate the default contract
    assert schema_violations(corpus) == []
    extras = {v["column"] for v in schema_violations(corpus, strict=True)}
    assert {"is_anomaly", "is_orphan"} <= extras

    missing = schema_violations(clean.drop("commit"))
    assert missing == [{"column": "commit", "violation": "missing",
                        "expected": "string", "actual": None}]
    mistyped = schema_violations(
        clean.withColumn("content", F.length("content")))
    assert mistyped[0]["violation"] == "type_mismatch"
    assert mistyped[0]["actual"] == "int"

    suite = ValidationSuite(contamination=0.1)
    with pytest.raises(SchemaContractError, match="commit: missing"):
        suite.run(spark, clean.drop("commit"), str(tmp_path / "run"))
    # no run artifacts were produced by the failed gate
    assert not os.path.isdir(str(tmp_path / "run" / "markers"))
    # gate can be disabled explicitly
    assert ValidationSuite(schema_contract={}).schema_contract == {}


def test_empty_input_run_records_null_threshold(spark, tmp_path):
    """An empty corpus (or a snapshot whose partitions all vanished)
    must complete with threshold=None, zero verdicts, and no unbound-
    variable crash in stage B."""
    empty = spark.createDataFrame(
        [], "repo string, path string, commit string, lang string, content string"
    )
    suite = ValidationSuite(contamination=0.1)
    m = suite.run(spark, empty, str(tmp_path / "run_empty"))
    assert m["threshold"] is None
    assert m["rows_total"] == 0 and m["partitions_total"] == 0
    assert m["failed_partitions"] == []


def test_incremental_fingerprint_scan_recomputes_only_changed(
    spark, corpus, parent, tmp_path
):
    """run_incremental with no metadata hint: one map+agg fingerprint
    scan pins exactly the changed partition; unchanged partitions are
    skipped, a no-change rerun recomputes nothing, and the stale
    partition's stats are genuinely recomputed over the new content."""
    run_dir = str(tmp_path / "run_inc")
    clean = corpus.drop("is_anomaly", "is_orphan")
    suite = ValidationSuite(contamination=0.1)
    m0 = suite.run(spark, clean, run_dir, parent=parent)
    n_langs = m0["partitions_total"]

    # markers now carry fingerprints
    mk = suite._read_marker(run_dir, "python")
    assert mk["fingerprint"] is not None and mk["fingerprint"]["n"] > 0

    # no-change incremental: nothing stale, zero stage-A work
    m1 = suite.run_incremental(spark, clean, run_dir, parent=parent)
    assert m1["incremental_stale"] == []
    assert m1["stage_a_rows"] == 0
    assert m1["incremental_skipped"] == n_langs
    assert "fingerprint_scan" in m1["phase_times"]

    # grow every python file: only that partition goes stale
    changed = clean.withColumn(
        "content",
        F.when(F.col("lang") == "python", F.concat(F.col("content"), F.lit("\nx = 1")))
        .otherwise(F.col("content")),
    )
    m2 = suite.run_incremental(spark, changed, run_dir, parent=parent)
    assert m2["incremental_stale"] == ["python"]
    assert m2["incremental_skipped"] == n_langs - 1
    n_python = clean.where("lang = 'python'").count()
    assert m2["stage_a_rows"] == n_python

    # the recomputed stats reflect the new content (+6 chars per file)
    stats = spark.read.parquet(os.path.join(run_dir, "stats"))
    got = stats.where(
        "lang = 'python' and col_name = 'content_length'"
    ).collect()[0]["mean_v"]
    want = (
        derive_features(changed.where("lang = 'python'"))
        .agg(F.avg("content_length"))
        .collect()[0][0]
    )
    assert abs(got - want) < 1e-6
    # verdicts still cover every lang
    verdicts = spark.read.parquet(os.path.join(run_dir, "verdicts"))
    assert verdicts.count() == n_langs


def test_incremental_metadata_path_clears_stale_violations(
    spark, corpus, parent, tmp_path
):
    """changed_partitions= (the Iceberg-snapshot-diff path): no
    fingerprint scan runs, and a stale partition whose re-run is now
    violation-free loses its old violation files — dynamic partition
    overwrite alone would have left them behind."""
    run_dir = str(tmp_path / "run_inc_meta")
    clean = corpus.drop("is_anomaly", "is_orphan")
    suite = ValidationSuite(contamination=0.1)
    suite.run(spark, clean, run_dir, parent=parent)

    uniq = spark.read.parquet(os.path.join(run_dir, "uniqueness_violations"))
    before = uniq.where("lang = 'js'").count()
    assert before > 0, "fixture must plant duplicate keys in js"

    # js arrives deduplicated in the next snapshot
    fixed = clean.where("lang != 'js'").unionByName(
        clean.where("lang = 'js'").dropDuplicates(["repo", "path", "commit"])
    )
    m = suite.run_incremental(
        spark, fixed, run_dir, parent=parent, changed_partitions=["js"]
    )
    assert m["incremental_stale"] == ["js"]
    assert "fingerprint_scan" not in m["phase_times"]

    uniq2 = spark.read.parquet(os.path.join(run_dir, "uniqueness_violations"))
    assert uniq2.where("lang = 'js'").count() == 0
    # other partitions' violations are untouched
    assert uniq2.count() == uniq.where("lang != 'js'").count()
    # js's verdict flips to uniqueness_pass
    v = spark.read.parquet(os.path.join(run_dir, "verdicts"))
    assert v.where("lang = 'js'").collect()[0]["uniqueness_pass"]


def test_snapshot_listing_diff_feeds_incremental(spark, corpus, parent, tmp_path):
    """Plain-parquet analogue of an Iceberg snapshot diff: new files
    since the stored listing are pinned by a column-pruned read of
    only those files, and the result drives run_incremental's
    metadata path end-to-end."""
    from pytod_spark.validation import (
        changed_partitions_between,
        snapshot_listing,
    )

    snap = str(tmp_path / "snap")
    clean = corpus.drop("is_anomaly", "is_orphan")
    clean.write.parquet(snap)
    listing = snapshot_listing(snap)
    assert listing and all(v > 0 for v in listing.values())

    run_dir = str(tmp_path / "run_snap")
    suite = ValidationSuite(contamination=0.1)
    suite.run(spark, spark.read.parquet(snap), run_dir, parent=parent)

    # unchanged snapshot: nothing to do, zero data read
    changed, removed = changed_partitions_between(spark, listing, snap)
    assert changed == [] and removed == []

    # append-style evolution: new files land for ONE lang
    extra = clean.where("lang = 'rust'").limit(50).withColumn(
        "path", F.concat(F.col("path"), F.lit(".new"))
    )
    extra.write.mode("append").parquet(snap)
    changed, removed = changed_partitions_between(spark, listing, snap)
    assert changed == ["rust"] and removed == []

    m = suite.run_incremental(
        spark, spark.read.parquet(snap), run_dir, parent=parent,
        changed_partitions=changed,
    )
    assert m["incremental_stale"] == ["rust"]
    n_rust = clean.where("lang = 'rust'").count() + 50
    assert m["stage_a_rows"] == n_rust

    # removed files are reported (immutability violated -> caller
    # escalates to the fingerprint scan or full rerun)
    some_file = next(iter(snapshot_listing(snap)))
    os.remove(os.path.join(snap, some_file))
    _, removed = changed_partitions_between(spark, snapshot_listing(snap) | {some_file: 1}, snap)
    assert removed == [some_file]


def test_fingerprint_sees_identical_pair_change(spark):
    """xor alone is blind to a change applied to BOTH copies of a
    duplicated row (h^h = 0 before and after); the decimal-sum
    component must catch it."""
    from pytod_spark.validation import partition_fingerprints

    schema = "repo string, path string, commit string, lang string, content string"
    dup = [("r", "p", "c", "go", "old")] * 2
    a = spark.createDataFrame(dup, schema)
    b = spark.createDataFrame([("r", "p", "c", "go", "new")] * 2, schema)
    fa = partition_fingerprints(a, "lang", ["repo", "path", "commit"]).collect()[0]
    fb = partition_fingerprints(b, "lang", ["repo", "path", "commit"]).collect()[0]
    assert fa["fp"] == fb["fp"] == 0  # xor of the pair cancels
    assert fa["fp_n"] == fb["fp_n"] == 2
    assert fa["fp_sum"] != fb["fp_sum"]  # the sum sees it


def test_snapshot_diff_hive_layout_zero_io(spark, corpus, tmp_path):
    """Hive-partitioned snapshot: changed partition values come
    straight from the added files' paths (no data read)."""
    from pytod_spark.validation import (
        changed_partitions_between,
        snapshot_listing,
    )

    snap = str(tmp_path / "hive_snap")
    clean = corpus.drop("is_anomaly", "is_orphan")
    clean.write.partitionBy("lang").parquet(snap)
    listing = snapshot_listing(snap)

    extra = clean.where("lang = 'go'").limit(20).withColumn(
        "path", F.concat(F.col("path"), F.lit(".new"))
    )
    extra.write.partitionBy("lang").mode("append").parquet(snap)
    changed, removed = changed_partitions_between(spark, listing, snap)
    assert changed == ["go"] and removed == []


def test_dropped_partition_loses_stale_drift_violations(
    spark, corpus, parent, tmp_path
):
    """Stage B fully regenerates drift_violations: a partition that
    leaves the table (or drops to zero violations under the new
    threshold) must not keep old violation files on disk."""
    from pytod_spark.datagen.repo_table import ANOMALY_LANG

    run_dir = str(tmp_path / "run_drop")
    # keep the planted anomalies so ANOMALY_LANG has drift violations
    noisy = corpus.drop("is_orphan").drop("is_anomaly")
    suite = ValidationSuite(contamination=0.1)
    suite.run(spark, noisy, run_dir, parent=parent)
    viol = spark.read.parquet(os.path.join(run_dir, "drift_violations"))
    assert viol.where(F.col("lang") == ANOMALY_LANG).count() > 0

    # next snapshot: the anomalous lang is gone from the table
    shrunk = noisy.where(F.col("lang") != ANOMALY_LANG)
    m = suite.run(spark, shrunk, run_dir, parent=parent)
    assert ANOMALY_LANG not in m["failed_partitions"]
    viol2 = spark.read.parquet(os.path.join(run_dir, "drift_violations"))
    assert viol2.where(F.col("lang") == ANOMALY_LANG).count() == 0
    v = spark.read.parquet(os.path.join(run_dir, "verdicts"))
    assert v.where(F.col("lang") == ANOMALY_LANG).count() == 0
    # resumed-skip counts only partitions still present
    assert m["partitions_resumed_skip"] == v.count()


def test_partition_value_with_separator_round_trips_markers(
    spark, corpus, parent, tmp_path
):
    """A partition value containing os.sep and '+' (a lang like
    'c/c++') must not turn the marker filename into a directory
    traversal: markers are %-encoded on disk, _done_partitions
    decodes them back, resume skips the partition, and metadata-path
    invalidation removes exactly its marker + hive dir (Spark itself
    %-escapes the hive dir name)."""
    renamed = corpus.drop("is_anomaly", "is_orphan").withColumn(
        "lang",
        F.when(F.col("lang") == "python", F.lit("c/c++")).otherwise(F.col("lang")),
    )
    run_dir = str(tmp_path / "run_sep")
    suite = ValidationSuite(contamination=0.1)
    m0 = suite.run(spark, renamed, run_dir, parent=parent)
    n_langs = m0["partitions_total"]

    # marker landed as ONE encoded file (no nested dir), decodes back
    mdir = os.path.join(run_dir, "markers")
    assert "c%2Fc%2B%2B.json" in os.listdir(mdir)
    assert "c/c++" in suite._done_partitions(run_dir)
    assert suite._read_marker(run_dir, "c/c++")["fingerprint"]["n"] > 0

    # resume: every partition (incl. the slash lang) is skipped
    m1 = suite.run(spark, renamed, run_dir, parent=parent, resume=True)
    assert m1["partitions_resumed_skip"] == n_langs

    # metadata-path invalidation recomputes exactly the slash lang
    m2 = suite.run_incremental(
        spark, renamed, run_dir, parent=parent, changed_partitions=["c/c++"]
    )
    assert m2["incremental_stale"] == ["c/c++"]
    assert m2["stage_a_rows"] == renamed.where(F.col("lang") == "c/c++").count()
    verdicts = spark.read.parquet(os.path.join(run_dir, "verdicts"))
    assert verdicts.where(F.col("lang") == "c/c++").count() == 1


def test_resume_recomputes_when_new_check_is_requested(
    spark, corpus, parent, tmp_path
):
    """A completion marker certifies only the checks that RAN when it
    was written. Resuming with a reference added afterwards must NOT
    skip the partitions (that would report dist_pass=True for a check
    that never executed against the drifted reference) — the coverage
    gate invalidates every under-covered marker and the dist check
    runs for real."""
    run_dir = str(tmp_path / "run_cover")
    clean = corpus.drop("is_anomaly", "is_orphan")
    shifted = clean.withColumn(
        "content",
        F.when(
            F.col("lang") == "python",
            F.concat(F.col("content"), F.lit("\n"), F.col("content")),
        ).otherwise(F.col("content")),
    )
    suite = ValidationSuite(contamination=0.1)
    # run 1: no reference — markers cover stats/uniqueness/ri/drift only
    m0 = suite.run(spark, shifted, run_dir, parent=parent)
    n_langs = m0["partitions_total"]
    assert m0["partitions_resumed_skip"] == 0

    # run 2: resume WITH a reference the current snapshot drifted from
    m1 = suite.run(spark, shifted, run_dir, parent=parent,
                   reference=clean, resume=True)
    # every marker was under-covered -> nothing skipped, all recomputed
    assert m1["partitions_resumed_skip"] == 0
    assert m1["stage_a_rows"] == shifted.count()
    verdicts = {
        r["lang"]: r
        for r in spark.read.parquet(os.path.join(run_dir, "verdicts")).collect()
    }
    assert not verdicts["python"]["dist_pass"]
    assert verdicts["python"]["psi_max"] > 0.2

    # run 3: resume with the same check set -> markers now cover it,
    # everything skips, and the persisted dist results still feed the
    # verdicts (dist_pass stays False for the drifted lang)
    m2 = suite.run(spark, shifted, run_dir, parent=parent,
                   reference=clean, resume=True)
    assert m2["partitions_resumed_skip"] == n_langs
    verdicts2 = {
        r["lang"]: r
        for r in spark.read.parquet(os.path.join(run_dir, "verdicts")).collect()
    }
    assert not verdicts2["python"]["dist_pass"]
