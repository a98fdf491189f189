"""Stage A's model-sized outputs (stats, constraint_summary,
dist_drift) are collected once and written from the driver. These
tests pin what that must keep: the hive layout Spark's own writer
produces, partition values that round-trip through every reader, and
a per-check job budget."""

import os

import pytest
from pyspark.sql import functions as F

from pytod_spark.datagen import generate_repo_table, repo_commits_dim
from pytod_spark.datagen.repo_table import LANGS
from pytod_spark.validation import RowConstraint, ValidationSuite
from pytod_spark.validation.io import (
    read_string_partitioned,
    rows_by_partition,
)
from pytod_spark.validation.report import run_report

# Spark jobs per run of each check, at about 500 rows in 5 partitions
# with a parent, a reference and constraints (measured on a 4-core
# host: 4, 3 and 5; before the driver-side writes and the PSI/KS
# kernel they were 35, 6 and 8)
DIST_DRIFT_JOBS = 5
STATS_JOBS = 3
CONSTRAINTS_JOBS = 5

# partition values that hive escaping, %-decoding and partition type
# inference each get wrong when a reader is careless
ODD_VALUES = ["c#", "a/b", "x=y", "007", "x y+z"]
MODEL_SIZED = ("stats", "constraint_summary", "dist_drift")


def _odd_langs(df):
    lang = F.col("lang")
    for src, dst in zip(LANGS, ODD_VALUES):
        lang = F.when(F.col("lang") == src, F.lit(dst)).otherwise(lang)
    return df.withColumn("lang", lang)


@pytest.fixture(scope="module")
def odd_run(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("stage_a")
    df = _odd_langs(generate_repo_table(spark, 500, seed=21))
    ref = _odd_langs(generate_repo_table(spark, 500, seed=22))
    parent = repo_commits_dim(spark, 500, seed=21)
    suite = ValidationSuite(
        contamination=0.1,
        constraints=[
            RowConstraint("len_soft", "content_length <= 2000",
                          max_violation_rate=0.25),
            RowConstraint("path_format", "length(path) > 0"),
        ],
    )
    run_dir = str(base / "odd_run")
    suite.run(spark, df, run_dir, parent=parent, reference=ref)
    # the directory names Spark's writer gives the same values
    spark_dir = str(base / "spark_written")
    spark.createDataFrame([(v, 1) for v in ODD_VALUES], "lang string, x int") \
        .write.partitionBy("lang").parquet(spark_dir)
    spark_names = {d for d in os.listdir(spark_dir) if d.startswith("lang=")}
    return run_dir, spark_names


def test_driver_written_outputs_round_trip_odd_partition_values(spark, odd_run):
    run_dir, spark_names = odd_run
    assert len(spark_names) == len(ODD_VALUES)
    for name in MODEL_SIZED:
        path = os.path.join(run_dir, name)
        assert set(os.listdir(path)) == spark_names, name
        for d in spark_names:
            # one atomically replaced file per partition, no temp left
            assert os.listdir(os.path.join(path, d)) == ["part-00000.parquet"]
        rows = read_string_partitioned(spark, path).collect()
        assert {r["lang"] for r in rows} == set(ODD_VALUES), name
        per_part = {v: 0 for v in ODD_VALUES}
        for r in rows:
            per_part[r["lang"]] += 1
        assert rows_by_partition(path, "lang") == per_part, name
        assert rows_by_partition(path, "lang", ["a/b", "nope"]) == {
            "a/b": per_part["a/b"], "nope": 0
        }
    rep = run_report(spark, run_dir)
    assert set(rep["partitions"]) == set(ODD_VALUES)
    for part, entry in rep["partitions"].items():
        assert entry["counts"]["n_rows"] > 0, part


def test_driver_written_outputs_keep_their_spark_schema(spark, odd_run):
    run_dir, _ = odd_run
    dd = read_string_partitioned(spark, os.path.join(run_dir, "dist_drift"))
    assert [(f.name, f.dataType.simpleString()) for f in dd.schema.fields] == [
        ("feature", "string"), ("n_ref", "bigint"), ("n_cur", "bigint"),
        ("psi", "double"), ("psi_drifted", "int"), ("ks_d", "double"),
        ("ks_crit", "double"), ("ks_drifted", "int"), ("lang", "string"),
    ]
    summ = read_string_partitioned(
        spark, os.path.join(run_dir, "constraint_summary")
    )
    assert summ.columns == [
        "constraint", "n_rows", "n_violations", "violation_rate", "lang",
    ]


def test_stage_a_job_budget(spark, odd_run):
    """A job-count guard: the model-sized checks must not drift back to
    a chain of windows, joins and Spark writes."""
    tracker = spark.sparkContext.statusTracker()
    got = {
        check: len(tracker.getJobIdsForGroup(f"odd_run:{check}"))
        for check in ("dist_drift", "stats", "constraints")
    }
    budget = {
        "dist_drift": DIST_DRIFT_JOBS,
        "stats": STATS_JOBS,
        "constraints": CONSTRAINTS_JOBS,
    }
    for check, n in got.items():
        assert 0 < n <= budget[check], (check, got)
