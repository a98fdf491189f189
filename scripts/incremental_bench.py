"""Incremental-revalidation benchmark: the nightly-rerun saving.

At 10^12 files a snapshot-over-snapshot change touches a sliver of
partitions; the win of ValidationSuite.run_incremental is that the
full five-check suite runs only over the changed slice while stage B
rebuilds global verdicts from the completion markers. This script
measures that saving end-to-end on the deterministic synthetic corpus:

  1. full run over all |LANGS| partitions (the baseline cost),
  2. one partition's content changes ->
     a. run_incremental with the fingerprint scan (no metadata),
     b. run_incremental with changed_partitions= (Iceberg
        snapshot-diff metadata path; no scan at all),
  3. no-change rerun (pure fingerprint-scan + stage-B cost — the
     floor an unchanged nightly pays).

Each measured run records its wall time and the engine's phase times
(stage_b_s among them). Results go into BENCH/incremental.json under
``runs[<label>]`` next to the host stamp, so two checkouts (e.g. a
parent commit and a change) can be recorded side by side. Usage:
    python scripts/incremental_bench.py [--rows 500000] [--cpus 32] \
        [--label current]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
WORK = "/dev/shm/pytod_incremental"


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=500_000)
    ap.add_argument("--cpus", type=int, default=32)
    ap.add_argument("--work", default=WORK,
                    help="scratch dir for the corpora and run dirs")
    ap.add_argument("--label", default="current",
                    help="key of this checkout's results in the output")
    args = ap.parse_args()
    work = args.work

    from pyspark.sql import functions as F

    from pytod_spark.session import get_spark
    from pytod_spark.datagen import generate_repo_table, repo_commits_dim
    from pytod_spark.validation import ValidationSuite

    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work, exist_ok=True)
    spark = get_spark(
        "incremental-bench",
        master=f"local[{args.cpus}]",
        shuffle_partitions=max(8, 2 * args.cpus),
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.local.dir": os.path.join(work, "spark-tmp"),
        },
    )
    generate_repo_table(spark, args.rows, seed=42).write.mode("overwrite").parquet(
        os.path.join(work, "corpus")
    )
    corpus = spark.read.parquet(os.path.join(work, "corpus"))
    parent = repo_commits_dim(spark, args.rows, seed=42)
    parent.write.mode("overwrite").parquet(os.path.join(work, "parent"))
    parent = spark.read.parquet(os.path.join(work, "parent"))

    # next nightly snapshot: every python file grew by one line
    changed = corpus.withColumn(
        "content",
        F.when(
            F.col("lang") == "python",
            F.concat(F.col("content"), F.lit("\nx = 1")),
        ).otherwise(F.col("content")),
    )
    changed.write.mode("overwrite").parquet(os.path.join(work, "corpus2"))
    changed = spark.read.parquet(os.path.join(work, "corpus2"))

    suite = ValidationSuite(contamination=0.1)
    results: dict[str, dict] = {}

    def timed(name: str, fn):
        t0 = time.time()
        m = fn()
        wall = time.time() - t0
        results[name] = {
            "wall_sec": round(wall, 2),
            "stage_a_rows": m["stage_a_rows"],
            "partitions_recomputed": m["partitions_total"]
            - m["partitions_resumed_skip"],
            "partitions_total": m["partitions_total"],
            "phase_times": m["phase_times"],
        }
        print(f"{name}: {wall:.2f}s stage_a_rows={m['stage_a_rows']} "
              f"stage_b={m['phase_times'].get('stage_b')}s")
        return m

    # warm the JVM/Python workers AND the incremental machinery (the
    # non-fresh stage B + the corpus2 scan) so no
    # measured run pays first-touch costs the others skip
    suite.run(spark, corpus, os.path.join(work, "warm"), parent=parent)
    suite.run_incremental(spark, changed, os.path.join(work, "warm"), parent=parent)
    shutil.rmtree(os.path.join(work, "warm"), ignore_errors=True)

    def reset_run_dir():
        shutil.rmtree(os.path.join(work, "run"), ignore_errors=True)
        suite.run(spark, corpus, os.path.join(work, "run"), parent=parent)

    timed(
        "full_run",
        lambda: suite.run(spark, corpus, os.path.join(work, "run"), parent=parent),
    )
    # identical prior state for both incremental variants
    timed(
        "incremental_fingerprint_scan",
        lambda: suite.run_incremental(
            spark, changed, os.path.join(work, "run"), parent=parent
        ),
    )
    reset_run_dir()
    timed(
        "incremental_metadata",
        lambda: suite.run_incremental(
            spark,
            changed,
            os.path.join(work, "run"),
            parent=parent,
            changed_partitions=["python"],
        ),
    )
    timed(
        "incremental_no_change",
        lambda: suite.run_incremental(
            spark, changed, os.path.join(work, "run"), parent=parent
        ),
    )

    run = {
        "rows": args.rows,
        "cpus": args.cpus,
        "partitions": results["full_run"]["partitions_total"],
        "results": results,
        "speedup_fingerprint": round(
            results["full_run"]["wall_sec"]
            / results["incremental_fingerprint_scan"]["wall_sec"],
            2,
        ),
        "speedup_metadata": round(
            results["full_run"]["wall_sec"]
            / results["incremental_metadata"]["wall_sec"],
            2,
        ),
        "speedup_no_change": round(
            results["full_run"]["wall_sec"]
            / results["incremental_no_change"]["wall_sec"],
            2,
        ),
    }
    import platform

    import pyspark

    dst = os.path.join(REPO, "BENCH", "incremental.json")
    out = {}
    if os.path.exists(dst):
        with open(dst) as fh:
            out = json.load(fh)
    out = {
        "host": {
            "nproc": os.cpu_count(),
            "machine": platform.machine(),
            "pyspark": pyspark.__version__,
        },
        "runs": {**out.get("runs", {}), args.label: run},
    }
    with open(dst, "w") as fh:
        json.dump(out, fh, indent=2)
    print(json.dumps(run))
    shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
