"""spark-submit entrypoint.

Usage (cluster) — spark-submit takes a script path, not -m; ship the
wrapper next to the zip (scripts/submit_main.py re-exports this main):
    spark-submit --master yarn --py-files pytod_spark.zip \\
        submit_main.py validate \\
        --input s3://corpus/files --parent s3://corpus/commits \\
        --run-dir s3://runs/2026-08-16 [--no-resume]

Sandbox:
    python -m pytod_spark.cli generate --rows 100000 --out /tmp/corpus
    python -m pytod_spark.cli validate --input /tmp/corpus --run-dir /tmp/run1
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql.functions import col as F_col

from .datagen import generate_repo_table, repo_commits_dim
from .deploy import ensure_shipped
from .session import get_spark
from .validation import ValidationSuite


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="pytod_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    g = sub.add_parser("generate", help="write the deterministic synthetic corpus")
    g.add_argument("--rows", type=int, required=True)
    g.add_argument("--seed", type=int, default=42)
    g.add_argument("--out", required=True)
    g.add_argument("--parent-out", default=None)

    v = sub.add_parser("validate", help="run the validation suite")
    v.add_argument("--input", required=True, help="parquet dir, table:/iceberg:<name>, or jsonl:/json:/csv:/orc:<path> of (repo,path,commit,lang,content)")
    v.add_argument("--parent", default=None, help="parquet dir of the (repo,commit) dimension")
    v.add_argument("--run-dir", required=True)
    v.add_argument("--detector", default="hbos", choices=["hbos", "knn", "lof", "ecod", "copod", "pca", "abod"])
    v.add_argument("--contamination", type=float, default=0.1)
    v.add_argument("--no-resume", action="store_true")
    v.add_argument("--incremental", action="store_true",
                   help="re-validate only partitions whose content changed since the last run in --run-dir (fingerprint scan, or --changed-partitions metadata)")
    v.add_argument("--changed-partitions", default=None,
                   help="comma-separated partition values known to have changed (e.g. from an Iceberg snapshot diff); implies --incremental and skips the fingerprint scan")
    v.add_argument("--reference", default=None,
                   help="prior snapshot of the same table; enables the PSI+KS dist-drift check (rescans the reference)")
    v.add_argument("--reference-profile", default=None,
                   help="PREBUILT counts profile of the reference snapshot (see the profile subcommand) — same check, reference never rescanned")
    v.add_argument("--constraint", action="append", default=[],
                   metavar="NAME[@MAX_RATE]=PREDICATE",
                   help="declarative row constraint over the feature frame "
                        "(repeatable), e.g. 'path_len=content_length < 1e7' "
                        "or 'has_tokens@0.01=token_count > 0'; a partition "
                        "fails when its violation rate exceeds MAX_RATE "
                        "(default 0)")
    v.add_argument("--strict", action="store_true",
                   help="exit 3 when any partition fails its verdict "
                        "(CI gate; metrics JSON still prints)")
    v.add_argument("--constraints-file", default=None,
                   help="JSON file with a list of rules "
                        '[{"name": ..., "predicate": ..., '
                        '"max_violation_rate": 0.0}, ...]; merged with '
                        "--constraint flags (duplicate names rejected)")
    v.add_argument("--repeats", type=int, default=1,
                   help="run the suite N times inside this one JVM "
                   "(scaling/bench methodology: warmup accrues, best rep "
                   "reported, all reps listed; each rep gets a fresh "
                   "<run-dir>/repK and resume is forced off)")
    v.add_argument("--master", default=None)

    rp = sub.add_parser("report", help="condense a completed validate run into one JSON (verdicts + example violations)")
    rp.add_argument("--run-dir", required=True)
    rp.add_argument("--examples", type=int, default=3,
                    help="max example violation rows per (partition, check)")
    rp.add_argument("--partition-col", default="lang")
    rp.add_argument("--master", default=None)

    pr = sub.add_parser("profile", help="build the persistable drift profile of a snapshot (feeds validate --reference-profile)")
    pr.add_argument("--input", required=True, help="corpus snapshot (repo,path,commit,lang,content)")
    pr.add_argument("--out", required=True, help="output parquet for the (lang, feature, value, __n) profile")
    pr.add_argument("--partition-col", default="lang")
    pr.add_argument("--master", default=None)

    d = sub.add_parser("dedup", help="exact + MinHash near-dup clusters over a documents table")
    d.add_argument("--input", required=True, help="parquet dir, table:/iceberg:<name>, or jsonl:/json:/csv:/orc:<path> with (doc_id, text)")
    d.add_argument("--out", required=True, help="output parquet dir for (doc_id, cluster_id)")
    d.add_argument("--threshold", type=float, default=0.5, help="Jaccard threshold")
    d.add_argument("--master", default=None)

    k = sub.add_parser("drift", help="PSI + KS drift between two table snapshots")
    k.add_argument("--ref", required=True, help="reference snapshot (parquet dir, table:/iceberg:<name>, or jsonl:/json:/csv:/orc:<path>)")
    k.add_argument("--cur", required=True, help="current snapshot")
    k.add_argument("--value-col", default="value")
    k.add_argument("--group-col", default="lang")
    k.add_argument("--master", default=None)

    pp = sub.add_parser("prepare", help="full corpus prep: dedup -> decontaminate -> quality -> sample -> shuffle -> chunk -> shard")
    pp.add_argument("--input", required=True, help="raw corpus (doc_id, text)")
    pp.add_argument("--bench", default=None, help="optional benchmark set for decontamination")
    pp.add_argument("--out", required=True, help="output parquet (chunks with shard_id)")
    pp.add_argument("--chunk-tokens", type=int, default=512)
    pp.add_argument("--overlap", type=int, default=64)
    pp.add_argument("--shard-tokens", type=int, default=100_000)
    pp.add_argument("--min-quality", type=float, default=0.3)
    pp.add_argument("--sample-fraction", type=float, default=1.0)
    pp.add_argument("--contamination-threshold", type=float, default=0.05)
    pp.add_argument("--redact", action="store_true",
                    help="scrub PII (emails/IPs/hex secrets) before chunking")
    pp.add_argument("--master", default=None)

    c = sub.add_parser("chunk", help="split documents into overlapping fixed-token chunks")
    c.add_argument("--input", required=True, help="parquet dir, table:/iceberg:<name>, or jsonl:/json:/csv:/orc:<path> with (doc_id, text)")
    c.add_argument("--out", required=True)
    c.add_argument("--chunk-tokens", type=int, default=512)
    c.add_argument("--overlap", type=int, default=64)
    c.add_argument("--master", default=None)

    x = sub.add_parser("decontaminate", help="drop training docs overlapping a benchmark set")
    x.add_argument("--train", required=True, help="training corpus (doc_id, text)")
    x.add_argument("--bench", required=True, help="benchmark/eval set (doc_id, text)")
    x.add_argument("--out", required=True, help="cleaned corpus output (parquet)")
    x.add_argument("--threshold", type=float, default=0.05)
    x.add_argument("--master", default=None)

    fm = sub.add_parser(
        "fit-monitor",
        help="fit the streaming drift reference model (HBOS histogram + "
        "threshold) on a snapshot and persist it; a restarted stream or "
        "nightly validate then scores against the frozen artifact "
        "(streaming/drift_monitor.py load_reference_model) without refit",
    )
    fm.add_argument("--ref", required=True,
                    help="reference snapshot (parquet dir, table:/iceberg:"
                    "<name>, or jsonl:/json:/csv:/orc:<path>)")
    fm.add_argument("--value-col", default="value")
    fm.add_argument("--out", required=True,
                    help="model artifact ref (parquet dir or table:<name>)")
    fm.add_argument("--n-bins", type=int, default=10)
    fm.add_argument("--alpha", type=float, default=0.1)
    fm.add_argument("--contamination", type=float, default=0.1)
    fm.add_argument("--master", default=None)

    s = sub.add_parser("sample", help="deterministic hash sample of a table")
    s.add_argument("--input", required=True)
    s.add_argument("--out", required=True)
    s.add_argument("--fraction", type=float, required=True)
    s.add_argument("--key-col", default="doc_id")
    s.add_argument("--salt", default="")
    s.add_argument("--master", default=None)

    args = p.parse_args(argv)
    # flag-combination validation BEFORE the JVM: a bad combo should
    # fail at argparse speed, not after session startup + py-files
    # shipping (and, in a shared process, not after get_spark has
    # already pinned the process-wide session to CLI defaults)
    if (
        args.cmd == "validate"
        and args.reference is not None
        and args.reference_profile is not None
    ):
        p.error(
            "pass either --reference (raw snapshot) or --reference-profile "
            "(prebuilt counts profile), not both"
        )
    if args.cmd == "validate" and (
        args.incremental or args.changed_partitions is not None
    ):
        if args.repeats > 1:
            p.error(
                "--repeats is a cold-suite bench estimator and contradicts "
                "--incremental/--changed-partitions (which reuse the prior "
                "run); drop one of them"
            )
        if args.no_resume:
            p.error(
                "--no-resume contradicts --incremental/--changed-partitions "
                "(incremental reuses the prior run by construction); drop "
                "one of them — for a clean start-over use --no-resume alone"
            )
    if args.cmd == "report":
        # verdicts presence is a pure-os check (validation/io.py) — a
        # typo'd run dir must fail at argparse speed, not after JVM
        # startup, per the fail-fast convention above
        import os as _os

        from .validation.io import has_parquet

        if not has_parquet(_os.path.join(args.run_dir, "verdicts")):
            p.error(
                f"--run-dir {args.run_dir!r} has no verdicts parquet — "
                "run `validate` first (stage B writes verdicts last)"
            )
    constraints = []
    if args.cmd == "validate" and args.constraints_file:
        # file rules parse pre-JVM like the inline flags; a malformed
        # file fails in milliseconds with the offending entry named
        from .validation import RowConstraint

        try:
            with open(args.constraints_file) as fh:
                specs = json.load(fh)
        except (OSError, json.JSONDecodeError) as exc:
            p.error(f"--constraints-file {args.constraints_file!r}: {exc}")
        if not isinstance(specs, list):
            p.error(
                f"--constraints-file {args.constraints_file!r}: expected "
                "a JSON list of rule objects"
            )
        for i, spec in enumerate(specs):
            if not isinstance(spec, dict) or not {"name", "predicate"} <= set(spec):
                p.error(
                    f"--constraints-file entry {i}: expected an object "
                    'with "name" and "predicate" (optional '
                    '"max_violation_rate")'
                )
            unknown = set(spec) - {"name", "predicate", "max_violation_rate"}
            if unknown:
                p.error(
                    f"--constraints-file entry {i} ({spec.get('name')!r}): "
                    f"unknown key(s) {sorted(unknown)}"
                )
            if not isinstance(spec["name"], str) or not isinstance(
                spec["predicate"], str
            ):
                p.error(
                    f"--constraints-file entry {i}: \"name\" and "
                    '"predicate" must be strings'
                )
            try:
                constraints.append(
                    RowConstraint(
                        spec["name"], spec["predicate"],
                        max_violation_rate=float(
                            spec.get("max_violation_rate", 0.0)
                        ),
                    )
                )
            except (TypeError, ValueError) as exc:
                p.error(
                    f"--constraints-file entry {i} "
                    f"({spec.get('name')!r}): {exc}"
                )
    if args.cmd == "validate" and args.constraint:
        # build every rule before the JVM starts — malformed specs,
        # bad names, and bad rates fail in milliseconds (SQL
        # parse/resolution errors surface at the engine's zero-job
        # analysis gate, the earliest point a session exists)
        from .validation import RowConstraint

        for spec in args.constraint:
            head, sep, pred = spec.partition("=")
            if not sep or not pred.strip():
                p.error(
                    f"--constraint {spec!r}: expected "
                    "NAME[@MAX_RATE]=PREDICATE"
                )
            name, at, rate = head.partition("@")
            try:
                constraints.append(
                    RowConstraint(
                        name.strip(),
                        pred.strip(),
                        max_violation_rate=float(rate) if at else 0.0,
                    )
                )
            except ValueError as exc:
                p.error(f"--constraint {spec!r}: {exc}")
    if constraints:
        # covers inline flags, file rules, and collisions between them
        names = [c.name for c in constraints]
        dupes = sorted({n for n in names if names.count(n) > 1})
        if dupes:
            p.error(f"duplicate constraint name(s): {dupes}")
    spark = get_spark("pytod_spark-cli", master=getattr(args, "master", None))
    ensure_shipped(spark)

    if args.cmd == "generate":
        df = generate_repo_table(spark, args.rows, seed=args.seed)
        df.write.mode("overwrite").parquet(args.out)
        if args.parent_out:
            repo_commits_dim(spark, args.rows, seed=args.seed).write.mode(
                "overwrite"
            ).parquet(args.parent_out)
        print(json.dumps({"rows_written": spark.read.parquet(args.out).count()}))
        return 0

    from .sources import load_table

    if args.cmd == "dedup":
        from .operators.dedup import connected_components, minhash_dedup_pairs

        docs = load_table(spark, args.input)
        # skew_stats: the no-silent-caps contract — hot-bucket cap
        # engagement is logged by the operator and shipped in this
        # command's JSON result
        skew: dict = {}
        pairs = minhash_dedup_pairs(docs, threshold=args.threshold, skew_stats=skew)
        cc = connected_components(pairs).select(
            F_col("node").alias("doc_id"), "cluster_id"
        )
        cc.write.mode("overwrite").parquet(args.out)
        print(json.dumps({
            "clustered_docs": spark.read.parquet(args.out).count(),
            "skew_stats": skew,
        }))
        return 0

    if args.cmd == "prepare":
        from .pipeline import PrepareConfig, prepare_corpus

        cfg = PrepareConfig(
            chunk_tokens=args.chunk_tokens, chunk_overlap=args.overlap,
            shard_budget_tokens=args.shard_tokens,
            min_quality=args.min_quality,
            sample_fraction=args.sample_fraction,
            contamination_threshold=args.contamination_threshold,
            redact=args.redact,
        )
        docs = load_table(spark, args.input)
        bench = load_table(spark, args.bench) if args.bench else None
        out = prepare_corpus(docs, bench, cfg)
        out.write.mode("overwrite").parquet(args.out)
        res = spark.read.parquet(args.out)
        print(json.dumps({
            "chunks_written": res.count(),
            "shards": res.select("shard_id").distinct().count(),
        }))
        return 0

    if args.cmd == "chunk":
        from .operators.packing import chunk_documents

        docs = load_table(spark, args.input)
        out = chunk_documents(docs, args.chunk_tokens, args.overlap)
        out.write.mode("overwrite").parquet(args.out)
        print(json.dumps({"chunks_written": spark.read.parquet(args.out).count()}))
        return 0

    if args.cmd == "decontaminate":
        from .operators.decontaminate import drop_contaminated

        train = load_table(spark, args.train)
        bench = load_table(spark, args.bench)
        keep = drop_contaminated(train, bench, threshold=args.threshold)
        keep.write.mode("overwrite").parquet(args.out)
        n_kept = spark.read.parquet(args.out).count()
        print(json.dumps({"rows_kept": n_kept}))
        return 0

    if args.cmd == "drift":
        from pyspark.sql.functions import lit as F_lit

        from .validation.profile import drift_report, snapshot_value_counts

        cols = [args.group_col, args.value_col]
        both = (
            load_table(spark, args.ref).select(*cols).withColumn("__is_ref", F_lit(True))
        ).unionByName(
            load_table(spark, args.cur).select(*cols).withColumn("__is_ref", F_lit(False))
        )
        # PSI and KS from one profile through one kernel
        rep = drift_report(
            snapshot_value_counts(
                both, F_col("__is_ref"), args.value_col, [args.group_col]
            ),
            args.value_col, [args.group_col],
        )
        print(json.dumps([r.asDict() for r in rep.orderBy(args.group_col).collect()]))
        return 0

    if args.cmd == "fit-monitor":
        from .streaming.drift_monitor import (
            fit_reference_model,
            save_reference_model,
        )

        model = fit_reference_model(
            load_table(spark, args.ref),
            args.value_col,
            n_bins=args.n_bins,
            alpha=args.alpha,
            contamination=args.contamination,
        )
        save_reference_model(spark, model, args.out)
        print(json.dumps({
            "out": args.out, "n_bins": model["n_bins"],
            "threshold": model["threshold"],
            "lo": model["lo"], "hi": model["hi"],
        }))
        return 0

    if args.cmd == "sample":
        from .operators.sampling import hash_sample

        df = load_table(spark, args.input)
        hash_sample(df, args.fraction, args.key_col, args.salt).write.mode(
            "overwrite"
        ).parquet(args.out)
        print(json.dumps({"rows_kept": spark.read.parquet(args.out).count()}))
        return 0

    if args.cmd == "report":
        from .validation.report import run_report

        print(json.dumps(run_report(
            spark, args.run_dir,
            partition_col=args.partition_col, examples=args.examples,
        )))
        return 0

    if args.cmd == "profile":
        from .validation.profile import build_snapshot_profile

        prof = build_snapshot_profile(
            load_table(spark, args.input), partition_col=args.partition_col
        )
        prof.write.mode("overwrite").parquet(args.out)
        print(json.dumps(
            {"profile_rows": spark.read.parquet(args.out).count()}
        ))
        return 0

    df = load_table(spark, args.input)
    parent = load_table(spark, args.parent) if args.parent else None
    suite = ValidationSuite(
        detector=args.detector,
        contamination=args.contamination,
        constraints=constraints,
    )
    common = dict(
        parent=parent,
        reference=load_table(spark, args.reference) if args.reference else None,
        reference_profile=(
            load_table(spark, args.reference_profile)
            if args.reference_profile else None
        ),
    )
    if args.incremental or args.changed_partitions is not None:
        metrics = suite.run_incremental(
            spark, df, args.run_dir,
            changed_partitions=(
                [p.strip() for p in args.changed_partitions.split(",") if p.strip()]
                if args.changed_partitions is not None else None
            ),
            **common,
        )
    elif args.repeats > 1:
        # best-of-N inside one JVM (the bench/scaling estimator:
        # warmup — JIT, Python worker spawn, first-touch faults —
        # accrues across reps; host noise is one-sided additive)
        import os
        import shutil
        import time

        reps, best = [], None
        for k in range(args.repeats):
            rd = os.path.join(args.run_dir, f"rep{k}")
            shutil.rmtree(rd, ignore_errors=True)
            t0 = time.time()
            m = suite.run(spark, df, rd, resume=False, **common)
            reps.append(round(time.time() - t0, 3))
            if best is None or m["files_per_sec"] > best["files_per_sec"]:
                best = m
        metrics = {**best, "reps_sec": reps}
    else:
        metrics = suite.run(
            spark, df, args.run_dir, resume=not args.no_resume, **common
        )
    print(json.dumps(metrics))
    if args.strict and metrics.get("failed_partitions"):
        # CI contract: metrics still print (one JSON line) but the
        # process exits non-zero, so a pipeline gate needs no JSON
        # parsing to block on a failed validation
        return 3
    return 0


if __name__ == "__main__":
    sys.exit(main())
