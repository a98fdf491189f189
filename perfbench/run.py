"""Benchmark of the pytod_spark engine: one workload, one seed, one run.

    python3 perfbench/run.py --workload nightly --seed 1 --seconds 3 --trace 0

Run it from the root of a checkout of the repository. It starts one
Spark session on ``local[<nproc>]`` with the ``get_spark`` defaults
(but a 2g heap), builds the workload's inputs from ``--seed`` (and the
index, on neardup_index), warms up and computes the expected outputs,
then runs a closed loop (one client, one operation at a time) for
``--seconds``, at least one iteration, checking every operation's
output.

Output: one ``report`` JSON line (host stamp, sizes, per-operation
medians under their own names, per-operation layer metrics), then, as
the last line, the result: ``correct``, ``attempted``, ``failed`` and
``metrics`` (end-to-end metrics with ``--trace 0``; with ``--trace 1``
the per-layer metrics folded from Spark's event log onto the spans).
Everything the run writes stays under ``.perfbench_work/`` (removed at
exit) and ``.perfbench_out/`` (the last trace of each workload) in the
working directory. The tracing overhead is the traced run's
``trace.*_s`` against the untraced run's ``*_s`` of the same commit.
See perfbench/NOTES.md for what each number means.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SPARK_FIELDS = ("jobs", "tasks", "driver_gap_s", "python_s", "executor_run_s",
                "executor_cpu_s", "deserialize_s", "gc_s",
                "shuffle_write_bytes", "spill_bytes", "input_bytes")
# the set-up phases setup_s adds up; the expected outputs the checks
# compare against are computed after them and are not set-up time
SETUP_PHASES = ("session", "inputs", "index_build", "warmup")
# get_spark pins an 8g heap by default. These inputs need far less, and
# a pinned 8g heap grows the JVM to ~9 GB resident on a 15 GB host that
# other processes share; 2g keeps the whole process tree near 3 GB.
DRIVER_MEMORY = "2g"


def parse_args(argv):
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="input sizes; tiny is for perfbench/selftest.py")
    return ap.parse_args(argv)


def start_spark(work: str, nproc: int, trace: bool):
    from pytod_spark.deploy import ensure_shipped
    from pytod_spark.session import get_spark

    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.local.dir": os.path.join(work, "local"),
        "spark.driver.memory": DRIVER_MEMORY,
        # get_spark's own heap pinning, plus a JVM temp dir in the work
        # dir; -XX:-UsePerfData stops the JVM writing /tmp/hsperfdata_*
        "spark.driver.extraJavaOptions": (
            f"-Xms{DRIVER_MEMORY} -XX:+UseG1GC -XX:-UsePerfData "
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"),
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"))
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
        })
    spark = get_spark("perfbench", master=f"local[{nproc}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    ensure_shipped(spark)
    return spark


def jvm_alive(spark) -> bool:
    try:
        return not spark.sparkContext._jsc.sc().isStopped()
    except Exception:
        return False


def stop_everything(spark) -> None:
    """Stop Spark, end the JVM and wait for every child process."""
    from pyspark import SparkContext

    from spans import descendants

    if spark is not None:
        try:
            spark.stop()
        except Exception:
            pass
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        try:
            gateway.shutdown()
        except Exception:
            pass
    if proc is not None:
        # the JVM exits when its stdin closes
        try:
            proc.stdin.close()
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.1)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except OSError:
            pass
    while True:
        try:
            os.waitpid(-1, 0)
        except ChildProcessError:
            break


def median(xs):
    return statistics.median(xs) if xs else None


def role_value(samples: dict[str, list[float]], names) -> float | None:
    """A role's number: the sum, over its operations, of each
    operation's median over the run (None if one never succeeded)."""
    meds = [median(samples.get(n, [])) for n in names]
    return None if None in meds else sum(meds)


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    sys.path.insert(0, root)
    try:
        import pyspark  # noqa: F401

        import pytod_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: run from a checkout of the repository ({e})",
              file=sys.stderr)
        return 2

    from spans import RssSampler, Spans, host_stamp
    from workloads import WORKLOADS

    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(root, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub))
    # keep every temp file (package zip, Spark scratch, Python workers)
    # inside the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    import tempfile

    tempfile.tempdir = None

    spans = Spans()
    rss = RssSampler().start()
    spark = None
    latencies: dict[str, list[float]] = {}
    layers: dict[str, list[dict]] = {}
    errors: list[str] = []
    attempted = failed = 0
    try:
        with spans.span("setup.session", "session", "setup"):
            spark = start_spark(work, nproc, bool(args.trace))
        wl = WORKLOADS[args.workload](spark, work, args.seed, args.scale)
        with spans.span("setup.inputs", "datagen", "setup"):
            sizes = wl.inputs()
        with spans.span("setup.index_build", "index", "setup"):
            wl.index_build()
        with spans.span("setup.warmup", args.workload, "setup"):
            wl.warmup()
        with spans.span("setup.expected", "checks", "setup"):
            wl.expected()

        ops = wl.ops()
        t_end = time.time() + args.seconds
        iteration, dead, last = 0, False, 0.0
        while not dead:
            run_id = f"iter{iteration}"
            with spans.span("iteration", "bench", run_id) as it_span:
                for op in ops:
                    attempted += 1
                    if dead:
                        failed += 1
                        continue
                    try:
                        with spans.span(op.name, op.layer, run_id) as rec:
                            out = op.run()
                        layers.setdefault(op.name, []).append(op.check(out))
                        latencies.setdefault(op.name, []).append(Spans.seconds(rec))
                    except Exception:  # a failed op is counted, not fatal
                        failed += 1
                        errors.append(f"{run_id} {op.name}: "
                                      + traceback.format_exc(limit=3)[-1500:])
                        dead = not jvm_alive(spark)
                    if not dead:
                        try:
                            op.after()
                        except Exception:
                            errors.append(f"{run_id} {op.name} clean-up: "
                                          + traceback.format_exc(limit=3)[-1500:])
            iteration += 1
            last = Spans.seconds(it_span)
            # closed loop for --seconds; do not start an iteration that
            # would mostly run past the window
            if time.time() + 0.5 * last >= t_end:
                break
    except Exception:
        stop_everything(spark)
        rss.stop()
        shutil.rmtree(work, ignore_errors=True)
        raise

    stop_everything(spark)
    peak_rss_mb = rss.stop()

    per_op = {name: median(v) for name, v in latencies.items()}
    heavy = role_value(latencies, (wl.heavy,))
    light = role_value(latencies, wl.light)
    setup_phases = {
        p: Spans.seconds(next(s for s in spans.spans if s["name"] == f"setup.{p}"))
        for p in (*SETUP_PHASES, "expected")
    }
    setup_s = sum(setup_phases[p] for p in SETUP_PHASES)
    correct = failed == 0 and heavy is not None and light is not None

    report = {
        "workload": args.workload, "seed": args.seed, "scale": args.scale,
        "host": {**host_stamp(), "master": f"local[{nproc}]"},
        "sizes": sizes, "iterations": iteration, "trace": args.trace,
        "ops_attempted": attempted, "ops_failed": failed,
        "ops_failed_ratio": failed / attempted if attempted else 1.0,
        "op_seconds": latencies, "op_median_s": per_op,
        "setup_s": setup_s, "setup_phases_s": setup_phases,
        "peak_rss_mb": peak_rss_mb,
        "layer_metrics": {
            name: {k: median([r[k] for r in rows if k in r])
                   for k in sorted({k for r in rows for k in r})}
            for name, rows in layers.items()
        },
        "errors": errors,
    }
    if args.workload == "nightly" and "suite_run" in per_op:
        report["suite_files_per_s"] = sizes["corpus_rows"] / per_op["suite_run"]

    if args.trace:
        from eventlog import fold, read_jobs

        folded = fold(spans.spans, read_jobs(os.path.join(work, "eventlog")))
        op_spans = [s for s in spans.spans if s["run"] != "setup"
                    and s["name"] != "iteration"]
        # every engine call runs Spark jobs; a span without any means the
        # attribution is broken, so the per-layer numbers are not usable
        unattributed = [f"{s['run']} {s['name']}" for s in op_spans
                        if folded[s["id"]]["jobs"] == 0]
        if unattributed:
            correct = False
            errors.append(f"spans without jobs: {unattributed}")
        per_op_spark = {}
        for s in op_spans:
            per_op_spark.setdefault(s["name"], []).append(folded[s["id"]])
        report["op_spark"] = {
            name: {f: median([r[f] for r in rows]) for f in SPARK_FIELDS}
            for name, rows in per_op_spark.items()
        }
        metrics = {}
        for role, names in (("heavy_op", (wl.heavy,)), ("light_op", wl.light)):
            for f in SPARK_FIELDS:
                samples = {}
                for s in op_spans:
                    samples.setdefault(s["name"], []).append(folded[s["id"]][f])
                unit = "count" if f in ("jobs", "tasks") else (
                    "bytes" if f.endswith("_bytes") else "s")
                metrics[f"{role}.spark.{f}"] = (role_value(samples, names), unit)
        for p in SETUP_PHASES:
            metrics[f"setup.{p}_s"] = (setup_phases[p], "s")
        # with the untraced run's heavy_op_s and light_op_s of the same
        # commit, these give the tracing overhead
        metrics["trace.heavy_op_s"] = (heavy, "s")
        metrics["trace.light_op_s"] = (light, "s")
        out_dir = os.path.join(root, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(out_dir, f"{args.workload}-trace.json"), "w") as fh:
            json.dump({"report": report, "spans": spans.spans,
                       "span_spark": {str(k): v for k, v in folded.items()}},
                      fh, indent=1)
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            "heavy_op_s": (heavy, "s"),
            "light_op_s": (light, "s"),
            "peak_rss_mb": (peak_rss_mb, "MB"),
        }

    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"report": report}))
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
