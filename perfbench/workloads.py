"""The three workloads: what each sets up, runs and checks.

A workload builds its inputs from the seed (``inputs``), builds the
index its operations read (``index_build``, a no-op where there is
none), warms up (``warmup``), computes the expected outputs its checks
compare against (``expected``, not part of the set-up time), and hands
the runner its operations (``ops``). Each operation is timed around
one public engine call; its ``check`` runs untimed right after and
raises ``CheckFailed`` on a wrong output, and returns the exact
work counts and engine-reported phase times of that call.

Sizes: ``SIZES[workload][scale]``. ``full`` is what the benchmark
measures; ``tiny`` (sf0.001-sized) is for the self-test.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass
from typing import Any, Callable

import numpy as np

from inputs import detector_matrix, documents

SIZES = {
    "nightly": {"full": {"rows": 5_000}, "tiny": {"rows": 1_000}},
    "neardup_index": {"full": {"docs": 5_000}, "tiny": {"docs": 500}},
    "detect": {"full": {"n": 6_000, "d": 20}, "tiny": {"n": 600, "d": 20}},
}


class CheckFailed(AssertionError):
    """An operation returned a wrong output."""


def expect(ok: bool, message: str) -> None:
    # a plain assert would vanish under python -O
    if not ok:
        raise CheckFailed(message)


@dataclass
class Op:
    name: str
    layer: str
    run: Callable[[], Any]
    check: Callable[[Any], dict]
    after: Callable[[], None] = lambda: None


def _release() -> None:
    from pytod_spark.operators.cache import release_all

    release_all()


class Workload:
    def index_build(self) -> None:
        """Only the near-duplicate workload has an index to build."""


class Nightly(Workload):
    """The user's daily validation job: a full six-check suite run on
    snapshot A, then an incremental re-validation on snapshot B, in
    which every python file changed."""

    name = "nightly"
    heavy = "suite_run"
    light = ("suite_incremental",)

    def __init__(self, spark, work: str, seed: int, scale: str) -> None:
        self.spark, self.work, self.seed = spark, work, seed
        self.rows = SIZES[self.name][scale]["rows"]

    def _suite(self):
        from pytod_spark.validation import RowConstraint, ValidationSuite

        rules = [
            RowConstraint("len_bound", "content_length <= 100000"),
            RowConstraint("len_soft", "content_length <= 2000",
                          max_violation_rate=0.25),
            RowConstraint("path_format", "length(path) > 0"),
        ]
        return ValidationSuite(contamination=0.1, constraints=rules)

    def _path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def inputs(self) -> dict:
        from pyspark.sql import functions as F

        from pytod_spark.datagen import generate_repo_table, repo_commits_dim

        spark, seed = self.spark, self.seed
        generate_repo_table(spark, self.rows, seed=seed).write.parquet(self._path("a"))
        generate_repo_table(spark, self.rows, seed=seed + 1).write.parquet(
            self._path("ref"))
        repo_commits_dim(spark, self.rows, seed=seed).write.parquet(
            self._path("parent"))
        self.a = spark.read.parquet(self._path("a"))
        # snapshot B: the same table with every python file grown by a line
        self.b = self.a.withColumn(
            "content",
            F.when(F.col("lang") == "python",
                   F.concat(F.col("content"), F.lit("\nx = 1")))
            .otherwise(F.col("content")),
        )
        self.ref = spark.read.parquet(self._path("ref"))
        self.parent = spark.read.parquet(self._path("parent"))
        self.n_rows = self.a.count()
        return {"corpus_rows": self.n_rows, "generated_rows": self.rows}

    def _verdicts(self, run_dir: str) -> list[dict]:
        import pyarrow.parquet as pq

        rows = pq.read_table(os.path.join(run_dir, "verdicts")).to_pylist()
        return sorted(rows, key=lambda r: r["lang"])

    def warmup(self) -> None:
        # a first, cold suite run: a fresh run on B, whose verdicts every
        # incremental run on B must reproduce
        self._suite().run(self.spark, self.b, self._path("expect"),
                          parent=self.parent, reference=self.ref, resume=False)

    def expected(self) -> None:
        self.expected_b = self._verdicts(self._path("expect"))

    @staticmethod
    def _layer(m: dict) -> dict:
        out = {f"validation.{k}_s": v for k, v in m["phase_times"].items()}
        out["validation.stage_a_rows"] = m["stage_a_rows"]
        out["validation.partitions_recomputed"] = (
            m["partitions_total"] - m["partitions_resumed_skip"])
        return out

    def ops(self) -> list[Op]:
        run_dir = self._path("run")

        def suite_run():
            return self._suite().run(
                self.spark, self.a, run_dir, parent=self.parent,
                reference=self.ref, resume=False)

        def check_run(m):
            got = self._verdicts(run_dir)
            expect(m["stage_a_rows"] == self.n_rows, "suite_run skipped rows")
            expect(sum(v["n_rows"] for v in got) == self.n_rows,
                   "verdict row counts do not add up to the corpus")
            # partitions other than python are identical in A and B, so
            # their per-partition facts must match the fresh run on B
            # (outlier counts may not: the global threshold moved)
            same = ("n_rows", "n_dup_keys", "n_extra_rows", "n_orphans",
                    "psi_max", "n_dist_drifted", "n_constraint_viol",
                    "n_constraint_failed")
            want = {v["lang"]: v for v in self.expected_b}
            expect([v["lang"] for v in got] == sorted(want), "partition set")
            for v in got:
                if v["lang"] != "python":
                    expect({k: v[k] for k in same}
                           == {k: want[v["lang"]][k] for k in same},
                           f"suite_run verdicts for {v['lang']} differ from B")
            return self._layer(m)

        def suite_incremental():
            return self._suite().run_incremental(
                self.spark, self.b, run_dir, parent=self.parent,
                reference=self.ref)

        def check_incremental(m):
            expect(m["incremental_stale"] == ["python"],
                   f"stale partitions {m['incremental_stale']}")
            expect(self._verdicts(run_dir) == self.expected_b,
                   "incremental verdicts differ from a fresh run on B")
            return self._layer(m)

        return [
            Op("suite_run", "validation", suite_run, check_run),
            Op("suite_incremental", "validation", suite_incremental,
               check_incremental),
        ]


class NeardupIndex(Workload):
    """Probe and refresh of the persisted MinHash LSH index with a ~10%
    document delta; the index is restored from an untimed copy after
    each refresh, so every iteration starts from the same state."""

    name = "neardup_index"
    heavy = "index_refresh"
    light = ("index_probe",)
    PROBES = 3

    def __init__(self, spark, work: str, seed: int, scale: str) -> None:
        self.spark, self.work, self.seed = spark, work, seed
        self.n_docs = SIZES[self.name][scale]["docs"]
        self.ref = os.path.join(work, "index")
        self.clean = os.path.join(work, "index_clean")

    def inputs(self) -> dict:
        from pyspark.sql import functions as F

        path = os.path.join(self.work, "docs")
        self.spark.createDataFrame(documents(self.seed, self.n_docs)) \
            .write.parquet(path)
        self.full = self.spark.read.parquet(path)
        # the delta: a seed-salted hash of doc_id picks ~10% of the docs
        in_delta = F.pmod(F.xxhash64(F.lit(self.seed), F.col("doc_id")),
                          F.lit(10)) == 0
        self.base = self.full.where(~in_delta)
        self.delta = self.full.where(in_delta)
        self.delta_ids = {r[0] for r in self.delta.select("doc_id").collect()}
        return {"docs": self.n_docs, "delta_docs": len(self.delta_ids)}

    @staticmethod
    def _pairs(df) -> set:
        return {(r["doc_a"], r["doc_b"]) for r in df.select("doc_a", "doc_b").collect()}

    def index_build(self) -> None:
        from pytod_spark.operators import neardup_index as NI

        NI.minhash_index_build(self.base, self.ref)
        shutil.copytree(self.ref, self.clean)
        _release()

    def warmup(self) -> None:
        # the build warmed the LSH and the writes; one probe, run as the
        # operation runs it, warms the read path
        self._probe()
        _release()

    def expected(self) -> None:
        from pytod_spark.operators.dedup import minhash_dedup_pairs

        self.expected_full = self._pairs(minhash_dedup_pairs(self.full))
        # a probe of the delta must find exactly the from-scratch pairs
        # that join one delta doc to one indexed doc
        self.expected_probe = {
            p for p in self.expected_full
            if (p[0] in self.delta_ids) != (p[1] in self.delta_ids)
        }
        _release()

    def _restore(self) -> None:
        _release()
        shutil.rmtree(self.ref)
        shutil.copytree(self.clean, self.ref)

    def _probe(self) -> tuple[set, dict]:
        from pytod_spark.operators import neardup_index as NI

        stats: dict = {}
        return self._pairs(NI.minhash_index_probe(
            self.delta, self.ref, stats=stats)), stats

    def ops(self) -> list[Op]:
        from pytod_spark.operators import neardup_index as NI

        def check_probe(out):
            pairs, stats = out
            # the expectation is fixed, so every probe returns the same set
            expect(pairs == self.expected_probe,
                   "probe pairs differ from the from-scratch cross pairs")
            return {"index.probe_pairs": len(pairs),
                    **{f"index.probe_{k}": v for k, v in stats.items()}}

        def refresh():
            stats: dict = {}
            return NI.minhash_index_refresh(self.full, self.ref, stats=stats), stats

        def check_refresh(out):
            res, stats = out
            expect(res["n_new_docs"] == len(self.delta_ids), "delta size")
            expect(self._pairs(NI.minhash_index_pairs(self.spark, self.ref))
                   == self.expected_full,
                   "refreshed index pairs differ from from-scratch pairs")
            return {"index.n_new_docs": res["n_new_docs"],
                    "index.n_new_pairs": res["n_new_pairs"],
                    **{f"index.refresh_{k}": v for k, v in stats.items()}}

        # the probe is read-only and short, so it runs PROBES times per
        # iteration and its median is steadier than one sample
        return [
            *[Op("index_probe", "index", self._probe, check_probe, _release)]
            * self.PROBES,
            Op("index_refresh", "index", refresh, check_refresh, self._restore),
        ]


class Detect(Workload):
    """pytod's own operators on one ungrouped matrix: distributed kNN
    (tile cdist + top-k), ECOD (ECDFs) and HBOS (histograms)."""

    name = "detect"
    heavy = "knn"
    light = ("ecod", "hbos")
    N_NEIGHBORS = 10
    KNN_SAMPLE = 500
    WARMUP_ROWS = 4_500
    REPEATS = 3

    def __init__(self, spark, work: str, seed: int, scale: str) -> None:
        self.spark, self.work, self.seed = spark, work, seed
        size = SIZES[self.name][scale]
        self.n, self.d = size["n"], size["d"]

    def inputs(self) -> dict:
        import pandas as pd

        self.X = detector_matrix(self.seed, self.n, self.d)
        pdf = pd.DataFrame({"row_id": np.arange(self.n, dtype=np.int64),
                            "features": list(self.X)})
        path = os.path.join(self.work, "matrix")
        self.spark.createDataFrame(
            pdf, "row_id long, features array<double>").write.parquet(path)
        self.df = self.spark.read.parquet(path)
        return {"n": self.n, "d": self.d}

    def warmup(self) -> None:
        # warm-up on a slice: Python workers, kernels and code generation
        # warm up there as well as on the whole matrix, for less. The
        # slice is larger than KNN's 4096-row block, so it runs the same
        # multi-tile cogroup as the full matrix.
        small = self.df.where(self.df.row_id < self.WARMUP_ROWS)
        for make in self._detectors().values():
            make().fit_df(small).toPandas()
        _release()

    def expected(self) -> None:
        from pytod_spark.oracle.detectors import ecod_scores, hbos_scores
        from pytod_spark.oracle.operators import knn_full

        self.expected = {"ecod": ecod_scores(self.X),
                         "hbos": hbos_scores(self.X, 10, 0.1)}
        # kNN is checked on a seeded sample: 500 x n distances, nothing
        # n x n is built on the driver
        rng = np.random.default_rng(self.seed + 2)
        self.sample = np.sort(rng.choice(self.n, self.KNN_SAMPLE, replace=False))
        dist, _ = knn_full(self.X[self.sample], self.X, self.N_NEIGHBORS + 1)
        self.expected["knn"] = dist[:, -1]

    def _detectors(self) -> dict:
        from pytod_spark.detectors import ECOD, HBOS, KNN

        return {
            "knn": lambda: KNN(contamination=0.1, n_neighbors=self.N_NEIGHBORS,
                               strategy="distributed"),
            "ecod": lambda: ECOD(contamination=0.1),
            "hbos": lambda: HBOS(contamination=0.1, n_bins=10, alpha=0.1),
        }

    def ops(self) -> list[Op]:
        detectors = self._detectors()

        def op(name):
            def run():
                return detectors[name]().fit_df(self.df).toPandas()

            def check(pdf):
                expect(len(pdf) == self.n, f"{name} returned {len(pdf)} rows")
                got = pdf.sort_values("row_id")["score"].to_numpy()
                if name == "knn":
                    got = got[self.sample]
                want = self.expected[name]
                err = float(np.max(np.abs(got - want) / np.maximum(1.0, np.abs(want))))
                expect(err <= 1e-6, f"{name} scores off the oracle by {err:.3g}")
                return {"detectors.rows_scored": len(pdf),
                        "detectors.outliers": int(pdf["label"].sum())}

            return Op(name, "detectors", run, check, _release)

        # each runs REPEATS times per iteration: one 1-2 s sample is
        # noisy, and the median of three drops a slow first call
        return [op(name) for name in detectors for _ in range(self.REPEATS)]


WORKLOADS = {w.name: w for w in (Nightly, NeardupIndex, Detect)}
