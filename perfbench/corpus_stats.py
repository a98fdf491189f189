"""Make-up of a document corpus, as the near-duplicate index sees it.

    python3 perfbench/corpus_stats.py path/to/documents.parquet
    python3 perfbench/corpus_stats.py --seed 1 --docs 5000

The first form reads a ``(doc_id, text)`` parquet file, the second the
corpus ``inputs.documents`` generates. Prints one JSON object: words
per doc, the near-duplicate pairs of the engine's from-scratch
``minhash_dedup_pairs`` (count, Jaccard, cluster sizes, how the two
docs of a pair differ), the pairs a seeded 10% delta probe would find,
and the sizes of the LSH band buckets. perfbench/NOTES.md compares the
generated corpus with the sf0.1 ``documents`` fixture this way. Run it
from the root of a checkout; Spark's scratch files go under
``.perfbench_work/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
from collections import Counter

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def clusters(pairs) -> Counter:
    """How many connected components of the pair graph have each size."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent[find(a)] = find(b)
    return Counter(Counter(find(x) for x in list(parent)).values())


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parquet", nargs="?")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--docs", type=int, default=5000)
    args = ap.parse_args(argv)
    if (args.parquet is None) == (args.seed is None):
        ap.error("give a parquet file or --seed")
    sys.path.insert(0, os.getcwd())

    from pyspark.sql import functions as F

    from pytod_spark.operators.dedup import (banded_frame, minhash_dedup_pairs,
                                             minhash_signatures)
    from pytod_spark.session import get_spark

    work = os.path.join(os.getcwd(), ".perfbench_work", f"corpus-{os.getpid()}")
    spark = get_spark("corpus_stats", master="local[2]", extra_conf={
        "spark.ui.enabled": "false",
        "spark.driver.memory": "1g",
        "spark.driver.extraJavaOptions": "-Xms1g",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.local.dir": os.path.join(work, "local"),
    })
    spark.sparkContext.setLogLevel("ERROR")
    try:
        if args.parquet:
            docs = spark.read.parquet(args.parquet).select("doc_id", "text")
        else:
            from inputs import documents

            docs = spark.createDataFrame(documents(args.seed, args.docs))
        text = dict(docs.rdd.map(tuple).collect())
        pairs = [(r[0], r[1], r[2]) for r in minhash_dedup_pairs(docs).collect()]
        buckets = Counter(r[0] for r in banded_frame(minhash_signatures(docs))
                          .groupBy("band_key").count().select("count").collect())

        words = np.array([len(t.split()) for t in text.values()])
        relation = Counter()
        for a, b, _ in pairs:
            wa, wb = text[a].split(), text[b].split()
            relation[f"word_count_diff_{abs(len(wa) - len(wb))}"] += 1
        out = {
            "docs": len(text),
            "words_per_doc_p0_5_50_95_100": np.percentile(
                words, [0, 5, 50, 95, 100]).tolist(),
            "pairs": len(pairs),
            "pairs_per_1000_docs": round(1000 * len(pairs) / len(text), 1),
            "pair_jaccard_p0_25_50": np.percentile(
                [j for *_, j in pairs], [0, 25, 50]).round(3).tolist(),
            "pair_word_count_diff": dict(sorted(relation.items())),
            "cluster_sizes": dict(sorted(clusters((a, b) for a, b, _ in pairs).items())),
            "band_bucket_sizes": dict(sorted(buckets.items())),
        }
        # the benchmark's delta: pmod(xxhash64(seed, doc_id), 10) == 0
        for seed in (1, 2, 3):
            ids = {r[0] for r in docs.where(
                F.pmod(F.xxhash64(F.lit(seed), F.col("doc_id")), F.lit(10)) == 0)
                .select("doc_id").collect()}
            out[f"probe_pairs_delta_seed_{seed}"] = sum(
                (a in ids) != (b in ids) for a, b, _ in pairs)
        print(json.dumps(out))
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
