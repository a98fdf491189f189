"""Seeded inputs for the benchmark workloads.

Everything here is a pure function of ``seed``: the same seed gives
byte-identical inputs on any host. The source-code corpus comes from
the engine's own ``pytod_spark.datagen`` (called from the workloads);
this module adds the two inputs the engine has no generator for: a
document corpus with planted near-duplicates and the detector matrix.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

# The corpus follows the measured make-up of the engine's sf0.1
# ``documents`` fixture (5000 docs, see perfbench/NOTES.md): a 30-word
# vocabulary drawn uniformly, 10-99 words per doc, and ~5% of the docs
# an earlier doc with the word "dup" appended. That gives ~51
# near-duplicate pairs per 1000 docs at Jaccard 0.8-1.0, mostly
# isolated pairs with a few chains.
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
MIN_WORDS, MAX_WORDS = 10, 99


def documents(seed: int, n_docs: int, dup_share: float = 0.05) -> pd.DataFrame:
    """``(doc_id, text)``; ``dup_share`` of the docs are an earlier doc
    (itself possibly a near-duplicate) with " dup" appended: those are
    the near-duplicate pairs the MinHash index must find."""
    rng = np.random.default_rng(seed)
    vocab = np.asarray(VOCAB, dtype=object)
    texts: list[str] = []
    for i in range(n_docs):
        if i > 0 and rng.random() < dup_share:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n = int(rng.integers(MIN_WORDS, MAX_WORDS + 1))
            texts.append(" ".join(vocab[rng.integers(0, len(VOCAB), size=n)]))
    return pd.DataFrame({"doc_id": np.arange(n_docs, dtype=np.int64), "text": texts})


def detector_matrix(seed: int, n_rows: int, n_features: int) -> np.ndarray:
    """Gaussian inliers plus 10% uniform outliers (the recipe of
    ``pytod_spark.oracle.generate_data``, drawn from
    ``default_rng(seed)``)."""
    from pytod_spark.oracle import generate_data

    X, _ = generate_data(
        n_train=n_rows, n_features=n_features, contamination=0.1,
        train_only=True, random_state=seed,
    )
    return X
