"""Per-file numeric feature derivation (BASELINE north_star list:
content sha256 invariant, content length, line count, token entropy
per lang — plus the richer per-file numerics a drift stage wants:
token count, max line length, digit ratio, unique-token ratio).

One pass over the content column: sha256 and length are Catalyst
expressions (whole-stage codegen); everything token/line-shaped comes
out of a single vectorized Arrow UDF — one Arrow transfer of the
content batch, one tokenize per row, C-backed vectorized counts for
the character-class stats. (Five separate split/regexp JVM passes
over a wide string column cost more than one fused Arrow pass; and an
explode/groupBy formulation would shuffle O(total tokens) rows, which
at 10^12 files is the wrong plan.)"""

from __future__ import annotations

import math
from collections import Counter

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

# the engine's drift feature vector, in order
FEATURE_COLS = [
    "content_length",
    "line_count",
    "token_count",
    "max_line_len",
    "digit_ratio",
    "token_entropy",
    "uniq_token_ratio",
]

# positions inside the __tok_stats array returned by token_stats_udf
_STATS_FIELDS = [
    "line_count",
    "token_count",
    "max_line_len",
    "digit_ratio",
    "token_entropy",
    "uniq_token_ratio",
]


def _token_stats_batch(content: pd.Series) -> pd.Series:
    """[line_count, token_count, max_line_len, digit_ratio,
    token_entropy, uniq_token_ratio] per document.

    digit/newline counts are C-level vectorized (`Series.str.count`);
    the per-row loop does one whitespace tokenize + Counter (both
    C-backed; ~10x faster than a pandas explode/factorize
    formulation whose object-dtype overhead dominates)."""
    # NULL content rows reach this kernel (the schema contract
    # deliberately ignores nullability) — treat them as empty docs
    # instead of dying on None.lower() deep inside an Arrow batch
    content = content.fillna("")
    digits = content.str.count(r"[0-9]").to_numpy()
    newlines = content.str.count("\n").to_numpy()
    lengths = content.str.len().to_numpy()
    out = []
    for i, text in enumerate(content):
        toks = text.lower().split()
        n = len(toks)
        if n:
            cnt = Counter(toks)
            s = sum(c * math.log(c) for c in cnt.values())
            ent = math.log(n) - s / n
            uniq = len(cnt) / n
        else:
            ent = 0.0
            uniq = 0.0
        max_line = max((len(l) for l in text.split("\n")), default=0)
        out.append(
            [
                float(newlines[i] + 1),
                float(n),
                float(max_line),
                digits[i] / max(1, lengths[i]),
                ent,
                uniq,
            ]
        )
    return pd.Series(out)


def token_stats_udf():
    """Built lazily — pandas_udf registration needs an active session."""
    return pandas_udf(_token_stats_batch, "array<double>")


def derive_features(df: DataFrame, content_col: str = "content") -> DataFrame:
    """Append the invariant hash + the drift feature vector.

    NULL content is treated as the empty document throughout (the
    schema contract deliberately ignores nullability): the feature
    vector stays numeric and the invariant hash stays non-NULL, so a
    NULL row can never silently drop out of an equality join."""
    c = F.coalesce(F.col(content_col), F.lit(""))
    out = (
        df.withColumn("content_sha256", F.sha2(c, 256))
        .withColumn("content_length", F.length(c).cast("double"))
        .withColumn("__tok_stats", token_stats_udf()(c))
    )
    for i, name in enumerate(_STATS_FIELDS):
        out = out.withColumn(name, F.col("__tok_stats").getItem(i))
    return out.drop("__tok_stats").withColumn("features", F.array(*FEATURE_COLS))
