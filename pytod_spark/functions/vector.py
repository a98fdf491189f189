"""JVM-side vector math over ``array<double>`` columns.

Built exclusively from higher-order functions (``zip_with`` /
``aggregate``) so the expressions stay inside Catalyst/codegen — no
Python in the loop. Summation is a deterministic left fold, which also
makes results reproducible across engines (the DuckDB oracle SQL uses
the same fold order).

These are the relational counterparts of the reference's distance
kernels (pytod/models/basic_operators.py:15-32 cdist,
intermediate_layers.py:238-243 weighted cosine).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def sq_l2_dist(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_dist(a: Column, b: Column) -> Column:
    """Euclidean distance — semantic twin of the reference cdist p=2."""
    return F.sqrt(sq_l2_dist(a, b))


def norm2(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine_sim(a: Column, b: Column) -> Column:
    """Plain cosine similarity (NOT the reference's 1/(|a||b|)-weighted
    variant used by ABOD — that one is ``dot(a,b)/(dot(a,a)*dot(b,b))``)."""
    return dot(a, b) / (norm2(a) * norm2(b))
