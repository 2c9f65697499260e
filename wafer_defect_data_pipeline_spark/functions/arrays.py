"""Vector/array column math (extension surface §2.9).

Dot products, norms, cosine — all via ``zip_with``/``aggregate`` higher-order
functions: JVM-evaluated per row over the array, no Python, no explode (an
explode would multiply row count by vector dim and force a re-group — at
100 TB that's a catastrophic shuffle; these stay O(1) rows).

Inputs are cast to double before folding so results are bit-stable and
match a double-precision oracle regardless of the stored element type.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def as_double(v: Column | str) -> Column:
    c = F.col(v) if isinstance(v, str) else v
    return c.cast("array<double>")


def dot(a: Column | str, b: Column | str) -> Column:
    prod = F.zip_with(as_double(a), as_double(b), lambda x, y: x * y)
    return F.aggregate(prod, F.lit(0.0), lambda acc, x: acc + x)


def l2_norm(v: Column | str) -> Column:
    return F.sqrt(F.aggregate(as_double(v), F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column | str, b: Column | str) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))

