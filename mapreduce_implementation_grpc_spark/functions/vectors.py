"""Vector column functions over array<float> embedding columns.

Pure JVM-side higher-order functions (zip_with / aggregate) -- no
Python, no UDF: the dot product and norms run inside codegen and
vectorize with the rest of the stage. Accumulation is in double, in
element order, which makes results bit-identical to DuckDB's
list_dot_product/list_cosine_similarity sequential fold -- required
for oracle hash parity.

At 100 TB these expressions are the per-row map work of similarity
scans; the scale levers live in operators/similarity.py (broadcasting
the query side, LSH bucketing to kill the cross join).
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F


def double_array_sql(values) -> str:
    """SQL text of an array<double> literal of `values`.

    Python's repr is the shortest string that round-trips, and Spark
    parses ``D`` literals with Double.parseDouble, so every value
    (-0.0 and subnormals included) arrives bit-exact. NaN and inf have
    no SQL literal form and raise ValueError."""
    parts = []
    for v in values:
        x = float(v)
        if not math.isfinite(x):
            raise ValueError(f"array literal: non-finite value {x!r}")
        parts.append(f"{x!r}D")
    return f"array({', '.join(parts)})"


def lit_array(values) -> Column:
    """array<double> literal of `values`, built in one JVM call.

    ``F.array(*[F.lit(x) ...])`` makes py4j round trips per element;
    this parses one ``array(<repr>D, ...)`` expression to the same
    CreateArray of double literals (see double_array_sql)."""
    return F.expr(double_array_sql(values))


def dot_col(a: Column | str, b: Column | str) -> Column:
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm_col(a: Column | str) -> Column:
    a = F.col(a) if isinstance(a, str) else a
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double"))
    )


def cosine_col(a: Column | str, b: Column | str) -> Column:
    return dot_col(a, b) / (l2_norm_col(a) * l2_norm_col(b))
