"""Vector math over ArrayType(float/double) columns — JVM-side, no UDFs.

The similarity-search surface (BASELINE.json north star) needs dot
products / norms / cosine over the `embeddings.embedding` column. These
builders use higher-order functions (zip_with + aggregate) which run
inside codegen — the scale path for brute-force scoring; pandas_udf
kernels are reserved for batched ANN variants.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x)
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))
