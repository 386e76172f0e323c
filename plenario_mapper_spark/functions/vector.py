"""Vector (embedding) column functions — JVM-side, no UDFs.

Embeddings are ARRAY<FLOAT>/ARRAY<DOUBLE> columns; dot products and norms are
expressed with zip_with + aggregate so they run inside whole-stage codegen and
vectorize over Parquet scans. At 100 TB the brute-force paths below are the
verification baseline; the LSH-bucketed variants in operators/similarity.py are
the scale path.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v)
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; NULL (not an error) when either vector has zero
    norm. Spark 4 runs ANSI mode, where a plain division makes ONE zero/empty
    embedding anywhere in a 100 TB corpus a job-killing DIVIDE_BY_ZERO —
    try_divide degrades it to a NULL score instead, which threshold filters
    (NULL -> false) and desc rankings (nulls last) already handle."""
    return F.try_divide(dot(a, b), norm(a) * norm(b))


def unit(a: Column) -> Column:
    """L2-normalized copy (pre-normalizing once beats normalizing per pair).
    Zero-norm vectors normalize to all-NULL elements (try_divide, see cosine)
    rather than raising under ANSI; their downstream dot products are NULL and
    fall out of rankings."""
    n = norm(a)
    return F.transform(a, lambda v: F.try_divide(v, n))


def simhash_bucket(a: Column, planes: list[list[float]]) -> Column:
    """Random-hyperplane LSH bucket id: sign bits of `a` against fixed planes,
    packed into a long. Deterministic given `planes` (caller seeds numpy)."""
    bits = []
    for i, p in enumerate(planes):
        plane = F.array(*[F.lit(float(x)) for x in p])
        bits.append(F.when(dot(a, plane) >= 0, F.lit(1 << i)).otherwise(F.lit(0)))
    out = F.lit(0)
    for b in bits:
        out = out + b
    return out.cast("long")
