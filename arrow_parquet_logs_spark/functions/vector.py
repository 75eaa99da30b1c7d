"""Vector math over ``array<float>`` embedding columns — pure Catalyst.

Dot products / norms / cosine run entirely JVM-side via ``zip_with`` +
``aggregate`` (whole-stage codegen, no Python). Elements are cast to double
first: a product of two float32s is exactly representable in float64, so the
only inexactness left is summation order — and ``F.aggregate`` is a strict
left fold, which keeps results deterministic for a fixed array.

For 100 TB similarity workloads the quadratic part is bounded *before* these
kernels run (LSH bucketing / IVF cells — see operators.similarity); these
functions are the inner loop only.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F


def as_double_array(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))


def cosine_sim(a: Column | str, b: Column | str) -> Column:
    """NULL when either operand has zero norm (the angle is undefined),
    rather than an ANSI DIVIDE_BY_ZERO that fails the whole job."""
    a = as_double_array(a)
    b = as_double_array(b)
    return F.try_divide(dot(a, b), l2_norm(a) * l2_norm(b))
