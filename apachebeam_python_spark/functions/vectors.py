"""Vector math over ``array<float>`` embedding columns (SURVEY.md §2.11) —
pure JVM higher-order-function expressions (zip_with + aggregate): no Python
boundary, fuses into codegen, works on any array length.

Floats are cast to double element-wise before accumulating, so Spark and the
DuckDB oracle (list_cosine_similarity over double lists) produce bit-identical
IEEE results in the same left-to-right order.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double"))
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; 0.0 when either vector has zero norm (a real
    corpus contains zero embeddings, and ANSI mode would otherwise abort
    the whole job on the first one)."""
    return safe_cosine_from(dot(a, b), norm(a), norm(b))


def safe_cosine_from(dot_val: Column, norm_a: Column, norm_b: Column) -> Column:
    """Assemble cosine from precomputed pieces with the zero-norm guard —
    use this when norms are computed once per side (similarity/dedup ops)."""
    denom = norm_a * norm_b
    return F.when(denom > 0, dot_val / denom).otherwise(F.lit(0.0))


def quantize_scale(a: Column) -> Column:
    """Per-vector symmetric int8 scale: max |x| / 127 (double)."""
    return (
        F.array_max(F.transform(a, lambda x: F.abs(x.cast("double")))) / F.lit(127.0)
    )


def quantize_int8(a: Column, scale: Column) -> Column:
    """Symmetric int8 quantization: round-half-up via floor(x/s + 0.5) —
    written as an explicit floor in BOTH engines because Spark's round()
    (HALF_UP) and DuckDB's round() (half-away-from-zero) disagree on
    negative .5 boundaries. Zero vectors (scale 0) quantize to zeros."""
    return F.transform(
        a,
        lambda x: F.when(scale > 0, F.floor(x.cast("double") / scale + F.lit(0.5)))
        .otherwise(F.lit(0))
        .cast("int"),
    )


def dequantize(q: Column, scale: Column) -> Column:
    return F.transform(q, lambda x: x.cast("double") * scale)
