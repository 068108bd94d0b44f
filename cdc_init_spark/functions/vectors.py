"""Vector math as pure column expressions (no UDFs).

Embeddings arrive as ARRAY<FLOAT>. All math is done in double precision via
higher-order functions (zip_with / aggregate), which run inside the JVM —
no Python, no Arrow transfer, fully codegen-compatible. Summation is a
sequential left fold in array order, which makes results reproducible and
lets a DuckDB oracle match bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def to_double_array(col: Column) -> Column:
    """ARRAY<FLOAT> -> ARRAY<DOUBLE> (each float widened exactly)."""
    return F.transform(col, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Dot product in double precision, summed left-to-right."""
    prods = F.zip_with(to_double_array(a), to_double_array(b), lambda x, y: x * y)
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def norm(a: Column) -> Column:
    """L2 norm."""
    return F.sqrt(dot(a, a))


def cosine_similarity(a: Column, b: Column) -> Column:
    """Cosine similarity; NULL-safe only insofar as inputs are non-null."""
    return dot(a, b) / (norm(a) * norm(b))


def quantize_int8(col: Column) -> Column:
    """Symmetric per-vector int8 quantization: ARRAY<FLOAT/DOUBLE> →
    ARRAY<TINYINT> with ``q_i = round(x_i · 127 / max_j|x_j|)``
    (half-away-from-zero — the portable std::round semantics). The
    all-zero vector quantizes to all zeros.

    The point at 100 TB: a quantized corpus shuffles, caches and scans at
    ~¼ the bytes of FLOAT (1/8 of DOUBLE), and cosine over int8 codes
    needs no dequantization — the per-vector scale cancels in the
    cosine ratio, and the integer dot products are EXACT (order-independent
    64-bit sums), so quantized scores are bit-identical across engines
    and partitionings — better reproducibility than the float path."""
    d = to_double_array(col)
    mx = F.aggregate(d, F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x)))
    scale = F.when(mx > F.lit(0.0), F.lit(127.0) / mx).otherwise(F.lit(0.0))
    return F.transform(d, lambda x: F.round(x * scale, 0).cast("tinyint"))


def quantize_scale(col: Column) -> Column:
    """The per-vector reconstruction scale s (x ≈ q / s) paired with
    ``quantize_int8``; 0.0 for the all-zero vector."""
    d = to_double_array(col)
    mx = F.aggregate(d, F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x)))
    return F.when(mx > F.lit(0.0), F.lit(127.0) / mx).otherwise(F.lit(0.0))


def dot_int(a: Column, b: Column) -> Column:
    """Exact integer dot product of two int8 code arrays (BIGINT sum —
    overflow-free below ~2^46 dimensions)."""
    prods = F.zip_with(
        a, b, lambda x, y: x.cast("bigint") * y.cast("bigint")
    )
    return F.aggregate(prods, F.lit(0).cast("bigint"), lambda acc, x: acc + x)


def cosine_similarity_int8(a: Column, b: Column) -> Column:
    """Cosine over int8 codes: integer sums, one sqrt/divide at the end.
    Approximates float cosine to ~1e-3 at dim≈100; exactly reproducible
    (integer arithmetic is associative — no float summation order)."""
    return dot_int(a, b).cast("double") / (
        F.sqrt(dot_int(a, a).cast("double"))
        * F.sqrt(dot_int(b, b).cast("double"))
    )
