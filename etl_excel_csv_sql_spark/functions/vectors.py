"""Vector column expressions over array<float>/array<double> embeddings.

Pure built-ins (``zip_with`` + ``aggregate``): per-row O(dim) work inside
codegen, no Python boundary, no shuffle. Dot products accumulate in float64
in array order, so results are bit-deterministic across runs and engines.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

ColumnOrName = Column | str


def _col(c: ColumnOrName) -> Column:
    return F.col(c) if isinstance(c, str) else c


def dot_product(a: ColumnOrName, b: ColumnOrName) -> Column:
    """Σ aᵢ·bᵢ accumulated left-to-right in double."""
    products = F.zip_with(
        _col(a), _col(b), lambda x, y: x.cast("double") * y.cast("double")
    )
    return F.aggregate(products, F.lit(0.0), lambda acc, v: acc + v)


def l2_norm(a: ColumnOrName) -> Column:
    return F.sqrt(dot_product(a, a))


def cosine_similarity(a: ColumnOrName, b: ColumnOrName) -> Column:
    """Cosine similarity; null if either vector has zero norm."""
    denom = l2_norm(a) * l2_norm(b)
    return F.when(denom > 0, dot_product(a, b) / denom)


def l2_normalize(a: ColumnOrName) -> Column:
    """Scale to unit norm (pre-normalizing lets cosine top-k become a plain
    dot product, halving per-pair flops in brute-force search)."""
    v = _col(a)
    n = l2_norm(v)
    return F.when(n > 0, F.transform(v, lambda x: x.cast("double") / n))


def quantization_scale(a: ColumnOrName, bits: int = 8) -> Column:
    """Symmetric scalar-quantization scale: max(|xᵢ|) / (2^(bits-1) - 1).
    Compute this in its OWN projection before the code transform — an
    array_max referenced inside a per-element lambda is re-evaluated per
    element (the CollapseProject HOF trap)."""
    qmax = (1 << (bits - 1)) - 1
    return (
        F.array_max(F.transform(_col(a), lambda x: F.abs(x.cast("double"))))
        / qmax
    )


def quantize_codes(a: ColumnOrName, scale: ColumnOrName) -> Column:
    """int codes: floor(x/scale + 0.5) — deliberately NOT round(), whose
    tie convention differs across engines (Spark HALF_UP vs half-even);
    floor(+0.5) is identical everywhere. |x| ≤ max|x| keeps codes inside
    ±qmax with no clamp. Zero vectors (scale 0) map to all-zero codes."""
    s = _col(scale)
    return F.when(
        s > 0,
        F.transform(
            _col(a), lambda x: F.floor(x.cast("double") / s + 0.5).cast("int")
        ),
    ).otherwise(F.transform(_col(a), lambda x: F.lit(0)))
