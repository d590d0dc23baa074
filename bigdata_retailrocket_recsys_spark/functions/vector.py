"""Vector column expressions — JVM-side, no UDFs.

All operators are built from array higher-order functions
(``zip_with``/``aggregate``/``transform``), which run inside codegen and
evaluate sequentially left-to-right — deterministic summation order. The
hot path for similarity search stays entirely in the JVM; Python is never
in the loop.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def to_double_array(col: Column | str) -> Column:
    """array<float> → array<double> (do float→double once, up front)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product of two array<double> columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    """Euclidean norm (sqrt is correctly rounded per IEEE-754)."""
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x)
    )


def cosine_similarity(a: Column, b: Column) -> Column:
    """dot(a,b) / (|a|·|b|); 0.0 for zero vectors."""
    denom = l2_norm(a) * l2_norm(b)
    return F.when(denom == 0.0, F.lit(0.0)).otherwise(dot(a, b) / denom)


def cosine_from_norms(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """:func:`cosine_similarity` with the per-vector norms PRECOMPUTED —
    the identical IEEE tree (sqrt-of-sum-of-squares per side, multiply,
    divide), just with ``l2_norm`` factored through the vector
    projection, so results are bit-identical to the fused form. Use in
    pair-verify stages: a vector appearing in P candidate pairs pays its
    norm once instead of P times (the embed verify wall is ~2/3 norm
    recomputation at 64 dims — r12 measured)."""
    denom = na * nb
    return F.when(denom == 0.0, F.lit(0.0)).otherwise(dot(a, b) / denom)


def quantizable(
    df: DataFrame,
    *,
    dim: int,
    id_col: str,
    vec_col: str,
    bound: float | None = None,
) -> DataFrame:
    """Rows whose vectors the exact-integer tiers accept: non-NULL id and
    vector, exactly ``dim`` components, every component non-NULL and
    finite and, when ``bound`` is given, ``|x| < bound`` (the domain in
    which a tier's bigint sums cannot overflow). A vector outside the
    rule is excluded, never truncated: a NULL/NaN/inf component would
    fail the :func:`quantized` bigint cast under ANSI on both engines,
    and a wrong-length one would pad ``zip_with`` with NULLs. The DuckDB
    oracles apply the same rule."""
    x = "CAST(x AS DOUBLE)"
    bad = f"x IS NULL OR isnan({x}) OR abs({x}) = CAST('inf' AS DOUBLE)"
    if bound is not None:
        bad += f" OR abs({x}) >= {bound}"
    return df.filter(
        F.col(id_col).isNotNull()
        & F.col(vec_col).isNotNull()
        & (F.size(vec_col) == dim)
        & ~F.expr(f"exists({vec_col}, x -> {bad})")
    )


def quantize_sql(vec_col: str, scale: int) -> str:
    """SQL text of the component-wise ``floor(x·scale)`` bigint
    quantization — the arbitrary-float determinism rule (raw FLOAT →
    DECIMAL rounds differently across engines; floor-scaled bigints never
    do), so integer dots over the result are exact on every engine.
    Apply it only to :func:`quantizable` rows."""
    return (
        f"transform({vec_col}, x -> "
        f"CAST(floor(CAST(x AS DOUBLE) * {scale}) AS BIGINT))"
    )


def quantized(vec_col: str, scale: int) -> Column:
    """:func:`quantize_sql` as a Column."""
    return F.expr(quantize_sql(vec_col, scale))
