"""Vector (embedding) column functions — JVM-side, no UDFs.

Dot products and cosine similarity over ``array<float>`` columns via
``zip_with`` + ``aggregate`` in double precision; sign-bit bucketing for
LSH-style blocking. For very wide vectors where expression trees get large,
the documented alternative is an Arrow-batched Pandas UDF — at 64-dim these
stay comfortably in codegen.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


# Unrolling beyond this width would push a single projection's codegen
# past Spark's method-size comfort zone for no gain — typical embedding
# dims (64-1024) stay well inside it.
_MAX_UNROLL_DIM = 2048


def vector_dim(df, col: str) -> int | None:
    """Probe the width of an array column from its first row (one tiny
    job). Feed the result to ``dot_expr``/``cosine_expr``'s ``dim`` so the
    per-pair fold unrolls into whole-stage-codegen arithmetic — worth one
    probe job for any operator that scores many pairs. None when the
    frame is empty or the width is unusable."""
    try:
        row = df.select(F.size(F.col(col)).alias("d")).first()
    except Exception:  # noqa: BLE001 — probing only; fold path still works
        return None
    if row is None or row["d"] is None:
        return None
    d = int(row["d"])
    return d if 0 < d <= _MAX_UNROLL_DIM else None


def dot_expr(a: Column | str, b: Column | str, dim: int | None = None) -> Column:
    """Σ aᵢ·bᵢ in double precision.

    With ``dim`` (optimization r14) the fold unrolls into a left-associated
    chain of element products — the identical float addition sequence
    ``((0.0 + a₁b₁) + a₂b₂) + …`` the ``aggregate`` lambda evaluates, so
    results are bit-equal (pinned in tests), but the chain compiles into
    whole-stage codegen while higher-order-function lambdas evaluate
    interpreted per row (measured 2× at 4M 64-dim pairs). Rows whose
    arrays are not exactly ``dim`` wide (ragged data, nulls) fall to the
    fold inside a per-row guard, so the value is unconditionally correct;
    ``dim`` is purely a fast-path hint from :func:`vector_dim`."""
    ra, rb = _c(a), _c(b)
    pa = ra.cast("array<double>")
    pb = rb.cast("array<double>")
    fold = F.aggregate(
        F.zip_with(pa, pb, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    if dim is None or not (0 < dim <= _MAX_UNROLL_DIM):
        return fold
    acc = F.lit(0.0)
    for i in range(dim):
        # element-wise casts, not F.get on the cast array: Catalyst does
        # not factor the repeated array<double> cast out of 2·dim GetItems
        acc = acc + F.get(ra, i).cast("double") * F.get(rb, i).cast("double")
    return F.when((F.size(ra) == dim) & (F.size(rb) == dim), acc).otherwise(
        fold
    )


def norm_expr(a: Column | str, dim: int | None = None) -> Column:
    return F.sqrt(dot_expr(a, a, dim))


def cosine_expr(
    a: Column | str, b: Column | str, dim: int | None = None
) -> Column:
    """Cosine similarity; 0.0 when either vector has zero norm."""
    num = dot_expr(a, b, dim)
    den = norm_expr(a, dim) * norm_expr(b, dim)
    return F.when(den > 0, num / den).otherwise(F.lit(0.0))


def sign_bucket_expr(vec: Column | str, dims: list[int]) -> Column:
    """LSH bucket key: sign bits of the chosen dimensions packed into a long.

    Deterministic axis-aligned hyperplanes — two near-identical vectors land
    in the same bucket with high probability; used to block ANN candidate
    generation so the exact cosine only runs within buckets.
    """
    if len(dims) > 63:
        # the bucket key is a signed long: bit 63 would need the 1 << 63
        # literal, which overflows it (and 2^63 buckets is far beyond any
        # useful occupancy anyway)
        raise ValueError("sign_bucket_expr supports at most 63 dims")
    v = _c(vec)
    bit_terms = [
        F.when(F.element_at(v, d + 1) > 0, F.lit(1 << i)).otherwise(F.lit(0))
        for i, d in enumerate(dims)
    ]
    out = F.lit(0)
    for t in bit_terms:
        out = out + t
    return out.cast("long")


def quantize_int8_expr(vec: Column | str, scale: float = 127.0) -> Column:
    """Symmetric int8 quantisation of a float vector (array<tinyint>).

    ``q_i = round(clamp(x_i, -1, 1) * scale)`` — the storage form embedding
    pipelines ship (4× smaller than float32, 8× smaller than float64);
    expression-only, so it runs inside whole-stage codegen on the scan.
    """
    v = _c(vec)
    s = F.lit(float(scale))
    return F.transform(
        v,
        lambda x: F.round(F.greatest(F.lit(-1.0), F.least(F.lit(1.0), x)) * s)
        .cast("tinyint"),
    )


def dequantize_int8_expr(qvec: Column | str, scale: float = 127.0) -> Column:
    """Inverse of :func:`quantize_int8_expr`: array<tinyint> → array<double>."""
    return F.transform(
        _c(qvec), lambda q: q.cast("double") / F.lit(float(scale))
    )
