"""Vector math as pure Column expressions.

The reference's only distance is cosine, fixed at collection creation
(reference index.py:434) and consumed by top-k retrieval (reference
ask.py:200-203).  Spark has no cosine builtin, so every distance here is a
higher-order-function fold (``zip_with`` + ``aggregate``): correct for any
width, left-associated, and the one vector-math path the Column algebra
uses.  Assignment-shaped operators (k-means, IVF, silhouette) score in the
NumPy kernels of ``functions/argmin.py``, which replay this fold's IEEE
operation sequence bit-exactly.

Precision discipline (SURVEY §7.3): all arithmetic is promoted to DOUBLE
before summing so results are bit-identical with the DuckDB oracle's
left-to-right list folds (``list_dot_product``/``list_cosine_similarity``
with ``::DOUBLE[]`` casts); scores are rounded to 6 dp at the query
boundary.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F


def _as_double(col: Column) -> Column:
    return col.cast("double")


def dot_product(a: Column, b: Column) -> Column:
    """sum_i a[i]*b[i] in double precision, left-associated."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: _as_double(x) * _as_double(y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def squared_l2(a: Column, b: Column) -> Column:
    """sum_i (a[i]-b[i])^2, accumulated in double — the k-means / PQ-encode
    distance.

    Bit-compat contract (the DuckDB oracles replay it): each TERM is
    computed in the INPUT element type — for float32 arrays the zip_with
    lambda produces float32 squares — and only the ACCUMULATION promotes
    to double (acc + v).  Pre-casting the operands would change
    float-input results at the ulp level and break oracle hashes.
    """
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_distance(a: Column, b: Column) -> Column:
    """Euclidean distance (left-to-right accumulation, matching DuckDB's
    list_distance order — see squared_l2 for the float/double contract)."""
    return F.sqrt(squared_l2(a, b))


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: _as_double(x) * _as_double(x)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def l2_normalize(a: Column) -> Column:
    """Unit-length copy of the vector (array<double>).

    Pre-normalizing at write time turns cosine into a plain dot product
    (SURVEY §4.3.1) — cheaper per comparison and numerically friendlier.
    Zero vectors (the reference's error sentinel, index.py:138) normalize to
    zero vectors rather than NaN: try_divide yields NULL on /0 and the
    coalesce restores 0.0 per element — same values as the old
    when(norm==0) form for non-NULL inputs.  A NULL array normalizes to
    NULL (zip_with propagates it); a NULL *element* becomes 0.0 — the write
    path never produces one, so no per-element isNull pass is spent on it.

    The norm is materialized via a zip against a norm-filled array built
    once per row, so the O(dim) fold runs ONCE per row, not once per
    element (lambda-captured outer expressions re-evaluate per element —
    the round-1 lesson in BASELINE.md).
    """
    norm_arr = F.array_repeat(l2_norm(a), F.size(a))
    return F.zip_with(
        a, norm_arr, lambda x, n: F.coalesce(F.try_divide(_as_double(x), n), F.lit(0.0))
    )


def cosine_similarity(a: Column, b: Column) -> Column:
    """cosine(a, b) in double precision; 0.0 when either norm is 0.

    try_divide + coalesce instead of when(denom==0): the when form evaluates
    the two norm folds twice (condition + divisor — Catalyst does not CSE
    across CASE branches in interpreted HOF mode), doubling the dominant
    cost of every scoring stage.  try_divide(x, 0) IS NULL, so for non-NULL
    inputs the value is identical: zero denominator (only possible when a
    zero vector makes the numerator 0 too) -> 0.0, else dot/denom.

    NULL handling: a NULL *array* on either side yields NULL (guarded before
    the coalesce — without the guard the coalesce would silently score it
    0.0).  A NULL *element* inside an array still folds to 0.0; the write
    path never produces one (the error sentinel is an all-zero vector, per
    the reference index.py:138) so per-element isNull scans are not worth
    their interpreted-HOF cost on every scoring pair.
    """
    denom = l2_norm(a) * l2_norm(b)
    sim = F.coalesce(F.try_divide(dot_product(a, b), denom), F.lit(0.0))
    return F.when(a.isNull() | b.isNull(), F.lit(None).cast("double")).otherwise(sim)


def literal_vector(values: Sequence[float]) -> Column:
    """A literal array<double> column (e.g. a broadcastable query vector)."""
    return F.array(*[F.lit(float(v)) for v in values])


# --- deterministic fixtures shared with the DuckDB oracle -------------------
#
# The oracle comparison needs the *same* query vector on both sides.  We
# generate it with a plain integer LCG (no RNG library, no float parsing
# ambiguity): every value is a small exact decimal, so the literal text
# interpolated into the oracle SQL parses to the identical double.


def fixed_query_vector(dim: int = 64, seed: int = 7) -> list[float]:
    """Deterministic pseudo-random vector with exactly-representable values."""
    state = seed
    out = []
    for _ in range(dim):
        state = (state * 1103515245 + 12345) % (2**31)
        # keep 6 decimal digits -> exact decimal literal in both engines
        out.append(round((state / (2**31)) - 0.5, 6))
    return out


def vector_sql_literal(values: Sequence[float]) -> str:
    """DuckDB list literal with the same exact decimals."""
    return "[" + ", ".join(f"{v!r}" for v in values) + "]"
