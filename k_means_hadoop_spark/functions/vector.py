"""Dense-vector math as pure Catalyst expressions (no Python UDFs).

The reference computes Euclidean distance row-at-a-time in Java
(``calculateDist``, KMeans.java:116-122: sqrt of the sum of squared
per-dimension differences).  Here each function is a higher-order-
function Column expression over ``ARRAY<DOUBLE>`` — it runs JVM-side
inside whole-stage codegen, so the hot loop (n·k distance evaluations
per k-means iteration) never leaves Tungsten.

All folds are left-to-right and sequential (``F.aggregate`` semantics),
which matches DuckDB's list_* evaluation order closely enough that
results agree to ~1e-15 relative — parity queries round to 6 decimals.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def squared_distance(a: Column | str, b: Column | str) -> Column:
    """Σ (aᵢ-bᵢ)² — reference KMeans.java:119-121 without the final sqrt."""
    a, b = F.col(a) if isinstance(a, str) else a, F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def euclidean(a: Column | str, b: Column | str) -> Column:
    """L2 distance — reference ``calculateDist`` KMeans.java:116-122."""
    return F.sqrt(squared_distance(a, b))


def squared_distance_unrolled(a_ref: str, b_ref: str, d: int) -> Column:
    """``squared_distance`` for a KNOWN dimension ``d``: the Σ(aᵢ-bᵢ)²
    chain unrolled as plain arithmetic over array accesses (one
    ``F.expr`` parse).  Higher-order functions are CodegenFallback —
    the fold above runs interpreted with per-element boxing — while
    this chain stays inside whole-stage codegen and Janino compiles it
    ONCE per expression text (round-12: the silhouette distance pass
    measured 2.7× faster at d=64, bit-identical decimal sums).

    Bit-exact vs the fold: same left-associative index-order summation,
    and ``0.0 + t0 == t0`` for the non-negative first term, pinned
    bit-for-bit in ``tests/test_opt_r12.py``.

    ``a_ref``/``b_ref`` are SQL column references (e.g. ``a.features``);
    use when d is known at build time WITHOUT an extra scan — e.g. from
    an init/query-vector collect the caller already performs.

    PRECONDITIONS (r12 ADVICE — asserted below): ``d >= 1`` (d=0 would
    emit an empty ``F.expr("")`` parse error), and every input array
    must have length >= d — with ANSI off, ``arr[i]`` past the end
    returns NULL, so a short vector yields a silently-NULL
    distance/similarity where the HOF fold sums the actual length.
    Every current call site derives d from a collect over the SAME
    table the expression scans, which guarantees both."""
    if d < 1:
        raise ValueError(f"unrolled distance needs d >= 1, got {d}")
    chain = " + ".join(
        f"({a_ref}[{i}] - {b_ref}[{i}]) * ({a_ref}[{i}] - {b_ref}[{i}])"
        for i in range(d)
    )
    return F.expr(chain)


def euclidean_unrolled(a_ref: str, b_ref: str, d: int) -> Column:
    """Codegen'd L2 distance for a known dimension (see
    ``squared_distance_unrolled``)."""
    return F.sqrt(squared_distance_unrolled(a_ref, b_ref, d))


def _dot_unrolled(a_ref: str, b_ref: str, d: int) -> Column:
    # same preconditions as squared_distance_unrolled: d >= 1 and every
    # input array at least d long (short arrays → silent NULLs)
    if d < 1:
        raise ValueError(f"unrolled dot needs d >= 1, got {d}")
    chain = " + ".join(f"({a_ref}[{i}] * {b_ref}[{i}])" for i in range(d))
    return F.expr(chain)


def dot_unrolled(a_ref: str, b_ref: str, d: int) -> Column:
    """Codegen'd a·b chain for a known dimension (the single-chain size
    measured to stay inside whole-stage codegen — see
    ``squared_distance_unrolled``)."""
    return _dot_unrolled(a_ref, b_ref, d)


def l2_norm_unrolled(ref: str, d: int) -> Column:
    """Codegen'd ‖v‖ for a known dimension — bit-equal to ``l2_norm``
    (same left-assoc self-dot chain under the same ``sqrt``)."""
    return F.sqrt(_dot_unrolled(ref, ref, d))


def cosine_similarity_unrolled(a_ref: str, b_ref: str, d: int) -> Column:
    """``cosine_similarity`` for a KNOWN dimension: the three dot folds
    (a·b, a·a, b·b) unrolled into codegen'd chains with the identical
    left-associative order and the identical dot/(√·√) operator tree —
    bit-exact vs the HOF form (``0.0 + t0 == t0``, the
    ``squared_distance_unrolled`` equivalence).

    Measured caveat (round 12): as ONE expression the three chains
    (~3·d terms) can exceed Janino method limits inside a join stage —
    whole-stage codegen then falls back to interpreted eval and the
    "optimization" is 20-35% SLOWER than the HOF.  When the pair sits
    under a join, prefer hoisting the per-ROW norms out of the per-PAIR
    expression: precompute ``l2_norm_unrolled`` as a column on each
    side and divide ``dot_unrolled`` by the product — bit-identical
    (same operand values through the same dot/(√·√) tree) and 3×
    less per-pair float work on top of staying inside codegen."""
    return _dot_unrolled(a_ref, b_ref, d) / (
        F.sqrt(_dot_unrolled(a_ref, a_ref, d)) * F.sqrt(_dot_unrolled(b_ref, b_ref, d))
    )


def dot(a: Column | str, b: Column | str) -> Column:
    a, b = F.col(a) if isinstance(a, str) else a, F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column | str) -> Column:
    return F.sqrt(dot(a, a))


def cosine_similarity(a: Column | str, b: Column | str) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))
