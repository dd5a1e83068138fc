"""Vector math over array<float>/array<double> embedding columns.

Native higher-order functions (F.aggregate / F.zip_with): sequential
left-to-right folds, so float results are deterministic and reproducible
(unlike an explode+sum whose addition order depends on partitioning).
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
    d = norm(a) * norm(b)
    return F.when(d == 0, F.lit(0.0)).otherwise(dot(a, b) / d)


def round_half_up(x: Column, digits: int) -> Column:
    """floor(x*10^d + 0.5)/10^d — deterministic cross-engine rounding for
    INEXACT doubles (cosines, normalized embedding cells). Spark round()
    (BigDecimal HALF_UP over the double's full binary expansion) and
    DuckDB round() (scaled-multiply-then-round) can disagree when x*10^d
    rounds across a half-way boundary the exact expansion does not; this
    idiom is the same IEEE op sequence in both engines, so results are
    bit-identical. Integer RATIOS should use signals.ratio6 (exact)
    instead; this is for transcendental values with no exact form.
    Yields +0.0 (never -0.0) for |x| < 10^-d/2."""
    scale = float(10 ** digits)
    return F.floor(x * F.lit(scale) + F.lit(0.5)) / F.lit(scale)


def staged_cosine(
    va: Column, vb: Column, na: Column, nb: Column, round_digits: int
) -> Column:
    """Rounded cosine over PRE-STAGED per-vector norms — the shared
    candidate-verify expression (ANN pair/star verifies, the kmeans
    assignment loop, SemDeDup assign + keep).

    HOF folds evaluate interpreted; the inline :func:`cosine` re-folds
    both norms at every evaluation, so verify paths stage ``norm(v)`` as
    a column per SIDE (linear work) and fold only the dot per PAIR.
    ``na * nb`` is the identical IEEE product to ``norm(a) * norm(b)``,
    and the zero-norm rule and rounding are centralized here so the
    dedup/ANN tiers cannot silently diverge."""
    den = na * nb
    return round_half_up(
        F.when(den == 0, F.lit(0.0)).otherwise(dot(va, vb) / den),
        round_digits,
    )

