"""N-gram Jaccard similarity of every doc against a fixed query set.

Set semantics: shingle sets are distinct word n-grams of the normalized
text (same shingling as MinHash, operators/minhash_lsh.py), so the LSH
signature approximates exactly this Jaccard.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .minhash_lsh import with_shingles
from ..functions.signals import ratio6


def _jaccard(a, b):
    """round(|A∩B| / |A∪B|, 6) in the exact ratio6 contract (integer
    Jaccard ratios hit half-way rounding boundaries systematically)."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(a) + F.size(b) - inter
    return ratio6(inter, union)


def jaccard_vs_query(
    docs: DataFrame,
    id_col: str,
    query_shingles: list[str],
    text_col: str = "text",
    n: int = 3,
    min_sim: float = 0.0,
) -> DataFrame:
    """DF(id, jaccard) of every doc vs a fixed query shingle set.

    The query set ships as a literal array (broadcast by value): a
    single-pass scan, no shuffle, no join.
    """
    q = F.array(*[F.lit(s) for s in sorted(set(query_shingles))])
    sh = with_shingles(docs, id_col, text_col, n)
    return (
        sh.select(
            "id",
            _jaccard(F.col("_sh"), q).alias("jaccard"),
        )
        .where(F.col("jaccard") >= min_sim)
    )
