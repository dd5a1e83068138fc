"""Exact n-gram-set Jaccard near-dup dedup (inverted-index candidates,
relational set arithmetic — no minhash approximation).

MinHash-LSH (operators/minhash_lsh.py) ESTIMATES Jaccard through banded
signatures; this operator computes the EXACT n-gram Jaccard for every
candidate pair — the ground-truth tier the engine's own pytest F1 gate
measures the LSH pipeline against, here expressed as a first-class
distributed operator (the reference validates its LSH the same way,
/root/reference/src/minhashlsh.py:87-193 builds the same shingle sets).

Candidate generation is the classic rare-term inverted index: explode
distinct shingles, drop grams whose document frequency exceeds
``max_df`` (stop-grams — boilerplate shared by hundreds of unrelated
pages), self-join the survivors on the gram. A pair is considered iff it
shares >= 1 rare gram; a missed pair would have to overlap ONLY through
boilerplate stop-grams — exactly the overlap a near-dup decision must
not be built on (same argument as winnow's max_df stop-fingerprint
bound, operators/winnow.py). The verify is then EXACT over the full
shingle sets: |A∩B| by a relational gram join, |A∪B| = |A|+|B|-|A∩B|.

Scale contract: each rare gram contributes <= C(max_df, 2) pairs, so
candidates are linear in corpus grams with a constant cap factor —
never all-pairs. The intersection join touches only candidate rows
(cand is the small side); the corpus-wide frames shuffle on gram / id
keys with partial aggregation.

KNOWN CLIFF (inherent to rare-gram candidate generation): a duplicate
CLUSTER wider than max_df whose members overlap ONLY through
cluster-internal grams is missed entirely — every shared gram has
df = cluster width > max_df, so no candidate pair forms (m <= max_df
emits C(m, 2) pairs; m > max_df emits 0). This operator is the exact
ground-truth tier for bounded near-dup groups: run exact dedup FIRST
(collapsing identical copies so surviving near-dup groups stay small),
and size max_df >= the widest near-dup group you need caught; for
unbounded boilerplate clusters use the MinHash-LSH star path, whose
bucket-min edges have no df cliff.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .connected_components import dedup_keep_min_id
from .minhash_lsh import with_shingles
from ..functions.signals import ratio6

JACCARD_ROUND = 6


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.6,
    max_df: int = 10,
) -> DataFrame:
    """DF(src, dst, jaccard), src < dst: exact n-gram Jaccard >= threshold
    over rare-gram candidate pairs (rounded at JACCARD_ROUND before the
    comparison so the cut is engine-portable)."""
    flat = (
        with_shingles(docs, id_col, text_col, n)
        .select("id", F.explode("_sh").alias("g"))
    )
    # shingle arrays are distinct per doc (with_shingles), so count(*)
    # per id is |set| and count(*) per gram is document frequency
    flat = flat.localCheckpoint(eager=True)  # feeds sizes, df, rare, inter×2
    sizes = flat.groupBy("id").agg(F.count("*").alias("_sz"))
    dfc = flat.groupBy("g").agg(F.count("*").alias("_df"))
    rare = flat.join(dfc.where(F.col("_df") <= max_df).select("g"), "g")

    a = rare.select(F.col("id").alias("src"), "g")
    b = rare.select(F.col("id").alias("dst"), "g")
    cand = (
        a.join(b, "g").where(F.col("src") < F.col("dst")).select("src", "dst").distinct()
    )

    fa = flat.select(F.col("id").alias("src"), "g")
    fb = flat.select(F.col("id").alias("dst"), "g")
    inter = (
        cand.join(fa, "src")
        .join(fb, ["dst", "g"])
        .groupBy("src", "dst")
        .agg(F.count("*").alias("_i"))
    )
    sa = sizes.select(F.col("id").alias("src"), F.col("_sz").alias("_sa"))
    sb = sizes.select(F.col("id").alias("dst"), F.col("_sz").alias("_sb"))
    jac = ratio6(
        F.col("_i"), F.col("_sa") + F.col("_sb") - F.col("_i"), JACCARD_ROUND
    )
    return (
        inter.join(sa, "src")
        .join(sb, "dst")
        .select("src", "dst", jac.alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def ngram_jaccard_dedup_keep(
    docs: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.6,
    max_df: int = 10,
) -> DataFrame:
    """DF(id): keep-list — one doc (the min id) per exact-Jaccard near-dup
    component, singletons (including unsignable null/empty-text docs)
    kept. Same keep rule as the rest of the dedup family (root == id)."""
    return dedup_keep_min_id(
        docs.select(F.col(id_col).alias("id")),
        ngram_jaccard_pairs(
            docs, id_col, text_col, n, threshold, max_df
        ).select("src", "dst"),
    )
