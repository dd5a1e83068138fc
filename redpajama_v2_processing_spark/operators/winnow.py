"""Winnowing document fingerprints (Schleimer, Wilkerson, Aiken — the
MOSS local fingerprinting algorithm).

Whole-document fingerprints (functions/text.fingerprint_*) only catch
exact duplicates; winnowing selects a GUARANTEED-coverage subset of
k-gram hashes (one minimum per window of w consecutive k-grams), so two
documents sharing any sufficiently long substring share fingerprints —
the standard primitive for substring-level dedup / provenance at scale.

Relational formulation (no per-row Python, no interpreted array lambdas):
explode k-gram positions, hash each k-gram (portable md5int), sliding
min via a ROWS BETWEEN window, distinct. One shuffle on the doc id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashing import md5int
from ..functions.signals import ratio6
from ..functions.text import normalize

WINNOW_K = 5  # k-gram length (chars, over normalized text)
WINNOW_W = 4  # window: one fingerprint per w consecutive k-grams

# Dedup-keep profile: MOSS guidance — k must exceed common-idiom length so
# a shared fingerprint implies genuine copying. Short grams (k=5) recur
# across hundreds of unrelated web docs, so the max_df rare filter would
# drop exactly the fingerprints that evidence containment; 20-char grams
# are near-unique (df 1-2) and survive it.
WINNOW_DEDUP_K = 20
WINNOW_DEDUP_W = 8


def winnow_fingerprints(
    docs: DataFrame,
    id_col: str,
    text_col: str = "text",
    k: int = WINNOW_K,
    w: int = WINNOW_W,
) -> DataFrame:
    """DF(id, fp): distinct winnowing fingerprints per document.

    Only FULL windows of w consecutive k-grams select a fingerprint, so a
    document needs normalized length >= k + w - 1 (at least w k-grams) to
    emit any rows; shorter docs emit none and can never match. Guarantee:
    any shared substring of length >= k + w - 1 yields at least one shared
    fingerprint; no shared substring shorter than k is ever matched.
    """
    base = docs.select(
        F.col(id_col).alias("id"), normalize(F.col(text_col)).alias("_n")
    ).where(F.length("_n") >= k)
    grams = base.select(
        "id",
        F.posexplode(F.sequence(F.lit(1), F.length("_n") - (k - 1))).alias(
            "_i", "pos"
        ),
        F.col("_n"),
    ).select(
        "id", "pos", md5int(F.col("_n").substr(F.col("pos"), F.lit(k))).alias("_h")
    )
    win = Window.partitionBy("id").orderBy("pos").rowsBetween(0, w - 1)
    n_grams = Window.partitionBy("id")
    mins = grams.select(
        "id",
        "pos",
        F.min("_h").over(win).alias("fp"),
        F.count("*").over(n_grams).alias("_cnt"),
    )
    # only full windows (the tail windows of < w grams are not windows)
    return (
        mins.where(F.col("pos") <= F.col("_cnt") - (w - 1))
        .select("id", "fp")
        .distinct()
    )


def winnow_near_dup_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str = "text",
    k: int = WINNOW_K,
    w: int = WINNOW_W,
    min_shared: int = 2,
    max_df: int = 10,
    materialize: bool = True,
) -> DataFrame:
    """DF(src, dst, shared, src_containment, dst_containment), src < dst:
    documents sharing >= ``min_shared``
    RARE winnowing fingerprints — substring-level near-dup detection (the
    MOSS use-case: partial overlap / containment that whole-document
    MinHash misses).

    ``max_df`` drops stop-fingerprints (substrings appearing in more than
    ``max_df`` docs — boilerplate): both a precision filter (shared
    boilerplate is not evidence of copying) AND the scale device — the
    fingerprint equi-join's per-key fan-out is bounded by max_df, so
    candidate volume is <= (distinct rare fps) * max_df^2 instead of
    quadratic in the hottest fingerprint's document frequency.

    Output adds MOSS-style containment fractions — ``shared`` over each
    side's TOTAL distinct fingerprint count — so consumers can tell
    "B contains A" (src_containment ~ 1.0, dst_containment small) apart
    from symmetric near-duplication.

    ``materialize`` (default True) checkpoints the fingerprint frame
    once: it feeds THREE consumers (rare-df filter, per-doc totals, the
    join sides) and Catalyst does not share common subplans across them —
    measured 6 full scans + 6 winnowing passes per query without it. The
    checkpoint blocks belong to the returned plan and are context-cleaned
    when it is dropped; pass False to keep the plan fully lazy.
    """
    fps = winnow_fingerprints(docs, id_col, text_col, k, w)
    if materialize:
        fps = fps.localCheckpoint(eager=True)
    rare = (
        fps.groupBy("fp")
        .agg(F.count("*").alias("_df"))
        .where((F.col("_df") >= 2) & (F.col("_df") <= max_df))
        .select("fp")
    )
    counts = fps.groupBy("id").agg(F.count("*").alias("_n"))
    rf = fps.join(rare, "fp")
    a = rf.select(F.col("id").alias("src"), "fp")
    b = rf.select(F.col("id").alias("dst"), "fp")
    pairs = (
        a.join(b, "fp")
        .where(F.col("src") < F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count("*").cast("long").alias("shared"))
        .where(F.col("shared") >= min_shared)
    )
    nsrc = counts.select(F.col("id").alias("src"), F.col("_n").alias("_ns"))
    ndst = counts.select(F.col("id").alias("dst"), F.col("_n").alias("_nd"))
    return (
        pairs.join(nsrc, "src")
        .join(ndst, "dst")
        .select(
            "src", "dst", "shared",
            ratio6(F.col("shared"), F.col("_ns")).alias("src_containment"),
            ratio6(F.col("shared"), F.col("_nd")).alias("dst_containment"),
        )
    )


def winnow_dedup_keep(
    docs: DataFrame,
    id_col: str,
    text_col: str = "text",
    k: int = WINNOW_DEDUP_K,
    w: int = WINNOW_DEDUP_W,
    min_shared: int = 2,
    max_df: int = 10,
    min_containment: float = 0.5,
) -> DataFrame:
    """DF(id): substring-dedup keep-list — one document (min id) per
    containment component, singletons kept. Completes the dedup-family
    symmetry (MinHash / SimHash / embedding all end in a CC keep-list;
    winnowing previously stopped at pairs).

    Edges = near-dup pairs whose LARGER containment fraction reaches
    ``min_containment`` (either "B contains most of A" or symmetric
    near-duplication); connected components assign roots; keep root == id.

    Scale: candidate volume is bounded by the ``max_df`` stop-fingerprint
    filter (<= distinct rare fps * max_df^2 pairs — fingerprints hotter
    than max_df are boilerplate and dropped), so the edge join never goes
    quadratic in corpus size; CC is the same O(log n)-round fixpoint the
    other families use.
    """
    from .connected_components import dedup_keep_min_id

    pairs = winnow_near_dup_pairs(docs, id_col, text_col, k, w, min_shared, max_df)
    edges = pairs.where(
        F.greatest("src_containment", "dst_containment") >= min_containment
    ).select("src", "dst")
    return dedup_keep_min_id(docs.select(F.col(id_col).alias("id")), edges)
