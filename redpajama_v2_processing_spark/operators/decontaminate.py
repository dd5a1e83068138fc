"""Benchmark decontamination: flag training documents that overlap an
evaluation set by long n-gram collision — the GPT-3/Gopher/Llama
training-data hygiene step (a doc sharing a verbatim 13-gram with a
benchmark item leaks that item into training).

Relational formulation, no per-row Python: both sides explode to hashed
word n-grams (portable md5int over the space-joined gram); the benchmark
side is tiny versus the corpus, so its distinct gram table BROADCASTS and
the corpus never shuffles for the membership probe — only the per-doc
hit-count aggregation exchanges on the doc id (map-side combinable).
At 100 TB: benchmark sets are a few MB of n-grams; the whole operator is
one broadcast join over a projected two-column frame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import md5int
from ..functions.signals import ratio6
from ..functions.text import tokens, word_ngrams

DECONTAM_NGRAM = 13  # the GPT-3 standard overlap length (words)


def ngram_hash_frame(
    df: DataFrame, id_col: str, text_col: str = "text", n: int = DECONTAM_NGRAM
) -> DataFrame:
    """DF(id, gh): distinct hashed word n-grams per document. Docs with
    fewer than ``n`` tokens emit nothing (they cannot contain an n-gram)."""
    base = df.select(
        F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("_t")
    ).where(F.size("_t") >= n)
    # word_ngrams' zip_with formulation stays linear under Catalyst (the
    # transform/sequence + slice shape can degrade to O(len^2) when the
    # lambda inlines — functions/text.py:45)
    ex = base.select(
        "id", F.explode(word_ngrams(F.col("_t"), n)).alias("_g")
    )
    return ex.select("id", md5int(F.col("_g")).alias("gh")).distinct()


def contaminated_ids(
    docs: DataFrame,
    bench: DataFrame,
    id_col: str,
    text_col: str = "text",
    bench_text_col: str = "text",
    n: int = DECONTAM_NGRAM,
    min_hits: int = 1,
) -> DataFrame:
    """DF(id, hits): corpus docs sharing >= ``min_hits`` DISTINCT n-grams
    with any benchmark document."""
    dg = ngram_hash_frame(docs, id_col, text_col, n)
    bg = (
        ngram_hash_frame(bench, bench.columns[0], bench_text_col, n)
        .select("gh")
        .distinct()
    )
    return (
        dg.join(F.broadcast(bg), "gh")
        .groupBy("id")
        .agg(F.count("*").cast("long").alias("hits"))
        .where(F.col("hits") >= min_hits)
    )


def contamination_report(
    docs: DataFrame,
    bench: DataFrame,
    id_col: str,
    bench_id_col: str,
    text_col: str = "text",
    bench_text_col: str = "text",
    n: int = DECONTAM_NGRAM,
    min_hits: int = 1,
) -> DataFrame:
    """DF(bench_id, contaminated_docs): per-BENCHMARK contamination rate —
    for each benchmark document, how many corpus docs share >= ``min_hits``
    distinct n-grams with it. The eval-suite monitoring surface behind
    ``contaminated_ids`` (which answers the corpus-side question).

    Plan: the benchmark gram frame KEEPS its id (still broadcast-sized —
    benchmark suites are tiny vs the corpus), one broadcast join, one
    grouped count per (bench, doc) pair, one re-aggregation per bench id.
    The corpus never shuffles for the probe.
    """
    dg = ngram_hash_frame(docs, id_col, text_col, n)
    bg = ngram_hash_frame(bench, bench_id_col, bench_text_col, n).select(
        F.col("id").alias("bench_id"), "gh"
    )
    pair_hits = (
        dg.join(F.broadcast(bg), "gh")
        .groupBy("bench_id", "id")
        .agg(F.count("*").alias("_h"))
        .where(F.col("_h") >= min_hits)
    )
    return pair_hits.groupBy("bench_id").agg(
        F.count("*").cast("long").alias("contaminated_docs")
    )


def duplicated_ngram_fraction(
    docs: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = DECONTAM_NGRAM,
) -> DataFrame:
    """DF(id, n_ngrams, dup_ngram_fraction): fraction of each doc's
    DISTINCT n-grams that appear in at least one other document — the
    duplicated-span mass signal (Lee et al. 2022, "Deduplicating Training
    Data Makes Language Models Better": substring-duplicated text is the
    harmful kind), computed with the decontamination machinery pointed at
    the corpus itself.

    Plan: one n-gram frame (checkpointed — it feeds both the
    document-frequency count and the per-doc join), one grouped df count
    shuffled on the gram hash, one re-join + per-doc aggregation. Docs
    with < n tokens have no n-grams and score 0.0 over 0 grams.
    """
    dg = ngram_hash_frame(docs, id_col, text_col, n).localCheckpoint(eager=True)
    dup = (
        dg.groupBy("gh")
        .agg(F.count("*").alias("_df"))
        .where(F.col("_df") >= 2)
        .select("gh", F.lit(1).alias("_dup"))
    )
    # totals and duplicated counts in ONE aggregation over a single left
    # join (the dup marker is null for unique grams): the previous form
    # aggregated dg twice (semi-join count + totals count) and joined
    # each back separately (guide §2.4).
    per_doc = (
        dg.join(dup, "gh", "left")
        .groupBy("id")
        .agg(
            F.count("*").alias("_nt"),
            F.sum(F.coalesce("_dup", F.lit(0))).alias("_nd"),
        )
    )
    ids = docs.select(F.col(id_col).alias("id"))
    return (
        ids.join(per_doc, "id", "left")
        .select(
            "id",
            F.coalesce("_nt", F.lit(0)).cast("long").alias("n_ngrams"),
            ratio6(
                F.coalesce("_nd", F.lit(0)), F.coalesce("_nt", F.lit(0))
            ).alias("dup_ngram_fraction"),
        )
    )
