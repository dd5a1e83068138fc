"""Driver-facing query registry: each entry pairs a Spark DataFrame plan
with a DuckDB oracle (oracle.py) computing the identical result.

Naming contract: every computed column is aliased identically on both
sides (the driver's compare sorts columns by name and value-hashes).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import oracle
from .config import (
    ANN_TOPK, ORACLE_MINHASH, PROD_EMB_LSH, PROD_MINHASH, PROD_SIMHASH,
)
from .functions.langid import with_langid
from .functions.perplexity import with_unigram_perplexity
from .functions.scrub import mask_flagged_words, scrub_pii
from .functions.signals import with_signals
from .functions.text import fingerprint_hex, fingerprint_int
from .operators.ann import (
    ann_ivf_topk,
    ann_lsh_topk,
    cosine_topk,
    embedding_dedup_keep,
    embedding_near_dup_pairs,
    label_centroids,
)
from .operators.entropy import unigram_entropy
from .operators.exact_dedup import anti_join_duplicates, exact_keep_ids
from .operators.jaccard import jaccard_vs_query
from .operators.minhash_lsh import (
    candidate_edges,
    fuzzy_dedup_keep_ids,
    lsh_buckets,
    minhash_bands,
    with_shingles,
)
from .operators.multimodal import decode_media_meta, make_fake_payload
from .operators.quality_filter import with_quality_label
from .operators.sampling import hash_sample
from .operators.sessionize import sessionize, tumbling_counts
from .operators.simhash_dedup import simhash_near_pairs, with_simhash
from .operators.skew import salted_count
from .operators.thresholds import per_lang_thresholds, quantile_filter

SIGNAL_COLS = [
    "number_of_words", "number_of_lines", "number_of_characters",
    "mean_word_length", "words_per_line_mean", "short_line_ratio",
    "lines_end_in_punctuation", "special_char_ratio", "stop_word_fraction",
    "flagged_word_fraction", "char_repetition_5gram", "char_repetition_10gram",
    "word_repetition_2gram",
]
THRESHOLD_COLS = ["number_of_words", "mean_word_length", "stop_word_fraction"]


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _docs(spark, sf_dir):
    return _t(spark, sf_dir, "documents")


# ---------------------------------------------------------------------------
# Spark-side queries
# ---------------------------------------------------------------------------


def q_quality_signals(spark, sf_dir):
    return with_signals(_docs(spark, sf_dir)).select("doc_id", *SIGNAL_COLS)


def q_unigram_entropy(spark, sf_dir):
    return unigram_entropy(_docs(spark, sf_dir), "doc_id", round_to=4)


def q_perplexity(spark, sf_dir):
    return with_unigram_perplexity(_docs(spark, sf_dir), "doc_id").select(
        "doc_id", "perplexity"
    )


def q_perplexity_ngram(spark, sf_dir):
    """Higher-order (interpolated word-bigram, Jelinek-Mercer) LM
    perplexity — the KenLM-shaped signal; unigram perplexity is the
    order-1 fallback."""
    from .functions.perplexity import with_bigram_perplexity

    return with_bigram_perplexity(_docs(spark, sf_dir), "doc_id").select(
        "doc_id", "perplexity_bigram"
    )


def q_perplexity_buckets(spark, sf_dir):
    """CCNet-style head/middle/tail partition: per-language terciles of
    the bigram LM perplexity — the scheme that shards RPv2's source
    corpus into {lang}_head/{lang}_middle/{lang}_tail files."""
    from .functions.perplexity import perplexity_buckets

    return perplexity_buckets(_docs(spark, sf_dir), "doc_id")


def q_langid(spark, sf_dir):
    return with_langid(_docs(spark, sf_dir), score_col="score").select(
        "doc_id", "langid", "score"
    )


def q_ccnet_pipeline(spark, sf_dir):
    """The CCNet corpus construction (Wenzek et al. 2020) composed
    end-to-end — the recipe that produced the reference's input shards
    (/root/reference/README.md:24-46): langid gate (score >= 0.02) then
    per-DETECTED-language bigram-LM perplexity terciles. The LM trains on
    the gated corpus itself (CCNet trains per-language LMs on the
    filtered slice), so the gate changes the model, not just the rows —
    the whole composition is one oracle-checked query."""
    from .functions.perplexity import perplexity_buckets

    gated = with_langid(_docs(spark, sf_dir), score_col="score").where(
        F.col("score") >= 0.02
    )
    return perplexity_buckets(gated, "doc_id", lang_col="langid")


def q_gopher_signals(spark, sf_dir):
    """Residual Gopher (Rae et al. 2021) shape heuristics: symbol/word
    ratio, bullet- and ellipsis-line fractions, alpha-word fraction.

    The fixture text contains none of the shapes these signals detect
    (all-zero columns would make the check vacuous), so page-shaped text
    is synthesized deterministically from each doc's tokens: a bullet
    line on every 3rd doc, an ellipsis ending on every 4th, doc_id%5
    hash marks, and a digits-only word — identical construction in the
    oracle, so every signal varies and is value-checked."""
    from .functions.signals import gopher_signals
    from .functions.text import tokens as _tokens

    docs = _docs(spark, sf_dir)
    t = _tokens(F.col("text"))
    j = lambda a, n: F.array_join(F.slice(t, a, n), " ")  # noqa: E731
    l1 = F.when(
        F.col("doc_id") % 3 == 0, F.concat(F.lit("- "), j(1, 5))
    ).otherwise(j(1, 5))
    l2 = F.concat(
        j(6, 5),
        F.when(F.col("doc_id") % 4 == 0, F.lit("...")).otherwise(F.lit(".")),
    )
    l3 = F.concat(j(11, 5), F.lit(" "), F.expr("repeat('#', doc_id % 5)"))
    l4 = F.concat(F.col("doc_id").cast("string"), F.lit(" 12345 "), j(16, 3))
    shaped = docs.select(
        "doc_id", F.concat_ws("\n", l1, l2, l3, l4).alias("text")
    )
    return gopher_signals(shaped, "doc_id")


def _gopher_shaped(spark, sf_dir):
    """DF(doc_id, text): page-shaped text for the Gopher filter — the
    q_gopher_signals shaping (bullet/ellipsis/hash/digit injections) plus
    a duplicated l1+l2 tail on every 6th doc so the duplicate-line caps
    actually bind. Identical construction in the oracle."""
    from .functions.text import tokens as _tokens

    docs = _docs(spark, sf_dir)
    t = _tokens(F.col("text"))
    j = lambda a, n: F.array_join(F.slice(t, a, n), " ")  # noqa: E731
    l1 = F.when(
        F.col("doc_id") % 3 == 0, F.concat(F.lit("- "), j(1, 5))
    ).otherwise(j(1, 5))
    l2 = F.concat(
        j(6, 5),
        F.when(F.col("doc_id") % 4 == 0, F.lit("...")).otherwise(F.lit(".")),
    )
    l3 = F.concat(j(11, 5), F.lit(" "), F.expr("repeat('#', doc_id % 5)"))
    l4 = F.concat(F.col("doc_id").cast("string"), F.lit(" 12345 "), j(16, 3))
    base_txt = F.concat_ws("\n", l1, l2, l3, l4)
    shaped_txt = F.when(
        F.col("doc_id") % 6 == 0, F.concat_ws("\n", base_txt, l1, l2)
    ).otherwise(base_txt)
    return docs.select("doc_id", shaped_txt.alias("text"))


def q_gopher_filter(spark, sf_dir):
    """The composed Gopher document-deletion rule (Rae et al. 2021
    §A.1.1) as one keep/drop surface: word-count + mean-word-length
    bands, symbol ratio, bullet/ellipsis line fractions, alpha-word
    fraction, >= 2 Gopher stop words, duplicate-line caps. min_words
    lowered to 10 for the shaped fixture pages (operator default is the
    paper's 50) so both keep classes stay populated."""
    from .functions.signals import gopher_filter

    return gopher_filter(_gopher_shaped(spark, sf_dir), "doc_id", min_words=10)


def q_c4_filter(spark, sf_dir):
    """C4 cleaning (Raffel et al. 2020): keep >= 5-word lines ending in
    terminal punctuation, drop pages with < 3 retained lines, braces, or
    'lorem ipsum'; returns the retained lines rejoined.

    The fixture text has no punctuation/newlines (no line would ever
    survive), so page-shaped text is synthesized deterministically from
    each doc's tokens — three 6-word punctuated lines plus a short junk
    line; every 7th doc gets a brace, every 11th a 'lorem ipsum' line,
    exercising each page rule. Identical construction in the oracle."""
    from .functions.c4 import c4_filter
    from .functions.text import tokens as _tokens

    docs = _docs(spark, sf_dir)
    t = _tokens(F.col("text"))
    line = lambda j, p: F.concat(  # noqa: E731
        F.array_join(F.slice(t, j, 6), " "), F.lit(p)
    )
    synth = F.concat_ws(
        "\n", line(1, "."), line(7, "!"), F.lit("short line"), line(13, "?")
    )
    synth = F.when(
        F.col("doc_id") % 7 == 0, F.concat(synth, F.lit(" {"))
    ).otherwise(synth)
    synth = F.when(
        F.col("doc_id") % 11 == 0,
        F.concat(synth, F.lit("\nwe add lorem ipsum boilerplate here")),
    ).otherwise(synth)
    shaped = docs.select("doc_id", synth.alias("text"))
    return c4_filter(shaped, "doc_id")


def q_dedup_lines(spark, sf_dir):
    """Within-doc duplicate-line REMOVAL (first occurrence kept, order
    preserved). The fixture text has no newlines, so a 5-line page with
    two planted repeats is synthesized from each doc's tokens —
    identical construction in the oracle; output must be the 3 distinct
    lines in first-occurrence order."""
    from .functions.signals import dedup_lines
    from .functions.text import tokens as _tokens

    docs = _docs(spark, sf_dir)
    t = _tokens(F.col("text"))
    j = lambda a, n: F.array_join(F.slice(t, a, n), " ")  # noqa: E731
    shaped = docs.select(
        "doc_id",
        F.concat_ws("\n", j(1, 4), j(5, 4), j(1, 4), j(9, 4), j(5, 4)).alias("text"),
    )
    return dedup_lines(shaped, "doc_id")


def _span_pages(spark, sf_dir):
    """DF(doc_id, text): 6-line synthetic pages for the span/paragraph
    dedup queries — the fixture text has no newlines or cross-doc spans,
    so each doc gets a 3-line boilerplate banner shared by every doc of
    the same language above 3 doc-unique token lines. Identical
    construction in the oracle twins."""
    from .functions.text import tokens as _tokens

    docs = _docs(spark, sf_dir)
    t = _tokens(F.col("text"))
    j = lambda a, n: F.array_join(F.slice(t, a, n), " ")  # noqa: E731
    banner = lambda k: F.concat(  # noqa: E731
        F.lit(f"shared banner {k} for "), F.col("lang")
    )
    return docs.select(
        "doc_id",
        F.concat_ws(
            "\n", banner("one"), banner("two"), banner("three"),
            j(1, 5), j(6, 5), j(11, 5),
        ).alias("text"),
    )


def q_span_dedup(spark, sf_dir):
    """C4-style corpus-wide duplicated three-line-span removal (first
    occurrence kept): the per-language banner is the duplicated span —
    the language's min-doc_id page keeps it, every other page loses
    those lines."""
    from .operators.span_dedup import span_dedup

    return span_dedup(_span_pages(spark, sf_dir), "doc_id").select(
        F.col("id").alias("doc_id"), "clean_text", "n_removed_lines"
    )


def q_duplicate_line_signals(spark, sf_dir):
    """Gopher-style line-repetition signals (duplicate-line fraction by
    count and by character mass)."""
    from .functions.signals import duplicate_line_signals

    return duplicate_line_signals(_docs(spark, sf_dir), "doc_id")


def q_langid_confusion(spark, sf_dir):
    """Language-ID quality monitoring: confusion counts of detected
    langid vs the table's declared lang — the per-partition signal-metrics
    surface a production filter pipeline tracks per crawl."""
    detected = with_langid(_docs(spark, sf_dir)).select("doc_id", "langid")
    truth = _docs(spark, sf_dir).select("doc_id", "lang")
    return (
        truth.join(detected, "doc_id")
        .groupBy("lang", "langid")
        .agg(F.count("*").alias("n"))
    )


def q_token_counts(spark, sf_dir):
    """Per-doc token budget: whitespace tokens + BPE-ish subword pieces
    (pre-tokenizer split: letter runs / digit runs / single marks)."""
    from .functions.text import subword_count, ws_token_count

    return _docs(spark, sf_dir).select(
        "doc_id",
        ws_token_count("text").alias("ws_tokens"),
        subword_count("text").alias("subword_tokens"),
    )


def q_winnow_fingerprints(spark, sf_dir):
    """MOSS-style winnowing fingerprints: substring-level dedup primitive
    (one selected k-gram hash per window of w consecutive k-grams)."""
    from .operators.winnow import winnow_fingerprints

    return winnow_fingerprints(_docs(spark, sf_dir), "doc_id")


def q_winnow_near_dup_pairs(spark, sf_dir):
    """Substring-level near-dup pairs: >= 2 shared RARE winnowing
    fingerprints (document frequency <= 10; commoner fingerprints are
    boilerplate and are dropped, which also bounds the join fan-out)."""
    from .operators.winnow import winnow_near_dup_pairs

    return winnow_near_dup_pairs(_docs(spark, sf_dir), "doc_id")


def _dsir_target(spark, sf_dir):
    """Synthetic 'high-quality target' sample: every 10th document."""
    return _docs(spark, sf_dir).where(F.col("doc_id") % 10 == 0).select(
        F.col("doc_id").alias("tid"), "text"
    )


def q_dsir_weights(spark, sf_dir):
    """DSIR importance log-weights (Xie et al. 2023): hashed uni+bigram
    bucket distributions of target vs raw corpus, per-doc weight =
    integer micro-unit sum of count * log-ratio."""
    from .operators.dsir import dsir_log_weights

    return dsir_log_weights(_docs(spark, sf_dir), _dsir_target(spark, sf_dir),
                            "doc_id")


def q_dsir_topk(spark, sf_dir):
    """DSIR selection: the 100 most target-like docs (deterministic
    top-k, ties by id)."""
    from .operators.dsir import dsir_select

    return dsir_select(_docs(spark, sf_dir), _dsir_target(spark, sf_dir),
                       "doc_id", k=100)


def q_decontaminate_flags(spark, sf_dir):
    """Benchmark decontamination flags: docs sharing >= 1 distinct
    13-gram with the synthetic evaluation set (every 40th doc's first 20
    tokens — a 'question' lifted verbatim from the corpus, so the source
    docs and their duplicates must be flagged)."""
    from .functions.text import tokens as _tokens
    from .operators.decontaminate import contaminated_ids

    docs = _docs(spark, sf_dir)
    bench = docs.where(F.col("doc_id") % 40 == 0).select(
        F.col("doc_id").alias("bench_id"),
        F.array_join(F.slice(_tokens(F.col("text")), 1, 20), " ").alias("text"),
    )
    return contaminated_ids(docs, bench, "doc_id").select(
        F.col("id").alias("doc_id"), "hits"
    )


def q_contamination_report(spark, sf_dir):
    """Per-benchmark contamination rate over the same synthetic eval set
    as decontaminate_flags (every 40th doc's first 20 tokens): how many
    corpus docs share >= 1 distinct 13-gram with EACH benchmark entry."""
    from .functions.text import tokens as _tokens
    from .operators.decontaminate import contamination_report

    docs = _docs(spark, sf_dir)
    bench = docs.where(F.col("doc_id") % 40 == 0).select(
        F.col("doc_id").alias("bench_id"),
        F.array_join(F.slice(_tokens(F.col("text")), 1, 20), " ").alias("text"),
    )
    return contamination_report(docs, bench, "doc_id", "bench_id")


def q_dedup_cluster_sizes(spark, sf_dir):
    """Near-dup component-size histogram (oracle minhash profile) — the
    monitoring surface for how much corpus mass sits in big boilerplate
    clusters vs isolated pairs."""
    from .operators.minhash_lsh import dedup_cluster_sizes

    return dedup_cluster_sizes(_docs(spark, sf_dir), "doc_id").select(
        F.col("cluster_size").cast("long").alias("cluster_size"), "n_clusters"
    )


def q_chunk_documents(spark, sf_dir):
    """Token-window chunking (training-sequence prep): 64-token windows,
    8-token overlap; every token covered, trailing windows never fully
    contained in the previous — exact integer window arithmetic."""
    from .functions.chunking import chunk_documents

    return chunk_documents(_docs(spark, sf_dir), "doc_id").select(
        F.col("id").alias("doc_id"), "chunk_idx", "n_tokens", "chunk_text"
    )


def q_token_offsets(spark, sf_dir):
    """Global concat-with-EOD token layout: exclusive prefix sum of
    (n_tokens + 1) in id order via the distributed two-level scan (no
    global-order window)."""
    from .functions.chunking import with_token_offsets

    return with_token_offsets(_docs(spark, sf_dir), "doc_id").select(
        F.col("id").alias("doc_id"), "n_tokens", "start_offset"
    )


def q_pack_blocks(spark, sf_dir):
    """Training-block packing: which 128-token blocks each doc's tokens
    land in after the concat-with-EOD layout (one row per doc-block
    span)."""
    from .functions.chunking import pack_blocks

    return pack_blocks(_docs(spark, sf_dir), "doc_id").select(
        "block_idx", F.col("id").alias("doc_id"), "block_start_offset"
    )


def q_scrub_cc_luhn(spark, sf_dir):
    """Luhn-validated credit-card scrub: well-known test card numbers
    (three valid, two invalid — cycled by doc_id) injected into each
    doc's text; only the checksum-valid candidates may be masked."""
    from .functions.scrub import scrub_cc_luhn

    docs = _docs(spark, sf_dir)
    cand = (
        F.when(F.col("doc_id") % 5 == 0, "4242 4242 4242 4242")
        .when(F.col("doc_id") % 5 == 1, "4111111111111111")
        .when(F.col("doc_id") % 5 == 2, "378282246310005")
        .when(F.col("doc_id") % 5 == 3, "4242424242424241")
        .otherwise("1234567890123456")
    )
    shaped = docs.select(
        "doc_id",
        F.concat(
            F.substring("text", 1, 40), F.lit(" pay "), cand, F.lit(" end")
        ).alias("text"),
    )
    return shaped.select("doc_id", scrub_cc_luhn("text").alias("scrubbed"))


def q_dup_ngram_fraction(spark, sf_dir):
    """Duplicated-span mass (Lee et al. 2022): fraction of each doc's
    distinct 13-grams appearing in >= 2 docs. The fixture has no organic
    cross-doc 13-grams, so every 25th doc gets a half-length fragment
    twin (same construction as winnow_dedup_keep) whose grams are fully
    contained in its parent's."""
    from .operators.decontaminate import duplicated_ngram_fraction

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    frags = docs.where(F.col("doc_id") % 25 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.col("text").substr(F.lit(1), F.floor(F.length("text") / 2).cast("int")).alias("text"),
    )
    return duplicated_ngram_fraction(docs.unionByName(frags), "doc_id")


def q_winnow_dedup_keep(spark, sf_dir):
    """Substring-dedup keep-list: containment-threshold edges over rare
    shared winnowing fingerprints -> connected components -> min-id keep
    (the consumable end of the winnowing family, mirroring the MinHash /
    SimHash / embedding keep-lists). The fixture has no organic substring
    dups, so every 25th doc gets a half-length fragment twin (id + 1e6,
    identical substr arithmetic to the oracle's aug CTE) that the keep
    rule must fold into its parent's component."""
    from .operators.winnow import winnow_dedup_keep

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    frags = docs.where(F.col("doc_id") % 25 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.col("text").substr(F.lit(1), F.floor(F.length("text") / 2).cast("int")).alias("text"),
    )
    return winnow_dedup_keep(docs.unionByName(frags), "doc_id")


def q_fingerprint(spark, sf_dir):
    return _docs(spark, sf_dir).select(
        "doc_id",
        fingerprint_hex(F.col("text")).alias("fp_hex"),
        fingerprint_int(F.col("text")).alias("fp_int"),
    )


def _augmented(docs):
    raw = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com ssn 123-45-6789 ip 10.0.0."),
        (F.col("doc_id") % 255).cast("string"),
    )
    return docs.withColumn("raw", raw)


def q_scrub(spark, sf_dir):
    aug = _augmented(_docs(spark, sf_dir))
    scrubbed = scrub_pii(F.col("raw"))
    return aug.select(
        "doc_id",
        scrubbed.alias("scrubbed"),
        mask_flagged_words(scrubbed).alias("masked"),
    )


def q_quality_filter(spark, sf_dir):
    return with_quality_label(with_signals(_docs(spark, sf_dir))).select(
        "doc_id", "keep", "drop_reason"
    )


def q_quality_thresholds(spark, sf_dir):
    return per_lang_thresholds(
        with_signals(_docs(spark, sf_dir)), THRESHOLD_COLS, exact=True
    )


def q_quantile_filter(spark, sf_dir):
    return quantile_filter(
        with_signals(_docs(spark, sf_dir)), THRESHOLD_COLS, exact=True
    ).select("doc_id")


def q_profiled_quantile_filter(spark, sf_dir):
    from .operators.thresholds import profiled_quantile_filter

    return profiled_quantile_filter(
        with_signals(_docs(spark, sf_dir)), THRESHOLD_COLS, exact=True
    ).select("doc_id")


def q_exact_dedup_keep(spark, sf_dir):
    return exact_keep_ids(_docs(spark, sf_dir), "doc_id")


def q_anti_join(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    dups = docs.where(F.col("doc_id") % 7 == 0).select("doc_id")
    return anti_join_duplicates(docs, dups, "doc_id", "doc_id").select("doc_id", "lang")


def q_semi_join(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    keep = docs.where(F.col("doc_id") % 3 == 0).select("doc_id")
    return docs.join(keep, "doc_id", "left_semi").select("doc_id", "n_chars")


def q_minhash_bands(spark, sf_dir):
    return minhash_bands(_docs(spark, sf_dir), "doc_id").select(
        "id", F.col("band_idx").cast("long").alias("band_idx"), "band_hash"
    )


def q_lsh_buckets(spark, sf_dir):
    return lsh_buckets(minhash_bands(_docs(spark, sf_dir), "doc_id")).select(
        F.col("band_idx").cast("long").alias("band_idx"),
        "band_hash", "n_docs", "min_id",
    )


def q_candidate_edges(spark, sf_dir):
    return candidate_edges(minhash_bands(_docs(spark, sf_dir), "doc_id"))


def q_fuzzy_dedup_keep(spark, sf_dir):
    return fuzzy_dedup_keep_ids(_docs(spark, sf_dir), "doc_id").select(
        F.col("id").alias("doc_id")
    )


def q_fuzzy_dedup_distributed(spark, sf_dir):
    """Forces the large-star/small-star distributed CC fixpoint
    (cc_driver_threshold=0): the 1000-executor path, oracle-checked."""
    return fuzzy_dedup_keep_ids(
        _docs(spark, sf_dir), "doc_id", cc_driver_threshold=0
    ).select(F.col("id").alias("doc_id"))


def q_shard_manifest(spark, sf_dir):
    """Training-shard manifest over the packed-block layout (64 blocks
    per shard)."""
    from .functions.chunking import shard_manifest

    return shard_manifest(_docs(spark, sf_dir), "doc_id")


def q_doc_embeddings(spark, sf_dir):
    """In-engine document embeddings: hashed TF-IDF (signed feature
    hashing, 16 dims for the oracle profile), L2-normalized. Emitted in
    driver-canonical exploded form (doc_id, dim_idx, value) — the
    harness canonicalizer cannot sort/hash array columns; internal
    consumers (SemDeDup, embedding LSH, ANN) use the array-returning
    operator directly."""
    from .operators.embeddings import doc_embeddings

    emb = doc_embeddings(_docs(spark, sf_dir), "doc_id", dim=16)
    return emb.select(
        F.col("id").alias("doc_id"), F.posexplode("embedding")
    ).select(
        "doc_id",
        F.col("pos").cast("int").alias("dim_idx"),
        F.col("col").alias("value"),
    )


def q_block_doc_histogram(spark, sf_dir):
    """Training-prep monitoring: how many document boundaries land in
    each 128-token block under the concat-with-EOD layout (the
    cross-document-attention exposure of a packed batch). Two grouped
    counts over the pack_blocks frame; the histogram is tiny."""
    from .functions.chunking import pack_blocks

    pb = pack_blocks(_docs(spark, sf_dir), "doc_id")
    per = pb.groupBy("block_idx").agg(F.count("*").alias("docs_in_block"))
    return per.groupBy("docs_in_block").agg(
        F.count("*").cast("long").alias("n_blocks")
    )


def q_script_ratios(spark, sf_dir):
    """Unicode script composition per doc (CLD3-style langid features +
    webtext sanity signal)."""
    from .functions.encoding import SCRIPT_RANGES, with_script_ratios

    cols = [f"{n}_ratio" for n in SCRIPT_RANGES] + ["letter_ratio"]
    return with_script_ratios(_docs(spark, sf_dir)).select("doc_id", *cols)


def q_source_overlap(spark, sf_dir):
    """Inter-source duplication matrix: for each source pair, how many
    distinct normalized-content fingerprints both feeds carry (which
    feeds syndicate each other — the monitoring input for per-source
    dedup budgets). Distinct (fingerprint, source) frame self-joined on
    the fingerprint: fan-out per fingerprint is bounded by the source
    count, so the join stays linear in the corpus."""
    d = (
        _docs(spark, sf_dir)
        .select(fingerprint_int(F.col("text")).alias("f"), "source")
        .distinct()
    )
    a = d.select(F.col("f"), F.col("source").alias("src_a"))
    b = d.select(F.col("f"), F.col("source").alias("src_b"))
    return (
        a.join(b, "f")
        .where(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count("*").cast("long").alias("shared_docs"))
    )


def q_jaccard_sim_histogram(spark, sf_dir):
    """Dedup threshold-tuning surface: exact Jaccard of every rare-gram
    candidate pair, bucketed to 5-percent bins — where does the
    near-dup similarity mass sit relative to the 0.6/0.8 cuts."""
    from .operators.jaccard_dedup import ngram_jaccard_pairs

    pairs = ngram_jaccard_pairs(_docs(spark, sf_dir), "doc_id", threshold=0.0)
    bucket = (
        F.expr("cast(round(jaccard * 100) as int) div 5") * 5
    ).alias("sim_pct_bucket")
    return pairs.select(bucket).groupBy("sim_pct_bucket").agg(
        F.count("*").cast("long").alias("n_pairs")
    )


#: fixed BM25 oracle-profile probe: 'dup' is a rare term on the synthetic
#: corpus (df 25/500 — it marks the planted near-dup pages) while the
#: others are common (df ~380/500), so the idf spread is non-degenerate
BM25_QUERY = "dup spark merge window"


def q_bm25_topk(spark, sf_dir):
    """Text-side retrieval surface: top-20 documents by Okapi BM25
    against a fixed query string (integer micro-unit scores — see
    operators/bm25.py's determinism contract)."""
    from .operators.bm25 import bm25_topk

    return bm25_topk(_docs(spark, sf_dir), "doc_id", BM25_QUERY, k=20)


def q_fuzzy_dedup_keep_longest(spark, sf_dir):
    """Quality-aware representative selection: same near-dup components
    as fuzzy_dedup_keep, but each cluster keeps its LONGEST member
    (whitespace-token count, ties to the smaller id) instead of the
    arbitrary min id — truncated/paginated variants lose to the
    complete page."""
    from .functions.text import ws_token_count
    from .operators.minhash_lsh import fuzzy_dedup_keep_best

    return fuzzy_dedup_keep_best(
        _docs(spark, sf_dir), "doc_id", ws_token_count("text")
    ).select(F.col("id").alias("doc_id"))


def q_lang_script_mismatch(spark, sf_dir):
    """CCNet-style declared-lang vs script sanity gate: flag docs whose
    declared language's script carries < 30% of the text (the synthetic
    zh docs are ASCII, so the flag is non-degenerate here)."""
    from .functions.encoding import with_lang_script_check

    return with_lang_script_check(_docs(spark, sf_dir)).select(
        "doc_id", "lang", "expected_script", "expected_ratio", "script_mismatch"
    )


def q_substring_dedup(spark, sf_dir):
    """ExactSubstr dedup at token granularity (Lee et al. 2022) over the
    documents table: tokens covered by non-first occurrences of
    corpus-duplicated 25-token windows removed, text rebuilt."""
    from .operators.span_dedup import substring_dedup

    return substring_dedup(_docs(spark, sf_dir), "doc_id").select(
        F.col("id").alias("doc_id"), "clean_text", "n_removed_tokens"
    )


def q_source_quality_report(spark, sf_dir):
    """Per-source quality monitoring: doc counts, keep rate and mean word
    count under the conjunctive rule profile."""
    from .operators.quality_filter import source_quality_report

    return source_quality_report(_docs(spark, sf_dir))


def q_encoding_noise(spark, sf_dir):
    """Mojibake/corruption signals with the deterministic noise probe
    appended to doc_id % 7 rows (the synthetic corpus is clean — see
    functions/encoding.NOISE_PROBE)."""
    from .functions.encoding import NOISE_PROBE, with_encoding_noise

    docs = _docs(spark, sf_dir)
    noisy = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(NOISE_PROBE))
        ).otherwise(F.col("text")),
    )
    return with_encoding_noise(noisy).select(
        "doc_id", "n_replacement", "n_ctrl", "n_mojibake", "noise_ratio"
    )


def q_vocab_coverage(spark, sf_dir):
    """Tokenizer-prep surface: top-100 corpus tokens with cumulative
    occurrence coverage (see operators/vocab.py)."""
    from .operators.vocab import vocab_coverage

    return vocab_coverage(_docs(spark, sf_dir))


def q_oov_rate(spark, sf_dir):
    """Occurrence-mass OOV rate of a top-100 vocabulary on this corpus."""
    from .operators.vocab import oov_rate

    return oov_rate(_docs(spark, sf_dir))


def q_incremental_fuzzy_keep(spark, sf_dir):
    """Cross-crawl incremental fuzzy dedup: docs with doc_id % 4 == 0 play
    the frozen already-deduplicated history; the rest are the incoming
    crawl. Returns the crawl's keep-list (band-key collision with history
    drops the doc; survivors cluster among themselves)."""
    from .operators.minhash_lsh import incremental_fuzzy_keep_ids

    docs = _docs(spark, sf_dir)
    history = docs.where(F.col("doc_id") % 4 == 0)
    new = docs.where(F.col("doc_id") % 4 != 0)
    return incremental_fuzzy_keep_ids(new, history, "doc_id").select(
        F.col("id").alias("doc_id")
    )


def q_incremental_exact_keep(spark, sf_dir):
    """Cross-crawl incremental exact dedup over the same % 4 split: new
    docs whose normalized-text fingerprint exists in history drop, the
    rest keep min id per fingerprint within the crawl."""
    from .operators.exact_dedup import incremental_exact_keep

    docs = _docs(spark, sf_dir)
    history = docs.where(F.col("doc_id") % 4 == 0)
    new = docs.where(F.col("doc_id") % 4 != 0)
    return incremental_exact_keep(new, history, "doc_id")


def q_fuzzy_dedup_prod_checked(spark, sf_dir):
    """The full production plan shape (117 perms, 9 bands, universal-hash
    permutations, star edges) with the md5 base hash so DuckDB can verify
    it end-to-end. Only the base string hash differs from fuzzy_dedup_prod."""
    return fuzzy_dedup_keep_ids(
        _docs(spark, sf_dir), "doc_id", cfg=PROD_MINHASH, base="md5",
    ).select(F.col("id").alias("doc_id"))


def q_jaccard_vs_query(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    n = ORACLE_MINHASH["shingle"]
    qrow = with_shingles(docs.where(F.col("doc_id") == 0), "doc_id", n=n).collect()
    qs = qrow[0]["_sh"] if qrow else []
    return jaccard_vs_query(docs, "doc_id", qs, n=n)


def q_rpv2_pre_banded_keep(spark, sf_dir):
    """Interop path: dedup over PRE-BANDED RPv2 signature parquet
    (sources/rpv2.py; reference schema src/minhashlsh_partial.py:148).
    The signature fixture is synthesized deterministically from doc_id —
    every doc_id%5==0 doc joins a 'dup' cluster keyed by doc_id%50 and
    shares only a PREFIX of its 9 bands (partial band agreement), the rest
    are singletons — so both engines build the identical band table."""
    from .sources.rpv2 import rpv2_keep_ids

    docs = _docs(spark, sf_dir)
    did = F.col("doc_id")
    key = F.when(
        did % 5 == 0, F.concat(F.lit("dup:"), (did % 50).cast("string"))
    ).otherwise(F.concat(F.lit("solo:"), did.cast("string")))

    def band(b: int):
        payload = F.concat(
            F.lit(f"{b}#"), key,
            F.when(
                F.lit(b) >= (did % 7) + 3,
                F.concat(F.lit(":"), did.cast("string")),
            ).otherwise(F.lit("")),
        )
        return F.encode(F.md5(F.encode(payload, "utf-8")), "utf-8")

    sigs = docs.select(
        F.lit("shard-0").alias("shard_id"),
        did.cast("string").alias("id"),
        did.alias("id_int"),
        F.array(*[band(b) for b in range(9)]).alias("signature"),
    )
    return rpv2_keep_ids(sigs).select(
        F.col("id_int").cast("long").alias("doc_id"), "id"
    )


def q_wet_ingest(spark, sf_dir):
    """Rawest ingest tier, end-to-end: the documents table is serialized
    into REAL gzip'd WARC/1.0 WET framing (synth_wet_bytes — warcinfo
    header + one Content-Length-delimited conversion record per doc),
    then ingested back through the production path (binaryFile source ->
    Arrow mapInPandas parse, sources/warc.read_wet). Output proves
    byte-identity per url (BASELINE.json's per-row invariant): md5 over
    the roundtripped text must equal the oracle's md5 over the source
    rows, and the WARC-Date instant must survive the tz-aware transfer.

    The fixture WRITE is test scaffolding, and even it is DISTRIBUTED:
    each hash partition serializes its own WET file through an Arrow
    mapInPandas task (no corpus-sized driver collect anywhere — the
    production analogue writes crawl shards to the object store off the
    manifest, one file per task; this builder assumes the single-host /
    shared-filesystem sandbox, like every other fixture generator). The
    fixture is content-deterministic per sf_dir, so it is built AT MOST
    ONCE per host (marker-gated, published by atomic directory rename —
    a concurrent session either wins the rename or reuses the winner's
    files; nothing is ever deleted under a reader): repeat invocations,
    including the bench harness's timed runs, measure ONLY the
    distributed parse."""
    import hashlib
    import os
    import shutil

    from .sources.warc import read_wet

    docs = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    fix_dir = os.path.join(
        "/tmp", f"wet_fixture_{hashlib.md5(sf_dir.encode()).hexdigest()[:10]}"
    )
    if not os.path.exists(os.path.join(fix_dir, "_SUCCESS")):
        tmp_dir = f"{fix_dir}.tmp.{os.getpid()}"
        shutil.rmtree(tmp_dir, ignore_errors=True)
        os.makedirs(tmp_dir, exist_ok=True)

        def _write_part(batches):
            import datetime as _dt

            import pandas as pd
            from pyspark import TaskContext

            from redpajama_v2_processing_spark.sources.warc import (
                synth_wet_bytes,
            )

            recs = []
            for pdf in batches:
                for did, text in zip(pdf["doc_id"], pdf["text"]):
                    did = int(did)
                    iso = _dt.datetime.fromtimestamp(
                        1_600_000_000 + did, _dt.timezone.utc
                    ).strftime("%Y-%m-%dT%H:%M:%SZ")
                    recs.append((f"https://example.org/doc/{did}", iso, text))
            if recs:
                pid = TaskContext.get().partitionId()
                with open(
                    os.path.join(tmp_dir, f"part-{pid:05d}.warc.wet.gz"), "wb"
                ) as f:
                    f.write(synth_wet_bytes(recs, compress=True))
            yield pd.DataFrame({"n": [len(recs)]})

        # hash partitioning by doc_id: deterministic file membership, so
        # a task retry rewrites the identical bytes to the identical name
        (
            docs.select("doc_id", "text")
            .repartition(8, "doc_id")
            .mapInPandas(_write_part, "n long")
            .agg(F.sum("n"))
            .collect()  # single-row materialization barrier
        )
        with open(os.path.join(tmp_dir, "_SUCCESS"), "w") as f:
            f.write("ok")
        try:
            os.rename(tmp_dir, fix_dir)
        except OSError:
            # another session published the identical fixture first
            shutil.rmtree(tmp_dir, ignore_errors=True)

    wet = read_wet(spark, os.path.join(fix_dir, "part-*.warc.wet.gz"))
    return wet.select(
        "url",
        F.col("warc_ts").cast("long").alias("ts_unix"),
        F.md5(F.encode(F.col("text"), "utf-8")).alias("text_md5"),
        F.length("text").cast("long").alias("n_chars"),
    )


def q_rpv2_exact_keep(spark, sf_dir):
    """P8 interop: filter documents against the reference's PUBLISHED
    exact-duplicates table, whose ids are malformed ('….json/N' where the
    document ids say '….json.gz/N' — reference fix_id,
    src/filter_exact_duplicates.py:69-79). Fixture: every doc gets a
    reference-format composite id (synthesize_rpv2_ids,
    src/add_document_ids.py:64) and every doc_id%7==0 doc appears in a
    duplicates frame under the MALFORMED spelling. fix_duplicate_ids
    repairs the spelling; the anti-join then drops exactly those docs —
    without the shim nothing would match and the 'keep' set would be the
    whole corpus (the silent-interop failure this guards against)."""
    from .sources.rpv2 import fix_duplicate_ids, synthesize_rpv2_ids

    docs = _docs(spark, sf_dir).select("doc_id")
    src = F.concat(
        (F.col("doc_id") % 10).cast("string"), F.lit("/en_head.json.gz")
    )
    ids = synthesize_rpv2_ids(docs, "2014-15", src, "doc_id")
    dups = docs.where(F.col("doc_id") % 7 == 0).select(
        F.concat(
            F.lit("2014-15/"),
            (F.col("doc_id") % 10).cast("string"),
            F.lit("/en_head.json/"),
            F.col("doc_id").cast("string"),
        ).alias("doc_id")
    )
    fixed = fix_duplicate_ids(dups).select(F.col("doc_id").alias("id"))
    return ids.join(fixed, "id", "left_anti").select("doc_id", "id")


def q_simhash(spark, sf_dir):
    return with_simhash(_docs(spark, sf_dir), "doc_id")


def q_simhash_near_pairs(spark, sf_dir):
    """DIAGNOSTICS-ONLY, uncapped on purpose: the exact all-pairs bucket
    self-join of the 16/4-bit test profile, quadratic per bucket. Dedup
    consumes simhash_dedup_keep; capped: simhash_capped_near_pairs."""
    return simhash_near_pairs(_docs(spark, sf_dir), "doc_id")


def q_simhash_prod_near_pairs(spark, sf_dir):
    """DIAGNOSTICS-ONLY pairs surface (bounded analysis, not a dedup
    input): production banding — 60-bit simhash, 15-bit bands (32768
    keys/band) + the 64-row hot-bucket cap. Even capped, the pairs join
    grows super-linearly (BENCH.md: 20.5x candidates at 10x docs —
    mid-width buckets below the cap keep growing), so a 100 TB dedup DAG
    must consume simhash_dedup_keep (star edges, <= n*bands by
    construction) instead."""
    return simhash_near_pairs(
        _docs(spark, sf_dir), "doc_id",
        bits=PROD_SIMHASH["bits"], band_bits=PROD_SIMHASH["band_bits"],
        max_hamming=PROD_SIMHASH["max_hamming"],
        max_bucket=PROD_SIMHASH["max_bucket"],
    )


def q_simhash_dedup_keep(spark, sf_dir):
    """Linear-candidate simhash dedup (star edges -> hamming verify -> CC
    keep): the production path whose candidate volume is <= n * n_bands
    regardless of bucket width (the pairs API is quadratic per bucket)."""
    from .operators.simhash_dedup import simhash_dedup_keep

    return simhash_dedup_keep(
        _docs(spark, sf_dir), "doc_id",
        bits=PROD_SIMHASH["bits"], band_bits=PROD_SIMHASH["band_bits"],
        max_hamming=PROD_SIMHASH["max_hamming"],
    ).select(F.col("id").alias("doc_id"))


def q_embedding_dedup_star_keep(spark, sf_dir):
    """Linear-candidate embedding dedup: star edges per hyperplane band
    bucket, cosine-verified, CC keep-list."""
    from .operators.ann import embedding_dedup_star_keep

    return embedding_dedup_star_keep(
        _augmented_embeddings(spark, sf_dir), EMB_NEAR_DUP_THRESHOLD,
        nbits=PROD_EMB_LSH["nbits"], band_bits=PROD_EMB_LSH["band_bits"],
    ).select(F.col("id").alias("vec_id"))


def q_simhash_capped_near_pairs(spark, sf_dir):
    """Hot-bucket cap under an adversarial boilerplate flood: 40 identical
    boilerplate docs (one per doc_id < 40, offset by 1e6) all hash into the
    same (band, key) buckets; max_bucket=8 caps each bucket at its 8
    smallest ids, so the flood contributes C(8,2) pairs instead of
    C(40,2)=780 — the approximation semantics, oracle-pinned."""
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    flood = docs.where(F.col("doc_id") < oracle.SIMHASH_FLOOD_DOCS).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.lit(oracle.SIMHASH_FLOOD_TEXT).alias("text"),
    )
    return simhash_near_pairs(
        docs.unionByName(flood), "doc_id", max_bucket=8
    )


def _query_vec(spark, sf_dir, vec_id=0):
    row = (
        _t(spark, sf_dir, "embeddings")
        .where(F.col("vec_id") == vec_id)
        .select("embedding")
        .collect()
    )
    return [float(x) for x in row[0]["embedding"]]


def q_ann_cosine_topk(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    return cosine_topk(emb, _query_vec(spark, sf_dir), k=ANN_TOPK)


def q_ann_ivf_topk(spark, sf_dir):
    """IVF-Flat scale path: nearest-centroid cells, probe 3, exact rerank."""
    emb = _t(spark, sf_dir, "embeddings")
    return ann_ivf_topk(emb, _query_vec(spark, sf_dir), n_probe=3)


EMB_NEAR_DUP_THRESHOLD = 0.95


def _augmented_embeddings(spark, sf_dir):
    """The random fixture has no organic near-dups (max pairwise cosine
    ~0.5), so add a perturbed copy of every 25th vector — identical float
    arithmetic to the oracle's aug CTE (first component * 1.02)."""
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    dup = emb.where(F.col("vec_id") % 25 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.concat(
            F.array(F.element_at("embedding", 1) * F.lit(1.02)),
            F.slice("embedding", 2, 63),
        ).alias("embedding"),
    )
    return emb.unionByName(dup)


def q_embedding_near_dup_pairs(spark, sf_dir):
    """Embedding-cosine near-dup pairs: hyperplane-LSH bucket self-join +
    rounded-cosine verify (never all-pairs)."""
    return embedding_near_dup_pairs(
        _augmented_embeddings(spark, sf_dir), EMB_NEAR_DUP_THRESHOLD
    )


def q_embedding_dedup_keep(spark, sf_dir):
    """Keep-list over the embedding near-dup graph (component min id)."""
    return embedding_dedup_keep(
        _augmented_embeddings(spark, sf_dir), EMB_NEAR_DUP_THRESHOLD
    ).select(F.col("id").alias("vec_id"))


def q_embedding_near_dup_prod_pairs(spark, sf_dir):
    """DIAGNOSTICS-ONLY pairs surface (bounded analysis, not a dedup
    input): banded profile (PROD_EMB_LSH: 64 planes, 4 bands of 16 bits),
    candidates = union over bands, deduped before the cosine verify.
    Candidate volume is bands*n^2/2^band_bits — quadratic over a constant
    (BENCH.md: 98.5x at 10x docs); the dedup path is
    embedding_dedup_prod_keep (star edges, linear)."""
    return embedding_near_dup_pairs(
        _augmented_embeddings(spark, sf_dir), EMB_NEAR_DUP_THRESHOLD,
        nbits=PROD_EMB_LSH["nbits"], band_bits=PROD_EMB_LSH["band_bits"],
        max_bucket=PROD_EMB_LSH["max_bucket"],
    )


def q_embedding_dedup_prod_keep(spark, sf_dir):
    """Keep-list over the banded production near-dup graph — routed
    through the STAR-EDGE formulation: candidates <= n * n_bands BY
    CONSTRUCTION. The pairs-join formulation this query previously used
    grows ~bands*n^2/2^band_bits even capped (BENCH.md measured 98.5x
    candidates at 10x docs — the cap never binds on dispersed buckets);
    the pairs API stays available for bounded analysis
    (embedding_near_dup_prod_pairs)."""
    from .operators.ann import embedding_dedup_star_keep

    return embedding_dedup_star_keep(
        _augmented_embeddings(spark, sf_dir), EMB_NEAR_DUP_THRESHOLD,
        nbits=PROD_EMB_LSH["nbits"], band_bits=PROD_EMB_LSH["band_bits"],
    ).select(F.col("id").alias("vec_id"))


def q_semdedup_keep(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023): k-means cells over the augmented
    embeddings, within-cell cosine duplicate groups, keep the member
    LEAST similar to its cluster centroid — the paper's keep rule. Whole
    pipeline (Lloyd chain + pair graph + keep) oracle-checked.

    k is CORPUS-DERIVED (derive_k_cells, cell width 1000 — the pair
    budget stays ~n*width/2 at any fixture scale): 8 cells at the
    500-2000-vector driver fixtures, 52 at the 50k-vector certification
    fixture. The oracle twin derives the identical k in SQL."""
    from .operators.semdedup import semdedup_keep

    return semdedup_keep(
        _augmented_embeddings(spark, sf_dir), EMB_NEAR_DUP_THRESHOLD,
        k_cells=None, iters=3, dim=64, target_cell_width=1000,
    ).select(F.col("id").alias("vec_id"))


def q_ngram_jaccard_pairs(spark, sf_dir):
    """Exact n-gram Jaccard near-dup pairs: rare-gram inverted-index
    candidates (df <= max_df), exact relational set intersection — the
    ground-truth tier MinHash-LSH approximates."""
    from .operators.jaccard_dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(_docs(spark, sf_dir), "doc_id")


def q_ngram_jaccard_dedup_keep(spark, sf_dir):
    """Keep-list over the exact-Jaccard near-dup graph (min id per
    component, unsignable docs kept)."""
    from .operators.jaccard_dedup import ngram_jaccard_dedup_keep

    return ngram_jaccard_dedup_keep(_docs(spark, sf_dir), "doc_id").select(
        F.col("id").alias("doc_id")
    )


def q_pq_codebooks(spark, sf_dir):
    """Product-quantization codebooks: per-subspace deterministic Lloyd
    training (4 subspaces x 16 codes, integer micro-unit L2 assignment,
    exact_mean4 updates) — oracle-checked end-to-end like kmeans_cells."""
    from .operators.pq import pq_codebooks

    return pq_codebooks(_t(spark, sf_dir, "embeddings")).select(
        F.col("sub").cast("long").alias("sub"),
        F.col("cid").cast("long").alias("cid"),
        F.posexplode("cv").alias("pos", "centroid"),
    ).select("sub", "cid", F.col("pos").cast("long").alias("pos"), "centroid")


def q_ann_pq_topk(spark, sf_dir):
    """PQ-ADC approximate top-k: the corpus scan reads only code columns;
    scores are exact integer micro-unit^2 sums (engine-identical)."""
    from .operators.pq import ann_pq_topk

    emb = _t(spark, sf_dir, "embeddings")
    return ann_pq_topk(emb, _query_vec(spark, sf_dir))


def q_ann_ivf_pq_topk(spark, sf_dir):
    """IVF-PQ (the full FAISS decomposition): trained coarse cells prune
    the scan to n_probe cells, ADC over PQ codes scores only those
    vectors — both compressions compose, both oracle-checked."""
    from .operators.pq import ann_ivf_pq_topk

    emb = _t(spark, sf_dir, "embeddings")
    return ann_ivf_pq_topk(emb, _query_vec(spark, sf_dir))


def q_ann_ivf_pq_residual_topk(spark, sf_dir):
    """IVF-PQ with RESIDUAL encoding (the faithful FAISS formulation):
    PQ codebooks train on and encode x - centroid(cell(x)); ADC adds the
    per-cell query-dot constant to the residual lookup sums."""
    from .operators.pq import ann_ivf_pq_residual_topk

    emb = _t(spark, sf_dir, "embeddings")
    return ann_ivf_pq_residual_topk(emb, _query_vec(spark, sf_dir))


def q_ann_ivf_trained_topk(spark, sf_dir):
    """IVF top-k over the k-means-trained quantizer (no label column)."""
    from .operators.ann import ann_ivf_trained_topk

    emb = _t(spark, sf_dir, "embeddings")
    return ann_ivf_trained_topk(emb, _query_vec(spark, sf_dir), n_probe=3)


def q_kmeans_cells(spark, sf_dir):
    """Trained IVF coarse quantizer: 3 deterministic Lloyd iterations,
    k=8, oracle-checked end-to-end (init/assign/update all portable)."""
    from .operators.ann import kmeans_cells

    return kmeans_cells(_t(spark, sf_dir, "embeddings"), k=8, iters=3)


def q_label_centroids(spark, sf_dir):
    return label_centroids(_t(spark, sf_dir, "embeddings")).select(
        "label", F.col("pos").cast("long").alias("pos"), "centroid"
    )


def q_events_hourly(spark, sf_dir):
    out = tumbling_counts(_t(spark, sf_dir, "events"))
    return out.select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type", "n_events", "avg_value",
    )


def q_events_sliding(spark, sf_dir):
    """Native sliding event-time windows (1h size, 30min slide)."""
    from .operators.sessionize import sliding_counts

    out = sliding_counts(_t(spark, sf_dir, "events"))
    return out.select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type", "n_events", "avg_value",
    )


def q_session_windows(spark, sf_dir):
    """Native F.session_window sessions (30 min gap), identified by their
    start timestamp; oracle = independent gaps-and-islands SQL."""
    from .operators.sessionize import session_window_counts

    return session_window_counts(_t(spark, sf_dir, "events")).select(
        "user_id",
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        "n_events",
    )


def q_events_sessions(spark, sf_dir):
    return sessionize(_t(spark, sf_dir, "events")).select(
        "user_id", F.col("n_sessions").cast("long").alias("n_sessions"), "n_events"
    )


def q_domain_cap(spark, sf_dir):
    """Per-domain document cap (crawl-bias control): keep the 15
    smallest doc_ids per source (cap binds at every fixture scale —
    sources carry >= 25 docs), after dropping blocklisted domains."""
    from .operators.sampling import domain_blocklist_filter, domain_cap

    docs = _docs(spark, sf_dir)
    block = spark.createDataFrame([("src3",), ("src7",)], "domain string")
    kept = domain_blocklist_filter(docs, block)
    return domain_cap(kept, "doc_id", cap=15).select("doc_id", "source")


def q_hash_sample(spark, sf_dir):
    return hash_sample(_docs(spark, sf_dir), "doc_id", 10).select("doc_id")


def q_lang_downsample(spark, sf_dir):
    """Reference per-language downsample ratios (~500M signatures/lang,
    src/downsample_parquet.py:16-20) as a deterministic hash-ratio filter."""
    from .operators.sampling import lang_ratio_downsample

    return lang_ratio_downsample(_docs(spark, sf_dir)).select("doc_id", "lang")


def q_salted_count(spark, sf_dir):
    return salted_count(_docs(spark, sf_dir), "source")


def q_top_sources(spark, sf_dir):
    return (
        _docs(spark, sf_dir)
        .groupBy("source")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("source").asc())
        .limit(10)
    )


def q_pricing_summary(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(28,6)")  # noqa: E731
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-01 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            # round the EXACT decimal sum, then cast — rounding the double
            # cast is engine-dependent at half-cent boundaries (see
            # functions/signals.ratio6)
            F.round(F.sum(dec("l_quantity")), 2).cast("double").alias("sum_qty"),
            F.round(F.sum(dec("l_extendedprice")), 2).cast("double").alias("sum_base"),
            F.round(
                F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(28,6)")),
                2,
            ).cast("double").alias("sum_disc"),
            F.count("*").alias("n_rows"),
        )
    )


def q_segment_revenue(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    return (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.round(F.sum(F.col("o_totalprice").cast("decimal(28,6)")), 2)
            .cast("double").alias("revenue"),
            F.count("*").alias("n_orders"),
        )
    )


def q_region_customers(spark, sf_dir):
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    return (
        customer.join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(F.count("*").alias("n_customers"))
    )


def _synthetic_urls(spark, sf_dir):
    """DF(doc_id, url): deterministic messy crawl URLs — six recrawl
    variants of host/path keyed on doc_id (case-mangled scheme+host,
    www prefix, default ports, userinfo, tracking params, unsorted
    params, fragments, trailing slash). doc_id // 7 groups share a
    path, so canonical collisions span variant classes. Identical
    construction in oracle._synthetic_url_sql."""
    docs = _docs(spark, sf_dir)
    grp = F.floor(F.col("doc_id") / 7).cast("long")
    # host is keyed on the path group (NOT the doc) so a group's 7 docs
    # are recrawls of the SAME resource and the dedup actually binds
    host = F.concat(F.lit("news-"), (grp % 5).cast("string"), F.lit(".example.com"))
    pth = F.concat(F.lit("/Articles/"), grp.cast("string"))
    v = F.col("doc_id") % 6
    url = (
        F.when(v == 0, F.concat(F.lit("http://"), host, pth))
        .when(v == 1, F.concat(F.lit("HTTP://WWW."), F.upper(host), F.lit(":80"), pth, F.lit("/")))
        .when(v == 2, F.concat(F.lit("http://"), host, pth, F.lit("?utm_source=feed&b=2&a=1")))
        .when(v == 3, F.concat(F.lit("http://crawler:pw@"), host, pth, F.lit("?a=1&b=2#frag")))
        .when(v == 4, F.concat(F.lit("https://"), host, F.lit(":443"), pth, F.lit("?fbclid=x1y&a=1&b=2")))
        .otherwise(F.concat(F.lit("http://"), host, pth, F.lit("?b=2&a=1&utm_campaign=z#top")))
    )
    return docs.select("doc_id", url.alias("url"))


def q_bloom_anti_join(spark, sf_dir):
    """Reference anti-join semantics through the EXPLICIT partitioned
    Bloom prefilter (bitmap built map-side-partial, broadcast to probe;
    only maybe-present rows reach the verification join). Result is
    identical to anti_join_duplicates — same oracle — only the plan
    differs."""
    from .operators.exact_dedup import bloom_anti_join_duplicates

    docs = _docs(spark, sf_dir)
    dups = docs.where(F.col("doc_id") % 7 == 0).select("doc_id")
    return bloom_anti_join_duplicates(docs, dups, "doc_id", "doc_id").select(
        "doc_id", "lang"
    )


def q_paragraph_dedup(spark, sf_dir):
    """Corpus-wide exact duplicated-LINE removal keeping the global first
    occurrence — span_dedup at n=1 (RefinedWeb-style paragraph dedup;
    the cross-document complement of within-doc dedup_lines). Page
    construction identical to q_span_dedup / its oracle."""
    from .operators.span_dedup import span_dedup

    return span_dedup(_span_pages(spark, sf_dir), "doc_id", n=1).select(
        F.col("id").alias("doc_id"), "clean_text", "n_removed_lines"
    )


def q_fineweb_filter(spark, sf_dir):
    """FineWeb custom filters (punct-line, short-line, duplicated-line
    char mass) over synthesized 6-line pages: 3 short banner lines + 3
    longer 10-token lines, with a terminal '.' appended to line i iff
    i < doc_id % 6 — so punct/short fractions vary across docs and every
    rule binds somewhere. Identical construction in the oracle."""
    from .functions.fineweb import fineweb_filter
    from .functions.text import tokens as _tokens

    docs = _docs(spark, sf_dir)
    t = _tokens(F.col("text"))
    j = lambda a: F.array_join(F.slice(t, a, 10), " ")  # noqa: E731
    banner = lambda k: F.concat(  # noqa: E731
        F.lit(f"shared banner {k} for "), F.col("lang")
    )
    raw = [banner("one"), banner("two"), banner("three"), j(1), j(11), j(21)]
    dot = [
        F.when(F.col("doc_id") % 6 > i, F.concat(l, F.lit("."))).otherwise(l)
        for i, l in enumerate(raw)
    ]
    shaped = docs.select("doc_id", F.concat_ws("\n", *dot).alias("text"))
    return fineweb_filter(shaped, "doc_id").select(
        F.col("id").alias("doc_id"), "punct_line_frac", "short_line_frac",
        "dup_line_char_frac", "keep",
    )


URL_BLOCK_PATTERNS = (r"news-3\.example\.com", r"/Articles/1[0-9]($|[?/])")


def q_url_blocklist(spark, sf_dir):
    """UT1-style URL-pattern blocklist over the synthetic recrawl URLs:
    one host pattern + one path-range pattern, folded into a single
    rlike pass (narrow filter, runs at the scan)."""
    from .functions.url import url_blocklist_filter

    return url_blocklist_filter(
        _synthetic_urls(spark, sf_dir), URL_BLOCK_PATTERNS
    ).select("doc_id", "url")


def q_quality_classifier_weights(spark, sf_dir):
    """Trained hashed-logistic-regression quality classifier (GPT-3/
    LLaMA-style learned filter), trained in-engine with exact integer
    micro-unit GD: the weight-vector artifact after 3 iterations.
    Label: lang == 'en' (the classifier learns langid-lite from hashed
    bag-of-words, so scores separate meaningfully on the fixture)."""
    from .operators.quality_classifier import weights_frame

    docs = _docs(spark, sf_dir)
    return weights_frame(docs, F.col("lang") == "en", "doc_id")


def q_quality_classifier_scores(spark, sf_dir):
    """Per-doc scores from the trained classifier: exact bigint margin,
    4-decimal sigmoid score, boolean keep prediction."""
    from .operators.quality_classifier import classifier_scores

    docs = _docs(spark, sf_dir)
    return classifier_scores(docs, F.col("lang") == "en", "doc_id").select(
        F.col("id").alias("doc_id"), "margin_micro", "score4", "pred"
    )


MIX_BUDGETS = {"src0": 300, "src1": 700, "src2": 3500, "src3": 1400}


def q_token_budget_mix(spark, sf_dir):
    """Pile/ROOTS-style source mixture to per-source token budgets:
    src0/src1 downsample (r<1), src2 oversamples ~2.5 epochs, src3 sits
    at the r~1 boundary, unlisted sources pass through at epoch 0."""
    from .operators.sampling import token_budget_mix

    return token_budget_mix(_docs(spark, sf_dir), MIX_BUDGETS).select(
        F.col("id").alias("doc_id"), "source", "n_tokens", "epoch"
    )


def q_temperature_mix(spark, sf_dir):
    """Temperature-flattened source mixture (p_s ∝ T_s^0.7, the
    mBERT/XLM-R multilingual sampling rule) with budgets derived
    in-engine from the corpus source totals."""
    from .operators.sampling import temperature_token_mix

    return temperature_token_mix(
        _docs(spark, sf_dir), alpha=0.7, total_budget=30_000
    ).select(F.col("id").alias("doc_id"), "source", "n_tokens", "epoch")


def q_url_canonicalize(spark, sf_dir):
    """CCNet/RefinedWeb-style URL canonicalization (functions/url.py
    contract) over synthetic messy recrawl URLs."""
    from .functions.url import canonicalize_url

    return _synthetic_urls(spark, sf_dir).select(
        "doc_id", "url", canonicalize_url(F.col("url")).alias("curl")
    )


def q_url_dedup_keep(spark, sf_dir):
    """URL-level exact dedup: one survivor (min doc_id) per canonical
    URL — the cheapest dedup tier, run before any content pass."""
    from .functions.url import url_dedup_keep

    return url_dedup_keep(_synthetic_urls(spark, sf_dir), "url", "doc_id").select(
        F.col("id").alias("doc_id")
    )


def q_fix_id(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    synth = F.concat(
        F.lit("crawl-2014/"), (F.col("doc_id") % 10).cast("string"),
        F.lit("/en_head.json"),
        F.when(F.col("doc_id") % 3 == 0, "").otherwise(".gz"),
        F.lit("/"), F.col("doc_id").cast("string"),
    )
    return docs.select(
        "doc_id",
        F.regexp_replace(synth, r"\.json/", ".json.gz/").alias("fixed_id"),
    )


def q_row_number_ids(spark, sf_dir):
    from pyspark.sql import Window

    w = Window.partitionBy("source").orderBy("doc_id")
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.col("source"), F.lit("/"), (F.row_number().over(w) - 1).cast("string")
        ).alias("synth_id"),
    )


def q_set_ops(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    en = docs.where(F.col("lang") == "en").select("doc_id")
    five = docs.where(F.col("doc_id") % 5 == 0).select("doc_id")
    seven = docs.where(F.col("doc_id") % 7 == 0).select("doc_id")
    even = docs.where(F.col("doc_id") % 2 == 0).select("doc_id")
    return en.union(five).distinct().exceptAll(seven).distinct().intersect(even)


def q_rollup_counts(spark, sf_dir):
    return (
        _docs(spark, sf_dir)
        .rollup("lang", "source")
        # explicit long cast: DuckDB widens sum(BIGINT) to HUGEINT, Spark
        # keeps long — pin both sides to 64-bit (oracle casts ::BIGINT)
        .agg(F.count("*").alias("n"), F.sum("n_chars").cast("long").alias("chars"))
        .select(
            F.coalesce("lang", F.lit("ALL")).alias("lang"),
            F.coalesce("source", F.lit("ALL")).alias("source"),
            "n", "chars",
        )
    )


def q_cube_counts(spark, sf_dir):
    """CUBE over (lang, source): every grouping-set combination (the
    rollup query covers the hierarchical subset)."""
    return (
        _docs(spark, sf_dir)
        .cube("lang", "source")
        .agg(F.count("*").alias("n"), F.sum("n_chars").cast("long").alias("chars"))
        .select(
            F.coalesce("lang", F.lit("ALL")).alias("lang"),
            F.coalesce("source", F.lit("ALL")).alias("source"),
            "n", "chars",
        )
    )


def q_top_docs_per_lang(spark, sf_dir):
    """Per-group top-k: the 3 largest docs (by n_chars, ties by doc_id)
    per language — dense window rank, the canonical grouped-top-k shape."""
    from pyspark.sql import Window

    w = Window.partitionBy("lang").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    return (
        _docs(spark, sf_dir)
        .select("lang", "doc_id", "n_chars", F.row_number().over(w).alias("rk"))
        .where(F.col("rk") <= 3)
        .select("lang", "doc_id", "n_chars", F.col("rk").cast("long").alias("rk"))
    )


# --- rows-only (no SQL-expressible oracle) ---------------------------------


def q_multimodal_meta(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    kind = (
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "video")
        .otherwise("audio")
    )
    payload = make_fake_payload(
        kind, F.col("doc_id") % 640, F.col("doc_id") % 480,
        F.substring("text", 1, 20),
    )
    with_bin = docs.select("doc_id", payload.alias("payload"))
    return decode_media_meta(with_bin, "doc_id", "payload")


def q_image_meta(spark, sf_dir):
    """REAL image decode: deterministic PNG/GIF/JPEG files are generated
    per doc_id, then their dimensions are PARSED back from the raw bytes
    (PNG IHDR / GIF screen descriptor / JPEG SOFn walk). The oracle is the
    generator formula — parse(generate(id)) must reproduce it exactly."""
    from .operators.multimodal import decode_image_meta, with_synth_images

    imgs = with_synth_images(_docs(spark, sf_dir).select("doc_id"), "doc_id")
    return decode_image_meta(imgs, "id", "payload").select(
        "id", "kind", "width", "height", "ok"
    )


def q_image_pixels(spark, sf_dir):
    """REAL deep image decode: the gray8 PNG pixel plane is reconstructed
    from the generated bytes (chunk walk + CRC check + zlib inflate +
    per-row filter reconstruction — pure stdlib, no PIL) and reduced to
    pixel stats. The oracle recomputes the stats from the generator's
    pixel formula p(x,y) = (x*7+y) % 256 — decode(encode(id)) must
    reproduce it exactly, pixel-for-pixel."""
    from .operators.multimodal import decode_image_pixels, with_synth_images

    ids = _docs(spark, sf_dir).select("doc_id").where(F.col("doc_id") % 3 == 0)
    return decode_image_pixels(with_synth_images(ids, "doc_id"), "id", "payload")


def q_audio_pcm_stats(spark, sf_dir):
    """REAL deep audio decode: mono PCM16 WAV files are generated per
    doc_id, the RIFF chunks are walked and the sample stream unpacked
    from the raw bytes, then reduced to integer stats the oracle
    recomputes from the generator's sample formula."""
    from .operators.multimodal import decode_audio_pcm_stats, with_synth_audio

    ids = _docs(spark, sf_dir).select("doc_id").where(F.col("doc_id") % 3 == 2)
    return decode_audio_pcm_stats(with_synth_audio(ids, "doc_id"), "id", "payload")


def q_video_frames(spark, sf_dir):
    """REAL deep video decode: uncompressed AVI containers are generated
    per doc_id, the RIFF/AVI structure is walked from the raw bytes
    (hdrl/avih header + movi frame chunks) and every 5th frame's payload
    reduced to a byte sum the oracle recomputes from the generator's
    pixel formula."""
    from .operators.multimodal import decode_video_frames, with_synth_videos

    ids = _docs(spark, sf_dir).select("doc_id").where(F.col("doc_id") % 3 == 1)
    return decode_video_frames(with_synth_videos(ids, "doc_id"), "id", "payload")


def q_ann_lsh_topk(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    return ann_lsh_topk(emb, _query_vec(spark, sf_dir), dim=64, nbits=8)


def q_ann_multiprobe_topk(spark, sf_dir):
    """Multiprobe LSH: query bucket + nbits Hamming-1 buckets, exact
    rerank — recovers single-bucket recall loss at (nbits+1)x candidates."""
    from .operators.ann import ann_multiprobe_lsh_topk

    emb = _t(spark, sf_dir, "embeddings")
    return ann_multiprobe_lsh_topk(emb, _query_vec(spark, sf_dir), dim=64, nbits=8)


def q_fuzzy_dedup_prod(spark, sf_dir):
    return fuzzy_dedup_keep_ids(
        _docs(spark, sf_dir), "doc_id", cfg=PROD_MINHASH, base="xxhash"
    ).select(F.col("id").alias("doc_id"))


# ---------------------------------------------------------------------------
# Registry
# ---------------------------------------------------------------------------

# Ordering contract: the driver certifies the FIRST 50 entries per round.
# Round-6 rotation (VERDICT r5 item 5): head = the five entries that have
# never had a driver row (incl. the two brand-new r6 queries), then every
# query whose implementation or output changed this round, then the
# stalest survivors (whole r3 cohort), then r4-certified siblings of the
# changed modules to fill to exactly 50. Everything else parks at the
# tail — all remain runnable and locally checkable via
# tools/check_queries.py (the full local drive re-verifies the registry
# every round; see BENCH.md).
QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    # --- never driver-certified (r6 window priority 1) -------------------
    "rpv2_exact_keep": q_rpv2_exact_keep,
    "wet_ingest": q_wet_ingest,
    "lang_script_mismatch": q_lang_script_mismatch,
    "jaccard_sim_histogram": q_jaccard_sim_histogram,
    "source_overlap": q_source_overlap,
    "bm25_topk": q_bm25_topk,
    # --- implementation changed: checkpoints owned by their maker, on one
    # vector-quantizer kernel (one nearest-cell argmin, cell probe,
    # mean-vector update and Lloyd loop, which frees only the iterations it
    # made; semdedup_keep only its staged centroids. The IVF top-k pair
    # probes the assignment before fetching vectors. fuzzy_dedup_keep_longest
    # joins its scored docs straight to the CC labels; it and semdedup_keep
    # are CC callers, each of which now frees only CC's own checkpoints)
    "ann_ivf_topk": q_ann_ivf_topk,
    "ann_ivf_trained_topk": q_ann_ivf_trained_topk,
    "ann_lsh_topk": q_ann_lsh_topk,
    "ann_multiprobe_topk": q_ann_multiprobe_topk,
    "kmeans_cells": q_kmeans_cells,
    "label_centroids": q_label_centroids,
    "pq_codebooks": q_pq_codebooks,
    "ann_pq_topk": q_ann_pq_topk,
    "ann_ivf_pq_topk": q_ann_ivf_pq_topk,
    "ann_ivf_pq_residual_topk": q_ann_ivf_pq_residual_topk,
    "ann_cosine_topk": q_ann_cosine_topk,
    "fuzzy_dedup_keep_longest": q_fuzzy_dedup_keep_longest,
    "semdedup_keep": q_semdedup_keep,
    # --- implementation changed: CC driver hand-off, one star-edge builder,
    # one drop-list keep rule ---------------------------------------------
    # (every connected_components caller: after each star round whose edge
    # count is at or under the driver threshold, CC collects that round and
    # union-finds it on the driver, freeing only its own checkpoints, as
    # dedup_keep_min_id and incremental_fuzzy_keep do. Every MinHash/RPv2
    # edge build is candidate_edges (fuzzy_dedup_salted now runs
    # fuzzy_dedup_keep), and every min-id keep-list is keep_min_id's
    # anti-join against the CC drop-list. The fuzzy_dedup_* family and incremental_fuzzy_keep /
    # dedup_cluster_sizes also take the vectorized MinHash signature;
    # fuzzy_dedup_prod is oracle-checked with the xxhash64 SQL twin)
    "incremental_fuzzy_keep": q_incremental_fuzzy_keep,
    "dedup_cluster_sizes": q_dedup_cluster_sizes,
    "fuzzy_dedup_prod_checked": q_fuzzy_dedup_prod_checked,
    "fuzzy_dedup_prod": q_fuzzy_dedup_prod,
    "fuzzy_dedup_salted": q_fuzzy_dedup_keep,
    "fuzzy_dedup_distributed": q_fuzzy_dedup_distributed,
    "fuzzy_dedup_keep": q_fuzzy_dedup_keep,
    "ngram_jaccard_dedup_keep": q_ngram_jaccard_dedup_keep,
    "embedding_dedup_star_keep": q_embedding_dedup_star_keep,
    "embedding_dedup_keep": q_embedding_dedup_keep,
    "embedding_dedup_prod_keep": q_embedding_dedup_prod_keep,
    "rpv2_pre_banded_keep": q_rpv2_pre_banded_keep,
    "simhash_dedup_keep": q_simhash_dedup_keep,
    "winnow_dedup_keep": q_winnow_dedup_keep,
    # --- implementation changed: vectorized MinHash signature -----------
    # (every minhash_bands consumer: hashes per shingle in the JVM, the
    # k-permutation minima in one mapInArrow, no groupBy(id) shuffle; its
    # keep-lists are in the CC block above)
    "lsh_buckets": q_lsh_buckets,
    "minhash_bands": q_minhash_bands,
    "lsh_candidate_edges": q_candidate_edges,
    # --- implementation changed: one LSH dedup kernel (the other touched
    # pairs surfaces, lsh_candidate_edges and keep-lists are in the window)
    "simhash_prod_near_pairs": q_simhash_prod_near_pairs,
    "simhash_capped_near_pairs": q_simhash_capped_near_pairs,
    "embedding_near_dup_prod_pairs": q_embedding_near_dup_prod_pairs,
    # --- implementation changed: one label staging -----------------------
    # (signals and langid share one token staging and count each lexicon
    # once; ccnet_pipeline below and the thresholds' map-literal predicate
    # ride along)
    "quality_signals": q_quality_signals,
    "langid": q_langid,
    "langid_confusion": q_langid_confusion,
    "quality_filter": q_quality_filter,
    "source_quality_report": q_source_quality_report,
    # --- implementation changed: thresholds as literals -----------------
    # (the two filters collect their bounds in one aggregation and filter
    # on literals; quality_thresholds shares their SQL-string aggregate)
    "profiled_quantile_filter": q_profiled_quantile_filter,
    "quantile_filter": q_quantile_filter,
    "quality_thresholds": q_quality_thresholds,
    # --- implementation changed: one percentile buffer per signal --------
    # (perplexity_buckets and its ccnet_pipeline caller; the thresholds
    # above, anti_join_duplicates parked below)
    "perplexity_buckets": q_perplexity_buckets,
    "ccnet_pipeline": q_ccnet_pipeline,
    # --- stalest driver rows (last certified r3) --------------------------
    "embedding_near_dup_pairs": q_embedding_near_dup_pairs,
    # ==================== driver window ends here (50) ====================
    # parked: certified in earlier rounds, implementations untouched; all
    # remain runnable and locally checkable via tools/check_queries.py
    # (the round-6 re-certify block and most of the stalest rows, moved
    # out of the window to make room for the vector-quantizer block above;
    # then the round-6 chunking family)
    "doc_embeddings": q_doc_embeddings,
    "scrub_cc_luhn": q_scrub_cc_luhn,
    "token_budget_mix": q_token_budget_mix,
    "token_offsets": q_token_offsets,
    "semi_join_keeplist": q_semi_join,
    "anti_join_duplicates": q_anti_join,
    "ngram_jaccard": q_jaccard_vs_query,
    "fingerprint": q_fingerprint,
    "unigram_entropy": q_unigram_entropy,
    "simhash": q_simhash,
    "simhash_near_pairs": q_simhash_near_pairs,
    "pack_blocks": q_pack_blocks,
    "block_doc_histogram": q_block_doc_histogram,
    "shard_manifest": q_shard_manifest,
    "chunk_documents": q_chunk_documents,
    "temperature_mix": q_temperature_mix,
    "lang_downsample": q_lang_downsample,
    "audio_pcm_stats": q_audio_pcm_stats,
    "scrub_pii": q_scrub,
    "exact_dedup_keep": q_exact_dedup_keep,
    "hash_sample": q_hash_sample,
    "events_hourly": q_events_hourly,
    "events_sessions": q_events_sessions,
    "salted_count": q_salted_count,
    "top_sources": q_top_sources,
    "incremental_exact_keep": q_incremental_exact_keep,
    "vocab_coverage": q_vocab_coverage,
    "oov_rate": q_oov_rate,
    "encoding_noise": q_encoding_noise,
    "substring_dedup": q_substring_dedup,
    "script_ratios": q_script_ratios,
    "span_dedup": q_span_dedup,
    "url_canonicalize": q_url_canonicalize,
    "url_dedup_keep": q_url_dedup_keep,
    "quality_classifier_weights": q_quality_classifier_weights,
    "quality_classifier_scores": q_quality_classifier_scores,
    "paragraph_dedup": q_paragraph_dedup,
    "bloom_anti_join": q_bloom_anti_join,
    "url_blocklist": q_url_blocklist,
    "fineweb_filter": q_fineweb_filter,
    "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
    "gopher_filter": q_gopher_filter,
    "contamination_report": q_contamination_report,
    "token_counts": q_token_counts,
    "duplicate_line_signals": q_duplicate_line_signals,
    "session_windows": q_session_windows,
    "events_sliding": q_events_sliding,
    "perplexity": q_perplexity,
    "perplexity_ngram": q_perplexity_ngram,
    "domain_cap": q_domain_cap,
    "decontaminate_flags": q_decontaminate_flags,
    "dup_ngram_fraction": q_dup_ngram_fraction,
    "dsir_weights": q_dsir_weights,
    "dsir_topk": q_dsir_topk,
    "gopher_signals": q_gopher_signals,
    "c4_filter": q_c4_filter,
    "dedup_lines": q_dedup_lines,
    "winnow_fingerprints": q_winnow_fingerprints,
    "winnow_near_dup_pairs": q_winnow_near_dup_pairs,
    "image_pixels": q_image_pixels,
    "video_frames": q_video_frames,
    "image_meta": q_image_meta,
    "multimodal_meta": q_multimodal_meta,
    "pricing_summary": q_pricing_summary,
    "segment_revenue": q_segment_revenue,
    "region_customers": q_region_customers,
    "fix_id": q_fix_id,
    "row_number_ids": q_row_number_ids,
    "set_ops": q_set_ops,
    "rollup_counts": q_rollup_counts,
    "cube_counts": q_cube_counts,
    "top_docs_per_lang": q_top_docs_per_lang,
}

ORACLES: dict[str, str] = {
    "quality_signals": oracle.q_quality_signals(),
    "unigram_entropy": oracle.q_unigram_entropy(),
    "perplexity": oracle.q_perplexity(),
    "perplexity_ngram": oracle.q_perplexity_ngram(),
    "perplexity_buckets": oracle.q_perplexity_buckets(),
    "decontaminate_flags": oracle.q_decontaminate_flags(),
    "dup_ngram_fraction": oracle.q_dup_ngram_fraction(),
    "dedup_lines": oracle.q_dedup_lines(),
    "incremental_fuzzy_keep": oracle.q_incremental_fuzzy_keep(),
    "incremental_exact_keep": oracle.q_incremental_exact_keep(),
    "vocab_coverage": oracle.q_vocab_coverage(),
    "oov_rate": oracle.q_oov_rate(),
    "source_quality_report": oracle.q_source_quality_report(),
    "encoding_noise": oracle.q_encoding_noise(),
    "substring_dedup": oracle.q_substring_dedup(),
    "script_ratios": oracle.q_script_ratios(),
    "block_doc_histogram": oracle.q_block_doc_histogram(),
    "doc_embeddings": oracle.q_doc_embeddings(),
    "shard_manifest": oracle.q_shard_manifest(),
    "lang_script_mismatch": oracle.q_lang_script_mismatch(),
    "jaccard_sim_histogram": oracle.q_jaccard_sim_histogram(),
    "source_overlap": oracle.q_source_overlap(),
    "span_dedup": oracle.q_span_dedup(),
    "url_canonicalize": oracle.q_url_canonicalize(),
    "url_dedup_keep": oracle.q_url_dedup_keep(),
    "token_budget_mix": oracle.q_token_budget_mix(),
    "quality_classifier_weights": oracle.q_quality_classifier_weights(),
    "quality_classifier_scores": oracle.q_quality_classifier_scores(),
    "paragraph_dedup": oracle.q_paragraph_dedup(),
    # bloom path is plan-different but result-identical to the anti join
    "bloom_anti_join": oracle.q_anti_join(),
    "url_blocklist": oracle.q_url_blocklist(),
    "fineweb_filter": oracle.q_fineweb_filter(),
    # width 1000 matches q_semdedup_keep's explicit Spark-side argument;
    # BOTH twins default to the paper's 10_000 (defaults kept aligned)
    "semdedup_keep": oracle.q_semdedup_keep(target_cell_width=1000),
    "ngram_jaccard_pairs": oracle.q_ngram_jaccard_pairs(),
    "ngram_jaccard_dedup_keep": oracle.q_ngram_jaccard_dedup_keep(),
    "gopher_filter": oracle.q_gopher_filter(),
    "ccnet_pipeline": oracle.q_ccnet_pipeline(),
    "contamination_report": oracle.q_contamination_report(),
    "dedup_cluster_sizes": oracle.q_dedup_cluster_sizes(),
    "chunk_documents": oracle.q_chunk_documents(),
    "token_offsets": oracle.q_token_offsets(),
    "pack_blocks": oracle.q_pack_blocks(),
    "scrub_cc_luhn": oracle.q_scrub_cc_luhn(),
    "temperature_mix": oracle.q_temperature_mix(),
    "gopher_signals": oracle.q_gopher_signals(),
    "c4_filter": oracle.q_c4_filter(),
    "domain_cap": oracle.q_domain_cap(),
    "dsir_weights": oracle.q_dsir_weights(),
    "dsir_topk": oracle.q_dsir_topk(),
    "langid": oracle.q_langid(),
    "langid_confusion": oracle.q_langid_confusion(),
    "token_counts": oracle.q_token_counts(),
    "duplicate_line_signals": oracle.q_duplicate_line_signals(),
    "fingerprint": oracle.q_fingerprint(),
    "winnow_fingerprints": oracle.q_winnow_fingerprints(),
    "winnow_near_dup_pairs": oracle.q_winnow_near_dup_pairs(),
    "winnow_dedup_keep": oracle.q_winnow_dedup_keep(),
    "scrub_pii": oracle.q_scrub(),
    "quality_filter": oracle.q_quality_filter(),
    "quality_thresholds": oracle.q_quality_thresholds(),
    "quantile_filter": oracle.q_quantile_filter(),
    "profiled_quantile_filter": oracle.q_profiled_quantile_filter(),
    "exact_dedup_keep": oracle.q_exact_dedup_keep(),
    "anti_join_duplicates": oracle.q_anti_join(),
    "semi_join_keeplist": oracle.q_semi_join(),
    "minhash_bands": oracle.q_minhash_bands(),
    "lsh_buckets": oracle.q_lsh_buckets(),
    "lsh_candidate_edges": oracle.q_candidate_edges(),
    "fuzzy_dedup_keep": oracle.q_fuzzy_dedup_keep(),
    "fuzzy_dedup_keep_longest": oracle.q_fuzzy_dedup_keep_longest(),
    "bm25_topk": oracle.q_bm25_topk(query=BM25_QUERY),
    # fuzzy_dedup_keep under its old name; distributed CC: same keep-set
    "fuzzy_dedup_salted": oracle.q_fuzzy_dedup_keep(),
    "fuzzy_dedup_distributed": oracle.q_fuzzy_dedup_keep(),
    "fuzzy_dedup_prod_checked": oracle.q_fuzzy_dedup_prod(base="md5"),
    "fuzzy_dedup_prod": oracle.q_fuzzy_dedup_prod(),
    "ngram_jaccard": oracle.q_jaccard_vs_query(),
    "simhash": oracle.q_simhash(),
    "simhash_near_pairs": oracle.q_simhash_near_pairs(),
    "simhash_prod_near_pairs": oracle.q_simhash_near_pairs(
        max_hamming=PROD_SIMHASH["max_hamming"],
        band_bits=PROD_SIMHASH["band_bits"],
        bits=PROD_SIMHASH["bits"],
        max_bucket=PROD_SIMHASH["max_bucket"],
    ),
    "simhash_capped_near_pairs": oracle.q_simhash_capped_near_pairs(),
    "simhash_dedup_keep": oracle.q_simhash_dedup_keep(
        max_hamming=PROD_SIMHASH["max_hamming"],
        band_bits=PROD_SIMHASH["band_bits"], bits=PROD_SIMHASH["bits"],
    ),
    "embedding_dedup_star_keep": oracle.q_embedding_dedup_star_keep(
        EMB_NEAR_DUP_THRESHOLD,
        nbits=PROD_EMB_LSH["nbits"], band_bits=PROD_EMB_LSH["band_bits"],
    ),
    "ann_cosine_topk": oracle.q_ann_cosine_topk(),
    "ann_ivf_topk": oracle.q_ann_ivf_topk(),
    "embedding_near_dup_pairs": oracle.q_embedding_near_dup_pairs(EMB_NEAR_DUP_THRESHOLD),
    "embedding_dedup_keep": oracle.q_embedding_dedup_keep(EMB_NEAR_DUP_THRESHOLD),
    "embedding_near_dup_prod_pairs": oracle.q_embedding_near_dup_prod_pairs(
        EMB_NEAR_DUP_THRESHOLD,
        nbits=PROD_EMB_LSH["nbits"], band_bits=PROD_EMB_LSH["band_bits"],
        max_bucket=PROD_EMB_LSH["max_bucket"],
    ),
    # prod keep routes through star edges (linear candidates) — same
    # oracle construction as embedding_dedup_star_keep
    "embedding_dedup_prod_keep": oracle.q_embedding_dedup_star_keep(
        EMB_NEAR_DUP_THRESHOLD,
        nbits=PROD_EMB_LSH["nbits"], band_bits=PROD_EMB_LSH["band_bits"],
    ),
    "label_centroids": oracle.q_label_centroids(),
    "kmeans_cells": oracle.q_kmeans_cells(k=8, iters=3),
    "ann_ivf_trained_topk": oracle.q_ann_ivf_trained_topk(),
    "events_hourly": oracle.q_events_hourly(),
    "events_sliding": oracle.q_events_sliding(),
    "events_sessions": oracle.q_events_sessions(),
    "session_windows": oracle.q_session_window_counts(),
    "hash_sample": oracle.q_hash_sample(),
    "lang_downsample": oracle.q_lang_downsample(),
    "rpv2_pre_banded_keep": oracle.q_rpv2_pre_banded_keep(),
    "rpv2_exact_keep": oracle.q_rpv2_exact_keep(),
    "wet_ingest": oracle.q_wet_ingest(),
    "salted_count": oracle.q_salted_count(),
    "top_sources": oracle.q_top_sources(),
    "pricing_summary": oracle.q_pricing_summary(),
    "segment_revenue": oracle.q_segment_revenue(),
    "region_customers": oracle.q_region_customers(),
    "fix_id": oracle.q_fix_id(),
    "row_number_ids": oracle.q_row_number_ids(),
    "set_ops": oracle.q_set_ops(),
    "rollup_counts": oracle.q_rollup_counts(),
    "cube_counts": oracle.q_cube_counts(),
    "top_docs_per_lang": oracle.q_top_docs_per_lang(),
    "multimodal_meta": oracle.q_multimodal_meta(),
    "image_meta": oracle.q_image_meta(),
    "image_pixels": oracle.q_image_pixels(),
    "audio_pcm_stats": oracle.q_audio_pcm_stats(),
    "video_frames": oracle.q_video_frames(),
    "ann_lsh_topk": oracle.q_ann_lsh_topk(),
    "ann_multiprobe_topk": oracle.q_ann_multiprobe_lsh_topk(),
    "pq_codebooks": oracle.q_pq_codebooks(),
    "ann_pq_topk": oracle.q_ann_pq_topk(),
    "ann_ivf_pq_topk": oracle.q_ann_ivf_pq_topk(),
    "ann_ivf_pq_residual_topk": oracle.q_ann_ivf_pq_residual_topk(),
}
