"""Perplexity scoring (KenLM-style n-gram LM, re-expressed distributively).

The reference consumes a precomputed ``perplexity`` signal
(/root/reference/README.md:78). Here the LM itself is built *inside* Spark:

* ``unigram``: corpus token frequencies via one hash aggregation; scoring is
  an explode -> join(vocab) -> re-aggregate. Fully native, SQL-expressible
  (oracle-checked).
* ``bigram``: interpolated (Jelinek-Mercer) word-bigram LM — the
  KenLM-shaped higher-order signal.

Determinism contract: per-doc log-prob sums are accumulated in integer
micro-units (``round(ln p * 1e6)`` as bigint — the DSIR pattern), so the
score is independent of partitioning / summation order and engine-identical
(double addition is not associative; the 4th decimal of a rounded double
mean was observed to flip across engines at sf0.1).

Vocabulary bound (the 100 TB contract): open-vocabulary web text has
billions of distinct tokens (URLs, typos) — an unconditional vocab
broadcast OOMs. ``vocab_min_count > 1`` frequency-floors the vocabulary and
folds every rarer token into a single ``<unk>`` type carrying their summed
count (KenLM's OOV semantics): the floored vocab has at most
``total_tokens / vocab_min_count`` types (Zipf-free counting bound), so the
broadcast is provably bounded and is only *forced* on that path. With the
default ``vocab_min_count=1`` (the exact, oracle-checked profile) the vocab
join is left to AQE — no forced broadcast of an unbounded table.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .text import tokens
from .vectors import round_half_up

#: the single type every below-floor token folds into (never a real token:
#: the tokenizer emits no NUL bytes)
UNK = "\x00<unk>"


def _exp_neg_micro_mean(logp_micro: Column) -> Column:
    """exp(-mean(logp)) where logp arrives in integer micro-units: the sum
    is an exact bigint (order-independent), divided once."""
    return F.exp(
        -(F.sum(logp_micro).cast("double") / F.lit(1e6))
        / F.count("*").cast("double")
    )


def _micro(logp: Column) -> Column:
    return F.round(logp * F.lit(1e6)).cast("bigint")


def unigram_model(
    docs: DataFrame, text_col: str = "text", vocab_min_count: int = 1
) -> DataFrame:
    """DF(token, logp): corpus unigram log-probabilities (natural log).

    With ``vocab_min_count > 1`` tokens rarer than the floor collapse into
    the single ``UNK`` row (their counts summed), bounding the vocabulary
    at ``total/floor`` types; total mass is conserved so probabilities
    still sum to 1.
    """
    tok = docs.select(F.explode(tokens(F.col(text_col))).alias("token"))
    counts = tok.groupBy("token").agg(F.count("*").alias("c"))
    if vocab_min_count > 1:
        counts = (
            counts.select(
                F.when(F.col("c") >= vocab_min_count, F.col("token"))
                .otherwise(F.lit(UNK))
                .alias("token"),
                "c",
            )
            .groupBy("token")
            .agg(F.sum("c").alias("c"))
        )
    total = counts.agg(F.sum("c").alias("t"))
    return counts.crossJoin(F.broadcast(total)).select(
        "token", F.log(F.col("c").cast("double") / F.col("t").cast("double")).alias("logp")
    )


def with_unigram_perplexity(
    docs: DataFrame,
    id_col: str,
    text_col: str = "text",
    round_to: int = 4,
    vocab_min_count: int = 1,
) -> DataFrame:
    """Append ``perplexity`` = exp(-mean token logp) per document.

    Plan shape: explode -> vocab join -> hash re-aggregate on the doc id.
    The corpus never shuffles except for the per-doc re-aggregation, which
    is partial-agg (map-side combine) friendly. With ``vocab_min_count > 1``
    the floored vocab is broadcast (bounded at total/floor rows) and OOV
    tokens take the ``UNK`` log-probability; with the default floor of 1
    every corpus token is in-vocab and the join strategy is AQE's choice.
    """
    model = unigram_model(docs, text_col, vocab_min_count)
    tok = docs.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("token"))
    if vocab_min_count > 1:
        unk = model.where(F.col("token") == UNK).select(
            F.col("logp").alias("_unk_logp")
        )
        scored = (
            tok.join(F.broadcast(model), "token", "left")
            .crossJoin(F.broadcast(unk))
            .select(
                id_col,
                F.coalesce("logp", F.col("_unk_logp")).alias("logp"),
            )
        )
    else:
        scored = tok.join(model, "token")
    per_doc = scored.groupBy(id_col).agg(
        _exp_neg_micro_mean(_micro(F.col("logp"))).alias("_ppl")
    )
    return docs.join(per_doc, id_col, "left").withColumn(
        "perplexity",
        round_half_up(F.coalesce(F.col("_ppl"), F.lit(0.0)), round_to),
    ).drop("_ppl")


def with_bigram_perplexity(
    docs: DataFrame,
    id_col: str,
    text_col: str = "text",
    lam: float = 0.75,
    round_to: int = 4,
    materialize: bool = True,
    vocab_min_count: int = 1,
) -> DataFrame:
    """Append ``perplexity_bigram``: interpolated word-bigram LM perplexity
    — the KenLM-shaped higher-order signal (the reference's perplexity is a
    KenLM n-gram LM, /root/reference/README.md:78); the unigram scorer
    above is the order-1 fallback.

    Model (trained on the scored corpus itself, like unigram_model):
        p(w2|w1) = lam * c(w1 w2)/c(w1) + (1-lam) * c(w2)/T
    i.e. bigram MLE interpolated with the unigram distribution — Jelinek-
    Mercer smoothing, the standard backoff family KenLM interpolates with.
    Doc score = exp(-mean ln p) over the doc's len-1 bigram positions,
    accumulated in integer micro-units (order-independent; see module
    docstring); docs with < 2 tokens score 0.0.

    Plan shape (all JVM-native, zero Python):
    * bigrams per doc via an array transform over the token array (no
      window, no per-doc shuffle: sequence + transform + explode);
    * two grouped counts (unigram, bigram) with map-side partial agg;
    * with ``vocab_min_count > 1`` both token positions remap through the
      FLOORED vocab (<= total/floor rows — the only table ever forced to
      broadcast) to ``UNK``, so unigram and bigram tables are bounded;
      with the default floor the vocab joins are AQE-chosen, never forced;
    * the bigram join keys on (w1, w2) — content-keyed, AQE handles
      residual skew (hot stopword-stopword bigrams are bounded by language
      statistics);
    * one per-doc re-aggregation.

    ``materialize`` (default True) checkpoints the exploded bigram frame
    once: it feeds both the count-training pass and the scoring join, and
    Catalyst does not share the subplan — without it the tokenize+explode
    runs twice per consumer (6 corpus scans measured in the full plan).
    """
    t = tokens(F.col(text_col))
    base = docs.select(F.col(id_col), t.alias("_t")).where(F.size("_t") >= 2)
    bg = base.select(
        id_col,
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("_t") - 2),
                lambda i: F.struct(
                    F.element_at("_t", i + 1).alias("w1"),
                    F.element_at("_t", i + 2).alias("w2"),
                ),
            )
        ).alias("_b"),
    ).select(id_col, F.col("_b.w1").alias("w1"), F.col("_b.w2").alias("w2"))

    tok = docs.select(F.explode(t).alias("w"))
    uni = tok.groupBy("w").agg(F.count("*").alias("c1"))
    if vocab_min_count > 1:
        # fold rare types into UNK (mass-conserving), then remap the bigram
        # stream through the bounded floored vocab
        uni = (
            uni.select(
                F.when(F.col("c1") >= vocab_min_count, F.col("w"))
                .otherwise(F.lit(UNK))
                .alias("w"),
                "c1",
            )
            .groupBy("w")
            .agg(F.sum("c1").alias("c1"))
        )
        # bounded table (<= total/floor rows) consumed by 3 joins below —
        # checkpoint so the corpus-wide count agg runs once
        uni = uni.localCheckpoint(eager=True)
        vocab = uni.where(F.col("w") != UNK).select("w")
        v1 = F.broadcast(vocab.select(F.col("w").alias("w1"), F.lit(1).alias("_iv1")))
        v2 = F.broadcast(vocab.select(F.col("w").alias("w2"), F.lit(1).alias("_iv2")))
        bg = (
            bg.join(v1, "w1", "left")
            .join(v2, "w2", "left")
            .select(
                id_col,
                F.when(F.col("_iv1").isNotNull(), F.col("w1"))
                .otherwise(F.lit(UNK))
                .alias("w1"),
                F.when(F.col("_iv2").isNotNull(), F.col("w2"))
                .otherwise(F.lit(UNK))
                .alias("w2"),
            )
        )
    if materialize:
        bg = bg.localCheckpoint(eager=True)

    total = uni.agg(F.sum("c1").alias("t"))
    bi = bg.groupBy("w1", "w2").agg(F.count("*").alias("c2"))

    u1 = uni.select(F.col("w").alias("w1"), F.col("c1").alias("_c1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("c1").alias("_cu"))
    if vocab_min_count > 1:
        u1, u2 = F.broadcast(u1), F.broadcast(u2)
    p = (
        F.lit(lam) * F.col("c2").cast("double") / F.col("_c1").cast("double")
        + (1 - lam) * F.col("_cu").cast("double") / F.col("t").cast("double")
    )
    per_doc = (
        bg.join(bi, ["w1", "w2"])
        .join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(total))
        .groupBy(id_col)
        .agg(_exp_neg_micro_mean(_micro(F.log(p))).alias("_ppl"))
    )
    return docs.join(per_doc, id_col, "left").withColumn(
        "perplexity_bigram",
        round_half_up(F.coalesce(F.col("_ppl"), F.lit(0.0)), round_to),
    ).drop("_ppl")


def perplexity_buckets(
    docs: DataFrame,
    id_col: str,
    text_col: str = "text",
    lang_col: str = "lang",
    lam: float = 0.75,
    round_to: int = 4,
    exact: bool = True,
    accuracy: int = 10000,
    vocab_min_count: int = 1,
) -> DataFrame:
    """DF(id, lang, ppl_bucket): CCNet-style head/middle/tail partition —
    per-language terciles of the interpolated bigram LM perplexity, lower
    perplexity (closer to the LM) = 'head'. RedPajama-v2's source corpus
    is sharded exactly this way ({lang}_head/{lang}_middle/{lang}_tail
    paths — the files the reference pipeline consumes,
    /root/reference/README.md:24-46).

    Plan: the bigram scorer's plan, then ONE groupBy(lang) percentile
    aggregation (tiny result — one row per language — broadcast back) and a
    CASE label; the corpus side never shuffles for the labeling join. Both
    terciles come from one array-valued percentile aggregate: Spark keeps
    one value buffer per aggregate expression, so two scalar calls would
    buffer and shuffle every perplexity twice.

    ``exact`` (mirrors operators/thresholds.py): True = SQL ``percentile``
    (linear interpolation, DuckDB ``quantile_cont``-identical — the
    oracle-checked profile; buffers each group's values, so one language =
    one reducer's memory). **Production at 100 TB must pass exact=False**:
    ``percentile_approx`` is a single-pass bounded-memory sketch
    (partial-agg mergeable, never buffers a group); on groups smaller than
    ``accuracy`` it degenerates to the exact nearest-rank answer. Docs with
    < 2 tokens score 0.0 and land in head by construction; filter upstream
    if undesired.
    """
    p = 1.0 / 3.0
    # checkpoint: `scored` feeds both the tercile aggregation and the
    # labeling join; without it the whole LM scoring plan runs twice
    scored = with_bigram_perplexity(
        docs, id_col, text_col, lam, round_to, vocab_min_count=vocab_min_count
    ).select(id_col, lang_col, "perplexity_bigram").localCheckpoint(eager=True)
    ppl = F.col("perplexity_bigram")
    if exact:
        q = F.percentile(ppl, [p, 2 * p])
    else:
        q = F.percentile_approx(ppl, [p, 2 * p], accuracy)
    th = scored.groupBy(lang_col).agg(
        round_half_up(q[0], 6).alias("_p33"),
        round_half_up(q[1], 6).alias("_p67"),
    )
    bucket = (
        F.when(ppl <= F.col("_p33"), "head")
        .when(ppl <= F.col("_p67"), "middle")
        .otherwise("tail")
    )
    return scored.join(F.broadcast(th), lang_col).select(
        id_col, lang_col, bucket.alias("ppl_bucket")
    )
