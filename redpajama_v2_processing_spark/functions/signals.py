"""RedPajama-v2-style heuristic quality signals, all as native Spark
Column expressions (JVM-side — no Python).

Signal inventory mirrors the reference's 15 precomputed signals
(/root/reference/README.md:78), which that pipeline only *consumes*
(src/filter_low_quality.py:53-109); this engine *computes* them.

Performance note: the token/line/n-gram arrays and the joined token
string are staged once, as intermediate projection columns
(``stage_tokens``), instead of being inlined into every signal
expression. Inlining is quadratic: ``element_at(split(text), i)`` inside
a ``transform`` lambda re-runs the split per element. Catalyst's
CollapseProject keeps the staging projection separate because the array
expressions are non-cheap and multiply referenced. The label stage
(``plans.pipeline.label_documents``) and ``functions.langid`` read the
same staging, so a labelled document is tokenized and joined once.

Division contract (shared with the DuckDB oracle): every emitted ratio
is ``floor((num/den)*10^d + 0.5)/10^d`` over the IEEE double quotient
(``ratio6`` here, ``oracle.ratio6`` there) — the identical op sequence
in both engines, hence bit-identical. Engine-NATIVE round() is
forbidden on compared values: Spark round() (BigDecimal HALF_UP over
the double's binary expansion) and DuckDB round() (scaled-multiply)
disagree at half-way boundaries, which produced a real
``char_repetition_5gram`` mismatch at 50k-doc scale. Denominator 0
yields 0.0.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..config import FLAGGED_WORDS, SHORT_LINE_CHARS, STOPWORDS
from .text import lines, tokens, word_ngrams, char_ngrams
from .vectors import round_half_up


def ratio6(num: Column, den: Column, digits: int = 6) -> Column:
    """round(num/den, digits), deterministic across engines (see module
    docstring): vectors.round_half_up over the den==0-guarded quotient,
    composed from the one shared floor-idiom helper per engine.
    ``num`` is referenced ONCE — an earlier exact-integer-micro-unit
    formulation referenced its (expensive regexp/HOF) numerator twice
    and cost the label stage ~10% (BENCH.md round 6). Requires den >= 0;
    den == 0 yields 0.0."""
    q = F.when(den == 0, F.lit(0.0)).otherwise(
        num.cast("double") / den.cast("double")
    )
    return round_half_up(q, digits)


def mean_word_length(tok: Column) -> Column:
    total = F.aggregate(tok, F.lit(0).cast("bigint"), lambda a, t: a + F.length(t))
    return ratio6(total, F.size(tok))


def joined_tokens(tok: Column) -> Column:
    """Lowercased '  '-joined token string for codegen lexicon counting.

    Each token gets its OWN flanking spaces (double-space join + pads), so
    a single-space-delimited alternation pattern counts every token hit
    without the non-overlapping-match undercount on consecutive hits.
    ~100x cheaper than an interpreted filter(array_contains) lambda per
    token, with identical counts."""
    return F.lower(F.concat(F.lit("  "), F.concat_ws("  ", tok), F.lit("  ")))


def lexicon_hits(jtok: Column, lexicon: tuple[str, ...]) -> Column:
    pattern = " (" + "|".join(lexicon) + ") "
    return F.regexp_count(jtok, F.lit(pattern))


def repetition_ratio(grams: Column) -> Column:
    """(total - distinct)/total n-grams, i.e. 1 - distinct/total (0.0
    when empty via ratio6's den==0 path). Pass a STAGED gram column —
    the expression references it several times."""
    return ratio6(
        F.size(grams) - F.size(F.array_distinct(grams)), F.size(grams)
    )


def duplicate_line_signals(
    df: DataFrame, id_col: str, text_col: str = "text"
) -> DataFrame:
    """DF(id, dup_line_fraction, dup_line_char_fraction): the Gopher-style
    line-repetition signals (fraction of non-empty lines that repeat an
    earlier identical line, and the character-mass version) — per-group
    aggregation over exploded lines, map-side combinable, one shuffle on
    the doc id. Empty docs score 0.0. Contract shared with the oracle:
    lines = split(text, '\\n'), a line counts iff it is non-empty raw.
    """
    ln = df.select(
        F.col(id_col).alias("id"), F.explode(lines(F.col(text_col))).alias("_l")
    ).where(F.col("_l") != "")
    grouped = ln.groupBy("id", "_l").agg(
        F.count("*").alias("_c"), F.length("_l").alias("_len")
    )
    agg = grouped.groupBy("id").agg(
        (F.sum("_c") - F.count("*")).alias("_dup"),
        F.sum("_c").alias("_tot"),
        F.sum(F.col("_len") * (F.col("_c") - 1)).alias("_dchar"),
        F.sum(F.col("_len") * F.col("_c")).alias("_tchar"),
    )
    out = agg.select(
        "id",
        ratio6(F.col("_dup"), F.col("_tot")).alias("dup_line_fraction"),
        ratio6(F.col("_dchar"), F.col("_tchar")).alias(
            "dup_line_char_fraction"
        ),
    )
    ids = df.select(F.col(id_col).alias("id"))
    return ids.join(out, "id", "left").select(
        "id",
        F.coalesce("dup_line_fraction", F.lit(0.0)).alias("dup_line_fraction"),
        F.coalesce("dup_line_char_fraction", F.lit(0.0)).alias(
            "dup_line_char_fraction"
        ),
    )


def dedup_lines(df: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """DF(id, clean_text): each document's repeated lines REMOVED (first
    occurrence kept, original order preserved) — the Gopher-style
    repetition-removal transform complementing duplicate_line_signals'
    measurement.

    Relational formulation: posexplode lines, per-(id, line) min
    position, re-sort, rejoin — one shuffle on the doc id. The obvious
    array-expression alternative (filter each line against its prefix)
    is an O(n_lines^2) interpreted scan per row; this stays linear and
    codegen. NULL text yields '' (same as an empty doc)."""
    ln = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(lines(F.col(text_col))).alias("pos", "_l"),
    )
    firsts = ln.groupBy("id", "_l").agg(F.min("pos").alias("_p"))
    rebuilt = firsts.groupBy("id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_p", "_l"))),
                lambda s: s["_l"],
            ),
            "\n",
        ).alias("clean_text")
    )
    ids = df.select(F.col(id_col).alias("id"))
    return ids.join(rebuilt, "id", "left").select(
        "id", F.coalesce("clean_text", F.lit("")).alias("clean_text")
    )


def gopher_signals(
    df: DataFrame, id_col: str, text_col: str = "text"
) -> DataFrame:
    """DF(id, symbol_word_ratio, bullet_line_fraction,
    ellipsis_line_fraction, alpha_word_fraction): the residual Gopher
    (Rae et al. 2021) repetition/shape heuristics not already in
    with_signals. All codegen expressions over staged token/line arrays —
    no shuffle, no Python.

    * symbol_word_ratio: ('#' occurrences + '...'/'…' occurrences) / words
    * bullet_line_fraction: lines starting with a bullet mark (-, *, •)
    * ellipsis_line_fraction: lines ending with '...' or '…'
    * alpha_word_fraction: words containing >= 1 ASCII letter
    """
    staged = _gopher_staged(df, id_col, text_col)
    shape = _gopher_shape_cols()
    return staged.select("id", *[c.alias(n) for n, c in shape.items()])


def _gopher_staged(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    text = F.col(text_col)
    return df.select(
        F.col(id_col).alias("id"), text.alias("_t"),
        tokens(text).alias("_tok"), lines(text).alias("_lines"),
    )


def _gopher_shape_cols() -> dict[str, Column]:
    """The four Gopher shape ratios over a ``_gopher_staged`` frame
    (columns _t/_tok/_lines) — shared by gopher_signals and
    gopher_filter so both surfaces use identical expressions."""
    tok, ls = F.col("_tok"), F.col("_lines")
    n_sym = (
        F.length("_t") - F.length(F.regexp_replace("_t", r"#", ""))
        + F.regexp_count("_t", F.lit(r"(\.\.\.|…)"))
    )
    bullets = F.size(F.filter(ls, lambda l: l.rlike(r"^\s*([-*•])")))
    ellipsis = F.size(F.filter(ls, lambda l: l.rlike(r"(\.\.\.|…)\s*$")))
    alpha = F.size(F.filter(tok, lambda w: w.rlike(r"[A-Za-z]")))
    return {
        "symbol_word_ratio": ratio6(n_sym, F.size(tok)),
        "bullet_line_fraction": ratio6(bullets, F.size(ls)),
        "ellipsis_line_fraction": ratio6(ellipsis, F.size(ls)),
        "alpha_word_fraction": ratio6(alpha, F.size(tok)),
    }


#: Gopher's stop-word presence set (Rae et al. 2021 §A.1.1: a page must
#: contain >= 2 of these to survive)
GOPHER_STOPS: tuple[str, ...] = (
    "the", "be", "to", "of", "and", "that", "have", "with",
)


def gopher_filter(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mwl: float = 3.0,
    max_mwl: float = 10.0,
    max_symbol_ratio: float = 0.1,
    max_bullet: float = 0.9,
    max_ellipsis: float = 0.3,
    min_alpha: float = 0.8,
    min_stop_hits: int = 2,
    max_dup_line: float = 0.3,
    max_dup_line_char: float = 0.2,
) -> DataFrame:
    """DF(id, keep): the Gopher document-deletion rule (Rae et al. 2021
    §A.1.1) composed end-to-end — word-count and mean-word-length bands,
    symbol/word ratio, bullet- and ellipsis-line fractions, alpha-word
    fraction, >= 2 Gopher stop words, and the duplicate-line fraction
    caps (line-count and char-mass) from the paper's repetition table.

    Plan shape: one narrow codegen projection for every per-row rule
    (shared expressions with gopher_signals) + ONE line-explode
    aggregation for the duplicate-line pair (duplicate_line_signals),
    joined back on id. No Python, no window; all ratios rounded at 6
    before comparison so the cut is engine-portable (oracle-checked as
    q_gopher_filter).
    """
    staged = _gopher_staged(df, id_col, text_col)
    shape = _gopher_shape_cols()
    tok = F.col("_tok")
    nw = F.size(tok)
    mwl = mean_word_length(tok)
    stops = lexicon_hits(joined_tokens(tok), GOPHER_STOPS)
    per_row = staged.select(
        "id",
        nw.alias("_nw"), mwl.alias("_mwl"), stops.alias("_stops"),
        *[c.alias(f"_{n}") for n, c in shape.items()],
    )
    dup = duplicate_line_signals(df, id_col, text_col)
    keep = (
        (F.col("_nw") >= min_words) & (F.col("_nw") <= max_words)
        & (F.col("_mwl") >= min_mwl) & (F.col("_mwl") <= max_mwl)
        & (F.col("_symbol_word_ratio") <= max_symbol_ratio)
        & (F.col("_bullet_line_fraction") <= max_bullet)
        & (F.col("_ellipsis_line_fraction") <= max_ellipsis)
        & (F.col("_alpha_word_fraction") >= min_alpha)
        & (F.col("_stops") >= min_stop_hits)
        & (F.col("dup_line_fraction") <= max_dup_line)
        & (F.col("dup_line_char_fraction") <= max_dup_line_char)
    )
    return per_row.join(dup, "id").select("id", keep.alias("keep"))


# ---------------------------------------------------------------------------
# Wide signal frame
# ---------------------------------------------------------------------------

#: the columns ``stage_tokens`` adds; each label-stage builder drops them once
STAGED = ("_tok", "_lines", "_g5", "_g10", "_wg2", "_jtok")


def stage_tokens(df: DataFrame, text_col: str = "text") -> DataFrame:
    """The label stage's one token staging: ``df`` plus the ``STAGED``
    columns (token and line arrays, then the n-gram arrays and the joined
    token string over them). Signals and langid both read it, so each
    document is split and joined once; Catalyst prunes whatever a consumer
    leaves unread."""
    text = F.col(text_col)
    staged = df.withColumns({"_tok": tokens(text), "_lines": lines(text)})
    # n-gram arrays staged too: repetition_ratio references its gram array
    # three times, and these arrays are the most expensive to build
    return staged.withColumns(
        {
            "_g5": char_ngrams(text, 5),
            "_g10": char_ngrams(text, 10),
            "_wg2": word_ngrams(F.col("_tok"), 2),
            "_jtok": joined_tokens(F.col("_tok")),
        }
    )


def signal_cols(text_col: str = "text") -> dict[str, Column]:
    """The 13 heuristic signal columns over a ``stage_tokens`` frame.
    ``special_char_ratio`` counts characters that are not alphanumeric or
    whitespace."""
    text, tok, ls, jtok = (F.col(c) for c in (text_col, "_tok", "_lines", "_jtok"))
    n_tok, n_ls = F.size(tok), F.size(ls)
    short = F.size(F.filter(ls, lambda l: F.length(l) < SHORT_LINE_CHARS))
    punct = F.size(F.filter(ls, lambda l: l.rlike(r"[.!?]\s*$")))
    special = F.length(F.regexp_replace(text, r"[A-Za-z0-9\s]", ""))
    return {
        "number_of_words": n_tok.cast("bigint"),
        "number_of_lines": n_ls.cast("bigint"),
        "number_of_characters": F.length(text).cast("bigint"),
        "mean_word_length": mean_word_length(tok),
        "words_per_line_mean": ratio6(n_tok, n_ls),
        "short_line_ratio": ratio6(short, n_ls),
        "lines_end_in_punctuation": ratio6(punct, n_ls),
        "special_char_ratio": ratio6(special, F.length(text)),
        "stop_word_fraction": ratio6(lexicon_hits(jtok, STOPWORDS), n_tok),
        "flagged_word_fraction": ratio6(lexicon_hits(jtok, FLAGGED_WORDS), n_tok),
        "char_repetition_5gram": repetition_ratio(F.col("_g5")),
        "char_repetition_10gram": repetition_ratio(F.col("_g10")),
        "word_repetition_2gram": repetition_ratio(F.col("_wg2")),
    }


def with_signals(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append the heuristic signal columns to ``df``.

    Narrow projections, no shuffle: the ``stage_tokens`` staging, then
    every signal over the staged arrays. ``unigram_entropy`` and
    ``perplexity`` need corpus/grouping context and live in their own
    modules (operators/entropy.py, functions/perplexity.py).
    """
    return stage_tokens(df, text_col).withColumns(signal_cols(text_col)).drop(*STAGED)
