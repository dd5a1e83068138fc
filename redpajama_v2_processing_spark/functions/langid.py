"""Deterministic lexicon-based language identification.

The reference consumes a precomputed fastText ``language_identification``
confidence signal (/root/reference/README.md:78); here we compute a
deterministic fastText-style linear lexicon classifier natively: per
language, score = fraction of tokens in that language's marker lexicon;
label = argmax (ties broken by language code order); CJK-heavy text short-
circuits to 'zh'. Pure integer counting + one IEEE division — exactly
reproducible in the DuckDB oracle.

The hit counts are staged once, as one array over the label stage's shared
token staging (``signals.stage_tokens``), and the label is read at its
first maximum: Spark shares no subexpression across CASE branches, so a
per-language ``when`` ladder re-ran each lexicon regexp in every branch.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..config import LANG_MARKERS, LANGID_DEFAULT
from .signals import STAGED as _TOKEN_STAGED, lexicon_hits, ratio6, stage_tokens

#: the languages, in the order ``lang_hits`` counts them
LANGS: tuple[str, ...] = tuple(sorted(LANG_MARKERS))
#: the columns ``stage_with_hits`` adds
STAGED = (*_TOKEN_STAGED, "_hits")


def _n_cjk(text: Column) -> Column:
    return F.length(F.regexp_replace(text, r"[^一-鿿]", ""))


def cjk_ratio(text: Column) -> Column:
    """Fraction of CJK codepoints (unicode block heuristic) — raw double
    (used only for the >0.2 branch decision; emitted scores go through
    the exact-rounding ratio6 contract)."""
    return F.when(F.length(text) == 0, F.lit(0.0)).otherwise(
        _n_cjk(text).cast("double") / F.length(text).cast("double")
    )


def lang_hits(jtok: Column) -> Column:
    """array<int>: each language's marker-lexicon hits in the joined-token
    string (see signals.joined_tokens), in ``LANGS`` order."""
    return F.array(*[lexicon_hits(jtok, LANG_MARKERS[lg]) for lg in LANGS])


def _label_score(text: Column, tok: Column, hits: Column) -> tuple[Column, Column]:
    """(label, score) from the tokens and a ``lang_hits`` array. The label
    is the language at the first maximum's position, so ties break to the
    first language in sorted order; no hit at all gives LANGID_DEFAULT."""
    n = F.size(tok)
    best = F.array_max(hits)
    label = F.when(best == 0, F.lit(LANGID_DEFAULT)).otherwise(F.element_at(
        F.array(*[F.lit(lg) for lg in LANGS]), F.array_position(hits, best).cast("int")
    ))
    score = F.when((n == 0) | (best == 0), F.lit(0.0)).otherwise(ratio6(best, n))
    is_cjk = cjk_ratio(text) > 0.2
    label = F.when(is_cjk, F.lit("zh")).otherwise(label)
    score = F.when(is_cjk, ratio6(_n_cjk(text), F.length(text))).otherwise(score)
    return label, score


def stage_with_hits(df: DataFrame, text_col: str = "text") -> DataFrame:
    """``signals.stage_tokens`` plus ``_hits``, the ``lang_hits`` array, so
    each lexicon is counted once however often label and score read it."""
    return stage_tokens(df, text_col).withColumn("_hits", lang_hits(F.col("_jtok")))


def langid_cols(text_col: str = "text") -> tuple[Column, Column]:
    """(label, score) over a ``stage_with_hits`` frame."""
    return _label_score(F.col(text_col), F.col("_tok"), F.col("_hits"))


def with_langid(df: DataFrame, text_col: str = "text",
                label_col: str = "langid", score_col: str = "langid_score") -> DataFrame:
    """Append langid label + score columns over the shared token staging
    (its unread columns are pruned)."""
    label, score = langid_cols(text_col)
    staged = stage_with_hits(df, text_col)
    return staged.withColumns({label_col: label, score_col: score}).drop(*STAGED)
