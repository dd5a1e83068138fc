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

A vectorized Arrow/pandas-UDF variant (`langid_pandas_udf`) exists for
plugging in a real model (fastText, CLD3) at production time — same
signature, no per-row Python either way.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from ..config import LANG_MARKERS, LANGID_DEFAULT
from .signals import STAGED as _TOKEN_STAGED, joined_tokens, lexicon_hits, ratio6, stage_tokens
from .text import tokens

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


def langid_struct(text: Column) -> Column:
    """struct<lang:string, score:double> — single-expression form (inlines
    the token staging; prefer with_langid for whole-table scans)."""
    tok = tokens(text)
    label, score = _label_score(text, tok, lang_hits(joined_tokens(tok)))
    return F.struct(label.alias("lang"), score.alias("score"))


# per-process model cache: the loader runs lazily INSIDE the UDF on each
# executor (model files ship via spark-submit --files / SparkFiles), and
# the loaded model is reused across Arrow batches
_MODEL_CACHE: dict = {}


def langid_model_udf(model_path: str | None = None, loader=None):
    """Langid slot switched by ``model_path`` (the production swap seam).

    * ``model_path`` set (a fastText model file, shipped to executors via
      spark-submit --files / SparkFiles): Arrow-batched inference over it —
      ``loader(path)`` must return a fastText-shaped object whose
      ``predict(list[str])`` yields ``(labels, probs)`` with labels like
      ``__label__en``; the default loader is ``fasttext.load_model``. The
      model loads lazily per executor process and is cached across batches.
    * ``model_path`` None (the sandbox default): the deterministic lexicon
      stand-in (``langid_pandas_udf``).

    Both branches return a ``string`` pandas UDF — schema-identical, so a
    pipeline swaps models by ``model_path`` alone.
    """
    if model_path is None:
        return langid_pandas_udf

    if loader is None:
        def loader(p):  # pragma: no cover - needs the fasttext wheel
            import fasttext

            return fasttext.load_model(p)

    @F.pandas_udf(StringType())
    def real_langid(text: pd.Series) -> pd.Series:
        key = ("langid", model_path)
        if key not in _MODEL_CACHE:
            _MODEL_CACHE[key] = loader(model_path)
        model = _MODEL_CACHE[key]
        cleaned = [t.replace("\n", " ") for t in text.fillna("")]
        labels, _probs = model.predict(cleaned)
        return pd.Series(
            [
                (ls[0].replace("__label__", "") if ls else LANGID_DEFAULT)
                for ls in labels
            ],
            index=text.index,
        )

    return real_langid


@F.pandas_udf(StringType())
def langid_pandas_udf(text: pd.Series) -> pd.Series:
    """Arrow-batched UDF slot for a real langid model.

    Deterministic stand-in: the SAME double-space-join + alternation-count
    formulation as the codegen path (signals.joined_tokens/lexicon_hits),
    fully vectorized — pandas .str ops plus one precompiled alternation
    regex count per language; no per-row Python lambda anywhere. Swap the
    body for fastText/CLD3 inference in production (model file broadcast
    via SparkFiles).
    """
    import re

    toks = text.fillna("").str.split()
    jtok = "  " + toks.str.join("  ").str.lower() + "  "
    ntok = toks.str.len().replace(0, 1)
    best_lang = pd.Series(LANGID_DEFAULT, index=text.index)
    best_score = pd.Series(0.0, index=text.index)
    for lg in LANGS:
        pattern = re.compile(" (" + "|".join(LANG_MARKERS[lg]) + ") ")
        score = jtok.str.count(pattern) / ntok
        better = score > best_score
        best_lang = best_lang.where(~better, lg)
        best_score = best_score.where(~better, score)
    return best_lang
