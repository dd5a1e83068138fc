"""Encoding-noise (mojibake) signals — the webtext corruption filter.

Web crawls carry systematic encoding damage: UTF-8 bytes decoded as
Latin-1/cp1252 ("Ã©" for "é", "â€™" for a right quote, "Â " before
NBSP), U+FFFD replacement characters from lossy transcodes, and stray
C0 control bytes. An ftfy-style *repair* needs per-codepoint logic; the
*filter* tier's signals — artifact counts a noise budget can drop
documents on — are pure native regexp arithmetic and belong in the
signal pass.

All three counters are single regexp scans (codegen, no Python); the
ratio divides once by the code-point length, so the rounded signal is
engine- and partition-order-independent.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .signals import ratio6

NOISE_ROUND = 6

# classic UTF-8-as-Latin-1 digraphs (no regex metachars — the literal
# alternation is portable across Java regex and RE2)
MOJIBAKE_MARKS: tuple[str, ...] = (
    "Ã©", "Ã¨", "Ã¡", "Ã¤", "Ã¶", "Ã¼", "Ã±", "Ã³",
    "â€™", "â€œ", "â€“", "â€”", "Â«", "Â»",
)
MOJIBAKE_RE = "|".join(MOJIBAKE_MARKS)
REPLACEMENT_RE = "�"
# C0 controls except \t \n \r
CTRL_RE = r"[\x00-\x08\x0B\x0C\x0E-\x1F]"

# deterministic corruption probe the oracle query appends to doc_id % 7
# rows (the synthetic corpus is clean, so the twins would otherwise
# compare all-zero counters): 1 replacement char, 1 C0 control, 4
# mojibake digraphs
NOISE_PROBE = " perÃ©metro â€œokâ€“ Â«x \x01�"


def _count(col: Column, pattern: str) -> Column:
    return F.coalesce(F.regexp_count(col, F.lit(pattern)), F.lit(0)).cast("long")


def with_encoding_noise(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Append n_replacement, n_ctrl, n_mojibake and noise_ratio (artifact
    count over code-point length, rounded to 6 decimals). Null text
    yields zero counts and ratio 0."""
    c = F.col(text_col)
    out = (
        docs.withColumn("n_replacement", _count(c, REPLACEMENT_RE))
        .withColumn("n_ctrl", _count(c, CTRL_RE))
        .withColumn("n_mojibake", _count(c, MOJIBAKE_RE))
    )
    denom = F.greatest(F.coalesce(F.length(c), F.lit(0)), F.lit(1))
    total = F.col("n_replacement") + F.col("n_ctrl") + F.col("n_mojibake")
    return out.withColumn(
        "noise_ratio", ratio6(total, denom, NOISE_ROUND)
    )


# ---------------------------------------------------------------------------
# Unicode script composition
# ---------------------------------------------------------------------------
#
# Script ratios are the standard cheap language-ID input feature (CLD3's
# first stage) and a webtext sanity filter (a "German" page that is 40%
# CJK is mislabeled or spam). Ranges are explicit code-point classes —
# portable between Java regex and RE2, unlike named script properties
# (\p{IsHan} vs \p{Han}).

SCRIPT_RANGES: dict[str, str] = {
    # U+00D7 × and U+00F7 ÷ sit inside Latin-1's letter block but are
    # math signs, not letters — the range splits around them
    "latin": r"[A-Za-zÀ-ÖØ-öø-ɏ]",
    "cyrillic": r"[Ѐ-ӿ]",
    "greek": r"[Ͱ-Ͽ]",
    "arabic": r"[؀-ۿ]",
    "devanagari": r"[ऀ-ॿ]",
    "cjk": r"[぀-ヿ一-鿿가-힯]",  # kana+han+hangul
}


def with_script_ratios(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Append ``<script>_ratio`` per SCRIPT_RANGES plus ``letter_ratio``
    (any of the classes) — each a single regexp count over the text
    divided once by code-point length and rounded to 6 decimals. Null
    text yields 0 ratios. All counters sit in one codegen projection."""
    c = F.col(text_col)
    denom = F.greatest(F.coalesce(F.length(c), F.lit(0)), F.lit(1))
    out = docs
    total = F.lit(0).cast("long")
    for name, pat in SCRIPT_RANGES.items():
        cnt = _count(c, pat)
        total = total + cnt
        out = out.withColumn(
            f"{name}_ratio", ratio6(cnt, denom, NOISE_ROUND)
        )
    return out.withColumn(
        "letter_ratio", ratio6(total, denom, NOISE_ROUND)
    )


# declared-language -> expected script class (the CCNet-style sanity
# gate: a page labeled zh with no CJK characters is mislabeled or spam)
LANG_SCRIPT: dict[str, str] = {
    "en": "latin", "es": "latin", "de": "latin", "fr": "latin",
    "it": "latin", "pt": "latin", "nl": "latin", "sv": "latin",
    "ru": "cyrillic", "uk": "cyrillic", "bg": "cyrillic",
    "el": "greek",
    "ar": "arabic", "fa": "arabic", "ur": "arabic",
    "hi": "devanagari", "mr": "devanagari", "ne": "devanagari",
    "zh": "cjk", "ja": "cjk", "ko": "cjk",
}

MISMATCH_MIN_RATIO = 0.3


def with_lang_script_check(
    docs: DataFrame,
    text_col: str = "text",
    lang_col: str = "lang",
    min_ratio: float = MISMATCH_MIN_RATIO,
) -> DataFrame:
    """Append expected_script, expected_ratio and script_mismatch: does
    the declared language's script actually carry >= ``min_ratio`` of
    the text's code points? Languages outside LANG_SCRIPT (or null) get
    expected_script 'unknown' and are never flagged — the gate only
    judges what it has a mapping for. Pure codegen on top of
    ``with_script_ratios``."""
    sig = with_script_ratios(docs, text_col)
    lang = F.col(lang_col)
    exp = F.lit("unknown")
    for code, script in LANG_SCRIPT.items():
        exp = F.when(lang == code, F.lit(script)).otherwise(exp)
    out = sig.withColumn("expected_script", exp)
    ratio = F.lit(None).cast("double")
    for script in sorted(set(LANG_SCRIPT.values())):
        ratio = F.when(
            F.col("expected_script") == script, F.col(f"{script}_ratio")
        ).otherwise(ratio)
    return out.withColumn("expected_ratio", ratio).withColumn(
        "script_mismatch",
        F.coalesce(F.col("expected_ratio") < F.lit(min_ratio), F.lit(False)),
    )
