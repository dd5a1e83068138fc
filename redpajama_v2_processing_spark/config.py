"""Shared, engine-agnostic configuration.

Every constant here is consumed BOTH by the Spark implementation
(``functions/``, ``operators/``) and by the DuckDB oracle-SQL generators
(``oracle.py``), so keep/drop decisions and signal values are defined once.

Signal inventory mirrors the reference's 15 quality signals
(/root/reference/README.md:78); threshold profiles mirror its
regular/strict/stricter/strictest p-quantile scheme (README.md:79-98).
"""

from __future__ import annotations

import os

# ---------------------------------------------------------------------------
# Tokenization / lexicons
# ---------------------------------------------------------------------------

# Function words across the five supported languages (the reference filters
# per-language with per-language signals, README.md:95-98; a multilingual
# stop list keeps the conjunctive rule meaningful for every lang). Includes
# tokens present in the synthetic corpus so the signal is exercised in tests.
STOPWORDS: tuple[str, ...] = (
    # en
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "on", "for",
    "with", "as", "at", "by", "it", "be", "are", "was", "this", "that",
    # de
    "der", "die", "das", "und", "ist", "nicht", "mit", "ein", "eine", "den",
    # fr
    "le", "la", "les", "et", "est", "pas", "une", "des", "dans", "pour",
    # es
    "el", "los", "las", "es", "una", "para", "por", "con", "del", "como",
    # it
    "il", "di", "che", "non", "per", "sono", "della", "nel", "anche", "sopra",
)

# Demo flagged-word lexicon (configurable in production). Includes tokens
# that occur in the synthetic corpus so the flagged-fraction signal and its
# drop rule actually fire in tests.
FLAGGED_WORDS: tuple[str, ...] = (
    "dup", "spam", "xxx", "viagra", "casino", "porn",
)

# Language-ID marker lexicons (tiny deterministic fastText-style lexicon
# classifier; see functions/langid.py). Disjoint where possible.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "is", "with", "this", "that", "for", "are", "was"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "eine", "ich"),
    "fr": ("le", "la", "les", "et", "est", "pas", "une", "des", "dans", "pour"),
    "es": ("el", "los", "las", "es", "una", "para", "por", "con", "del", "como"),
    "it": ("il", "di", "che", "non", "per", "una", "sono", "della", "nel", "anche"),
}
LANGID_DEFAULT = "und"  # no marker hits -> undetermined

# ---------------------------------------------------------------------------
# Quality thresholds (fixed profile; quantile-derived profiles are computed
# by operators/thresholds.py). Rule order defines drop_reason precedence.
# ---------------------------------------------------------------------------

QUALITY_RULES: tuple[tuple[str, str, float, bool], ...] = (
    # (signal, op, threshold, is_lower_bound): keep iff signal op threshold
    ("number_of_words", ">=", 10.0, True),
    ("number_of_words", "<=", 100000.0, False),
    ("mean_word_length", ">=", 2.0, True),
    ("mean_word_length", "<=", 12.0, False),
    ("special_char_ratio", "<=", 0.30, False),
    ("stop_word_fraction", ">=", 0.01, True),
    ("flagged_word_fraction", "<=", 0.10, False),
    ("char_repetition_5gram", "<=", 0.98, False),
    ("word_repetition_2gram", "<=", 0.80, False),
)

# Quantile profiles per the reference README.md:83-98: (p_low, p_high).
QUANTILE_PROFILES: dict[str, tuple[float, float]] = {
    "regular": (0.10, 0.90),
    "strict": (0.20, 0.80),
    "stricter": (0.30, 0.70),
    "strictest": (0.40, 0.60),
}
# reference: strict for en, regular for the rest (README.md:95-98)
LANG_PROFILE: dict[str, str] = {"en": "strict"}
DEFAULT_PROFILE = "regular"

SHORT_LINE_CHARS = 30  # short_line_ratio threshold on line length

# ---------------------------------------------------------------------------
# PII / toxicity scrub (applied in order; same regex dialect subset works in
# Java regex (Spark) and RE2 (DuckDB): no backrefs / lookaround).
# ---------------------------------------------------------------------------

PII_PATTERNS: tuple[tuple[str, str], ...] = (
    (r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    (r"\b(?:\d[ \-]?){13,16}\b", "<CC>"),
    (r"\b\d{3}[ .\-]\d{3}[ .\-]\d{4}\b", "<PHONE>"),
    (r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
)

# ---------------------------------------------------------------------------
# MinHash / LSH
# ---------------------------------------------------------------------------

# Oracle-checkable profile: md5-based portable hash family, small signature.
ORACLE_MINHASH = {"num_perm": 12, "bands": 4, "rows": 3, "shingle": 3}
# Production profile mirrors the reference's sim0.8 banding (9 bands,
# src/minhashlsh.py:101) at 117 permutations; xxhash64 JVM-native hashing.
PROD_MINHASH = {"num_perm": 117, "bands": 9, "rows": 13, "shingle": 3}

SIMHASH_BITS = 16  # oracle-checkable small profile (see PROD_SIMHASH)
# Production simhash: 60-bit hash (the portable md5int width), 15-bit bands
# -> 4 bands x 32768 keys/band (the 16-bit/4-bit profile above has only
# 16 keys/band and is O(n^2/16) — test fixture only). max_bucket caps each
# (band, key) bucket at its 64 smallest ids: near-identical template pages
# share simhash band keys BY DESIGN, so hot buckets otherwise grow with
# corpus size and the self-join goes quadratic (measured 104x candidates at
# 10x docs uncapped vs ~linear capped, BENCH.md); the cap bounds any bucket
# to C(64,2) pairs while dup clusters stay connected through their minima.
PROD_SIMHASH = {"bits": 60, "band_bits": 15, "max_hamming": 3, "max_bucket": 64}

# Connected components: once the input edge set, or the output of a
# distributed star round, is at or below this count, it is collected and
# union-found on the driver; a graph under it from the start takes two jobs
# (a collected edge Row is ~100 bytes on the driver, so 1M edges ~ 100 MB —
# comfortably inside a multi-GB driver; the label frame it returns is
# broadcast, at most 2M (id, root) longs ~ 32 MB per executor; raise it via
# RPV2_CC_DRIVER_THRESHOLD only with driver and executor memory to match,
# set 0 to force the distributed large-star/small-star fixpoint).
CC_DRIVER_THRESHOLD = int(os.environ.get("RPV2_CC_DRIVER_THRESHOLD", "1000000"))

# Per-language downsample ratios — the reference's target of ~500M
# signatures (~100B tokens) per language (README.md:104,
# src/downsample_parquet.py:16-20): en was pre-shrunk by the strict
# quality profile, the rest scale by 10^12/corpus_size.
LANG_DOWNSAMPLE_RATIOS: dict[str, float] = {
    "de": 10**12 / 1831408329763,
    "en": 0.16679635865671472,
    "es": 10**12 / 1698722578461,
    "fr": 10**12 / 1543539727843,
}
DOWNSAMPLE_DEFAULT_RATIO = 1.0  # langs without a configured ratio pass through

# ANN
ANN_TOPK = 20
ANN_ROUND = 4  # decimals for cosine similarity rounding (cross-engine safety)

# Production embedding near-dup LSH: 64 hyperplanes split into 4 bands of
# 16 bits (65,536 keys per band); near-identical vectors (cos >= 0.99) hit
# >= 1 band with p > 0.92 (the single-signature 8-bit test profile is
# n^2/256 — fixture only). Random pairs still collide at p ~ 4/2^16, which
# is n^2-over-a-large-constant; max_bucket=64 caps each (band, key) bucket
# (smallest ids kept) so hot half-space clusters cannot re-quadratize the
# join (measured 99x candidates at 10x docs uncapped vs ~linear capped).
PROD_EMB_LSH = {"nbits": 64, "band_bits": 16, "max_bucket": 64}

# Sessionization gap for events
SESSION_GAP_MINUTES = 30
