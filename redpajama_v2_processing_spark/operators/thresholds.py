"""Per-language quantile thresholds for quality filtering.

Reference semantics (reference README.md:77-99): per language, keep a doc
iff each signal lies within [p_low, p_high] percentiles; profiles
regular/strict/stricter/strictest = {10/90, 20/80, 30/70, 40/60}; the
reference hard-coded thresholds computed on a 0.02-0.05 % sample.

Two modes:
* exact=True  — SQL `percentile` (linear interpolation, matches DuckDB's
  quantile_cont exactly; used by the oracle-checked queries);
* exact=False — `percentile_approx` over an optional sample fraction: the
  100 TB path (single-pass sketch, no sort).

One buffer per signal: every quantile a signal needs (both bounds of every
profile in use) comes from ONE array-valued aggregate,
``percentile(c, array(p1..pk))`` or its ``percentile_approx`` twin, indexed
afterwards. Spark keeps a separate value->count map (or sketch) per
aggregate expression and never shares it between expressions, so k scalar
calls would buffer, serialize and shuffle every signal value k times.

The filters treat the bounds as constants, as the reference does: one
collected aggregation (one job, one row per language), a literal
predicate. What they return plans as the input plus one Filter, with no
join, aggregate or exchange for a consumer to re-run. Expressions are SQL
strings: each node of a ``Column`` tree costs py4j round trips.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import DEFAULT_PROFILE, LANG_PROFILE, QUANTILE_PROFILES


def _ident(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def _literal(v) -> str:
    """Exact SQL literal: a string's UTF-8 hex, a number's round-trip repr."""
    if isinstance(v, str):
        return f"CAST(X'{v.encode().hex()}' AS STRING)"
    return f"CAST('{v!r}' AS DOUBLE)"


def _quantile_table(signals, signal_cols, lang_col, pairs, exact, round_to) -> DataFrame:
    """DF(lang, <sig> array<double>, ...): per language, the quantiles of
    each signal at every p of ``pairs`` from one aggregate buffer, rounded
    as ``functions.vectors.round_half_up`` rounds."""
    arr = ", ".join(_literal(float(p)) for pair in pairs for p in pair)
    scale = _literal(float(10**round_to))

    def agg(c: str):
        q = (f"percentile({_ident(c)}, array({arr}))" if exact else
             f"percentile_approx(CAST({_ident(c)} AS DOUBLE), array({arr}), 10000)")
        return F.expr(f"transform({q}, x -> floor(x * {scale} + {_literal(0.5)})"
                      f" / {scale}) AS {_ident(c)}")

    return signals.groupBy(lang_col).agg(*[agg(c) for c in signal_cols])


def _literal_filter(signals, signal_cols, lang_col, exact, round_to, lang_pairs, default):
    """Rows whose signals all lie within their language's (p_low, p_high)
    bounds, ``lang_pairs[lang]`` or ``default``. Each signal is compared
    once, against two constant per-language lookups (a literal
    ``map(lang, bound)[lang]`` per bound), so the predicate's size does not
    grow with the language count and whole-stage codegen always compiles
    it. A NULL language, or one with a NULL bound (its signal all NULL), is
    not in the maps and keeps no rows."""
    pairs = sorted({*lang_pairs.values(), default})
    table = _quantile_table(signals, signal_cols, lang_col, pairs, exact, round_to)
    langs = sorted(  # (language, index of its p_low in each quantile array, row)
        (r[0], 2 * pairs.index(lang_pairs.get(r[0], default)), r) for r in table.collect()
        if r[0] is not None and all(r[c] is not None for c in signal_cols)
    )

    def bound(c: str, side: int) -> str:
        entries = ", ".join(f"{_literal(lg)}, {_literal(r[c][i + side])}" for lg, i, r in langs)
        return f"map({entries})[{_ident(lang_col)}]"

    return signals.where(" AND ".join(
        f"{_ident(c)} BETWEEN {bound(c, 0)} AND {bound(c, 1)}" for c in signal_cols
    ) if langs else "false")


def per_lang_thresholds(
    signals: DataFrame,
    signal_cols: list[str],
    lang_col: str = "lang",
    p_low: float = 0.10,
    p_high: float = 0.90,
    exact: bool = True,
    sample_fraction: float | None = None,
    round_to: int = 6,
) -> DataFrame:
    """DF(lang, <sig>_lo, <sig>_hi, ...) per-language quantile bounds (lazy)."""
    if sample_fraction is not None:
        signals = signals.sample(False, sample_fraction, seed=42)
    th = _quantile_table(signals, signal_cols, lang_col, [(p_low, p_high)], exact, round_to)
    return th.selectExpr(_ident(lang_col), *[
        f"{_ident(c)}[{i}] AS {_ident(c + suffix)}"
        for c in signal_cols for i, suffix in enumerate(("_lo", "_hi"))
    ])


def profiled_quantile_filter(
    signals: DataFrame,
    signal_cols: list[str],
    lang_col: str = "lang",
    exact: bool = True,
    round_to: int = 6,
) -> DataFrame:
    """Reference profile scheme (README.md:79-98): each language uses ITS
    profile's (p_low, p_high) — strict (20/80) for en, regular (10/90)
    otherwise.

    ONE groupBy(lang) aggregation, collected as this call's one job,
    computes every in-use profile's percentile pair per signal (grouped
    percentiles equal the per-language filtered ones); each language's
    profile is picked in Python and its bounds become literals of
    ``signals.where(...)``.
    """
    return _literal_filter(
        signals, signal_cols, lang_col, exact, round_to,
        {lang: QUANTILE_PROFILES[p] for lang, p in LANG_PROFILE.items()},
        QUANTILE_PROFILES[DEFAULT_PROFILE],
    )


def quantile_filter(
    signals: DataFrame,
    signal_cols: list[str],
    lang_col: str = "lang",
    p_low: float = 0.10,
    p_high: float = 0.90,
    exact: bool = True,
) -> DataFrame:
    """Keep rows whose every signal is within its per-language
    [p_low, p_high] bounds. Calling this runs the one aggregation job; the
    result is ``signals.where(<literal predicate>)``."""
    return _literal_filter(signals, signal_cols, lang_col, exact, 6, {}, (p_low, p_high))
