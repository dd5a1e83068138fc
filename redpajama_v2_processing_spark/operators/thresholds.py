"""Per-language quantile thresholds for quality filtering.

Reference semantics (/root/reference/README.md:77-99): per language, keep a
doc iff each signal lies within [p_low, p_high] percentiles; profiles
regular/strict/stricter/strictest = {10/90, 20/80, 30/70, 40/60}; the
reference computed thresholds externally on a 0.02-0.05 % sample.

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
calls would buffer, serialize and shuffle every signal value k times; the
array form reads all k quantiles off the same buffer, with the same
results.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..config import DEFAULT_PROFILE, LANG_PROFILE, QUANTILE_PROFILES
from ..functions.vectors import round_half_up


def _quantiles(c: str, ps: list[float], exact: bool) -> Column:
    """array<double>: the ``ps`` quantiles of column ``c`` from one
    aggregate buffer (module docstring)."""
    if exact:
        return F.percentile(F.col(c), ps)
    return F.percentile_approx(F.col(c).cast("double"), ps, 10000)


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
    """DF(lang, <sig>_lo, <sig>_hi, ...) per-language quantile bounds."""
    df = signals
    if sample_fraction is not None:
        df = df.sample(False, sample_fraction, seed=42)
    aggs = []
    for c in signal_cols:
        q = _quantiles(c, [p_low, p_high], exact)
        aggs += [
            round_half_up(q[0], round_to).alias(f"{c}_lo"),
            round_half_up(q[1], round_to).alias(f"{c}_hi"),
        ]
    return df.groupBy(lang_col).agg(*aggs)


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

    Single pass: ONE groupBy(lang) aggregation computes every in-use
    profile's percentile pair per signal (grouped percentiles equal the
    per-language filtered percentiles, so no per-language scan loop), then
    a CASE on the language->profile map picks the applicable pair, and the
    tiny threshold table broadcast-joins back. The corpus side is scanned
    once for thresholds and once for the filter — independent of the
    number of languages.

    One buffer per signal: all 2 x (profiles in use) quantiles of a signal
    come from a single array-valued percentile aggregate, so each signal
    value is buffered and shuffled once rather than once per (profile,
    bound) — Spark does not share buffers between aggregate expressions.
    """
    profiles = sorted({*LANG_PROFILE.values(), DEFAULT_PROFILE})
    ps = [p for prof in profiles for p in QUANTILE_PROFILES[prof]]
    aggs = []
    for c in signal_cols:
        q = _quantiles(c, ps, exact)
        for i, prof in enumerate(profiles):
            aggs += [
                round_half_up(q[2 * i], round_to).alias(f"_{c}_{prof}_lo"),
                round_half_up(q[2 * i + 1], round_to).alias(f"_{c}_{prof}_hi"),
            ]
    th_wide = signals.groupBy(lang_col).agg(*aggs)

    def pick(c: str, bound: str):
        expr = F.lit(None).cast("double")
        for lang, prof in LANG_PROFILE.items():
            expr = F.when(
                F.col(lang_col) == lang, F.col(f"_{c}_{prof}_{bound}")
            ).otherwise(expr)
        return F.coalesce(expr, F.col(f"_{c}_{DEFAULT_PROFILE}_{bound}"))

    th = th_wide.select(
        lang_col,
        *[pick(c, b).alias(f"{c}_{b}") for c in signal_cols for b in ("lo", "hi")],
    )
    out = signals.join(F.broadcast(th), lang_col)
    cond = F.lit(True)
    for c in signal_cols:
        cond = cond & (F.col(c) >= F.col(f"{c}_lo")) & (F.col(c) <= F.col(f"{c}_hi"))
    return out.where(cond).select(*signals.columns)


def quantile_filter(
    signals: DataFrame,
    signal_cols: list[str],
    lang_col: str = "lang",
    p_low: float = 0.10,
    p_high: float = 0.90,
    exact: bool = True,
) -> DataFrame:
    """Keep rows whose every signal is within its per-language bounds.

    Threshold table is tiny (one row per language) -> broadcast join; the
    corpus side never shuffles.
    """
    th = per_lang_thresholds(signals, signal_cols, lang_col, p_low, p_high, exact)
    out = signals.join(F.broadcast(th), lang_col)
    cond = F.lit(True)
    for c in signal_cols:
        cond = cond & (F.col(c) >= F.col(f"{c}_lo")) & (F.col(c) <= F.col(f"{c}_hi"))
    return out.where(cond).select(*signals.columns)
