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
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import DEFAULT_PROFILE, LANG_PROFILE, QUANTILE_PROFILES
from ..functions.vectors import round_half_up


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
        col = F.col(c).cast("double")
        if exact:
            lo = F.expr(f"percentile({c}, {p_low})")
            hi = F.expr(f"percentile({c}, {p_high})")
        else:
            lo = F.percentile_approx(col, p_low, 10000)
            hi = F.percentile_approx(col, p_high, 10000)
        aggs += [
            round_half_up(lo.cast("double"), round_to).alias(f"{c}_lo"),
            round_half_up(hi.cast("double"), round_to).alias(f"{c}_hi"),
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
    """
    profiles = sorted({*LANG_PROFILE.values(), DEFAULT_PROFILE})
    aggs = []
    for c in signal_cols:
        for prof in profiles:
            p_low, p_high = QUANTILE_PROFILES[prof]
            if exact:
                lo = F.expr(f"percentile({c}, {p_low})")
                hi = F.expr(f"percentile({c}, {p_high})")
            else:
                col = F.col(c).cast("double")
                lo = F.percentile_approx(col, p_low, 10000)
                hi = F.percentile_approx(col, p_high, 10000)
            aggs += [
                round_half_up(lo.cast("double"), round_to).alias(f"_{c}_{prof}_lo"),
                round_half_up(hi.cast("double"), round_to).alias(f"_{c}_{prof}_hi"),
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
