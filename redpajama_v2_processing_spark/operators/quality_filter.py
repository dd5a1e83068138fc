"""Keep/drop labelling from the fixed quality-rule profile.

Mirrors the reference's conjunctive threshold filter
(src/filter_low_quality.py:53-109) but computes the signals inline (one
codegen stage) instead of joining a precomputed signals table. Rule order
in config.QUALITY_RULES defines drop_reason precedence (first failure wins),
so labels are deterministic.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..config import QUALITY_RULES
from ..functions.signals import ratio6, with_signals


def _rule_cond(signal: str, op: str, thr: float) -> Column:
    c = F.col(signal).cast("double")
    return c >= F.lit(thr) if op == ">=" else c <= F.lit(thr)


def rule_name(signal: str, op: str, thr: float) -> str:
    side = "min" if op == ">=" else "max"
    return f"{signal}_{side}"


def with_quality_label(df_with_signals: DataFrame) -> DataFrame:
    """Append keep:boolean and drop_reason:string ('' when kept)."""
    keep = F.lit(True)
    reason = F.lit("")
    for signal, op, thr, _ in reversed(QUALITY_RULES):
        ok = _rule_cond(signal, op, thr)
        keep = keep & ok
        reason = F.when(~ok, F.lit(rule_name(signal, op, thr))).otherwise(reason)
    return df_with_signals.withColumn("keep", keep).withColumn("drop_reason", reason)


def source_quality_report(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """DF(source, n_docs, n_keep, keep_rate, mean_words): the per-source
    quality monitoring surface — which feeds are sending junk and at what
    rate the conjunctive rule profile drops them.

    One narrow signals+label pass (codegen, no Python) into one grouped
    aggregation with map-side partial sums; counts and word sums stay
    exact bigints with a single division per group, so the rounded rates
    are partition-order-independent. The report is sources-sized (tiny at
    any corpus scale)."""
    lab = with_quality_label(with_signals(docs, text_col))
    return (
        lab.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(F.col("keep").cast("int")).cast("long").alias("n_keep"),
            F.sum("number_of_words").cast("long").alias("_nw"),
        )
        .select(
            "source",
            "n_docs",
            "n_keep",
            ratio6(F.col("n_keep"), F.col("n_docs")).alias("keep_rate"),
            ratio6(F.col("_nw"), F.col("n_docs"), 4).alias("mean_words"),
        )
    )
