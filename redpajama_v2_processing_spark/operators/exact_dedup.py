"""Exact deduplication.

Reference semantics: drop every doc whose id appears in a published
duplicates table (src/filter_exact_duplicates.py:89-133), realized there as
an in-RAM python set (≤51 GB, 3 h build). Spark realization:

* ``exact_keep_ids``: content dedup — the min id per identical
  (normalized) text, one partial-aggregated groupBy on the 60-bit
  fingerprint (the pipeline's exact stage, ``plans.pipeline``, keeps the
  same rows with a min-id window).
* ``anti_join_duplicates``: the reference's Bloom-duplicates stage as a
  ``left_anti`` join; Spark's runtime Bloom-filter join pruning
  (spark.sql.optimizer.runtime.bloomFilter.enabled, on in session.py) gives
  the Bloom prefilter *and* exactness in one declarative plan. The
  duplicates side is joined as given, not ``distinct()``-ed first: an
  anti-join's output does not depend on how often a key repeats on the
  build side (and NULL ids never match either way), so a distinct would
  only add an aggregation exchange and its job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import fingerprint_int


def exact_keep_ids(docs: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """DF(id_col): the min id per normalized-text fingerprint."""
    fp = fingerprint_int(F.col(text_col))
    return (
        docs.select(F.col(id_col), fp.alias("_fp"))
        .groupBy("_fp")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )


def anti_join_duplicates(docs: DataFrame, duplicates: DataFrame,
                         id_col: str, dup_id_col: str) -> DataFrame:
    """Drop docs whose id appears in ``duplicates`` (reference J1).

    AQE picks broadcast vs shuffled-hash by build-side size; with runtime
    Bloom filters on, large probe sides are pre-filtered at the scan.
    Repeated duplicate ids need no ``distinct()`` (module docstring).
    """
    dups = duplicates.select(F.col(dup_id_col).alias(id_col))
    return docs.join(dups, id_col, "left_anti")


# ---------------------------------------------------------------------------
# Explicit partitioned Bloom-filter stage
# ---------------------------------------------------------------------------
#
# The reference's duplicate-id set is a driver-RAM python set (<= 51 GB,
# src/filter_exact_duplicates.py:89-133). anti_join_duplicates already
# covers the semantics declaratively (AQE + runtime Bloom join pruning);
# this section makes the Bloom stage EXPLICIT as relational algebra so the
# probe-side prefilter is a plan the engine owns rather than an optimizer
# option: the bitmap is BUILT partitioned (map-side bit_or partial
# aggregation over hash positions — every executor folds its shard of the
# key set into partial bitmaps, one shuffle of m/64 words merges them),
# then BROADCAST to probe (m = 2^20 bits -> 16,384 longs ~ 128 KB).
# Definitely-absent rows skip the verification join entirely; only
# maybe-present rows (true members + ~fpp false positives) shuffle into the
# exact anti join, so the result is EXACT while the corpus-sized side
# never shuffles.

BLOOM_M_BITS = 1 << 20   # bitmap bits (power of two; 16k longs broadcast)
BLOOM_K = 5              # hash probes per key


def _bloom_positions(key, m_bits: int, k: int):
    """k bit positions per key: xxhash64 under k seeds, mod m."""
    return [F.pmod(F.xxhash64(key, F.lit(i)), F.lit(m_bits)) for i in range(k)]


def bloom_bitmap(keys: DataFrame, key_col: str,
                 m_bits: int = BLOOM_M_BITS, k: int = BLOOM_K) -> DataFrame:
    """DF(w, bits): the Bloom bitmap as packed 64-bit words, built with
    one partial-aggregated shuffle of at most m/64 rows."""
    pos = F.explode(F.array(*_bloom_positions(F.col(key_col), m_bits, k))).alias("p")
    return (
        keys.select(pos)
        .select(
            (F.col("p") / 64).cast("long").alias("w"),
            # python F.shiftleft wants a literal int shift; the SQL
            # function takes a column
            F.expr("shiftleft(1L, cast(p % 64 as int))").alias("b"),
        )
        .groupBy("w")
        .agg(F.bit_or("b").alias("bits"))
    )


def bloom_maybe_contains(df: DataFrame, key, bitmap: DataFrame,
                         m_bits: int = BLOOM_M_BITS, k: int = BLOOM_K):
    """df + boolean column ``_maybe``: True iff all k probe bits are set
    (key MAY be in the set; False is definitive absence).

    Plan shape: k BROADCAST-join lookups against the 16k-row bitmap —
    each is a narrow map-side hash probe, so the corpus side never
    shuffles and never groups (an explode+groupBy formulation would
    shuffle every input row — the exact cost the Bloom stage exists to
    avoid)."""
    out = df
    maybe = F.lit(True)
    for i in range(k):
        p = F.pmod(F.xxhash64(key, F.lit(i)), F.lit(m_bits))
        out = (
            out.withColumn(f"_p{i}", p)
            .withColumn(f"_w{i}", (F.col(f"_p{i}") / 64).cast("long"))
            .withColumn(f"_b{i}", F.expr(f"shiftleft(1L, cast(_p{i} % 64 as int))"))
            .drop(f"_p{i}")
        )
        bm = F.broadcast(
            bitmap.select(F.col("w").alias(f"_w{i}"), F.col("bits").alias(f"_bits{i}"))
        )
        out = out.join(bm, f"_w{i}", "left")
        maybe = maybe & (
            F.col(f"_b{i}").bitwiseAND(F.coalesce(F.col(f"_bits{i}"), F.lit(0))) != 0
        )
    drop = [c for i in range(k) for c in (f"_w{i}", f"_b{i}", f"_bits{i}")]
    return out.withColumn("_maybe", maybe).drop(*drop)


def bloom_anti_join_duplicates(
    docs: DataFrame,
    duplicates: DataFrame,
    id_col: str,
    dup_id_col: str,
    m_bits: int = BLOOM_M_BITS,
    k: int = BLOOM_K,
) -> DataFrame:
    """Exact anti-join through an explicit partitioned Bloom prefilter:
    result is IDENTICAL to ``anti_join_duplicates`` (false positives are
    removed by the verification join); only the plan differs — rows the
    bitmap proves absent never reach the join."""
    dups = duplicates.select(F.col(dup_id_col).alias(id_col)).distinct()
    # the bitmap (<= m/64 rows, ~128 KB) feeds k broadcast joins across
    # BOTH result branches; checkpoint so the full pass over the
    # duplicate set runs once, not once per consumer
    bitmap = bloom_bitmap(dups, id_col, m_bits, k).localCheckpoint(eager=True)
    probed = bloom_maybe_contains(docs, F.col(id_col), bitmap, m_bits, k)
    definite = probed.where(~F.col("_maybe")).drop("_maybe")
    maybe = probed.where(F.col("_maybe")).drop("_maybe")
    verified = maybe.join(dups, id_col, "left_anti")
    return definite.unionByName(verified)


def incremental_exact_keep(
    new_docs: DataFrame,
    history: DataFrame,
    id_col: str,
    text_col: str = "text",
) -> DataFrame:
    """DF(id_col): incremental exact dedup of a new crawl against a frozen
    history corpus — the cross-crawl counterpart of ``exact_keep_ids``.

    A new doc is dropped iff its normalized-text fingerprint appears in
    history (the reference's published-duplicates semantics,
    src/filter_exact_duplicates.py:89-133, with the id-set replaced by a
    fingerprint probe so history text never reships); survivors then keep
    the min id per fingerprint within the crawl. Null-text docs have a
    null fingerprint: null keys never match a join, so they skip the
    history probe and stay grouped among themselves within the crawl —
    identical grouping to ``exact_keep_ids``.

    Null-doc convention — INTENTIONAL divergence from the fuzzy tier:
    the exact family pools all null-text docs under the single NULL
    fingerprint and keeps one (here and in ``exact_keep_ids``, pinned by
    tests and both DuckDB oracles), because exact dedup keys on content
    EQUALITY and "no text" is one well-defined equality class — two
    empty documents are exact duplicates of each other. The fuzzy /
    SimHash / SemDeDup tiers instead keep EVERY unsignable doc (the
    reference's null-signature guard, src/minhashlsh.py:112), because
    there a null signature means "similarity unknowable", not "equal".
    Callers wanting the keep-all rule for nulls should route
    ``text IS NULL`` rows around the exact stage.

    Scale shape: the history side is a fingerprints-only frame (one
    bigint column, distinct — in production a table maintained per
    accepted crawl); the probe is one shuffle on the fingerprint with
    AQE/Bloom pruning, the within-crawl keep one partial-aggregated
    groupBy. Nothing reaches the driver.
    """
    fp = fingerprint_int(F.col(text_col))
    hist_fp = history.select(fp.alias("_fp")).distinct()
    return (
        new_docs.select(F.col(id_col), fp.alias("_fp"))
        .join(hist_fp, "_fp", "left_anti")
        .groupBy("_fp")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
