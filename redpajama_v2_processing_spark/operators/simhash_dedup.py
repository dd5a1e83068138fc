"""SimHash near-dup detection.

Per-doc simhash is a pure-integer native expression (functions/hashing.py).
Near-dup pairs use the standard Hamming-LSH trick: split the B-bit hash
into bands; docs agreeing on any band are candidates (equi-self-join on
(band, key) — shuffle join), verified with bit_count(xor) <= max_hamming.

Band width is the scale lever: each band has 2^band_bits distinct keys, so
expected bucket population is n / 2^band_bits and the self-join emits
O(n^2 / 2^band_bits) candidates. The 16-bit/4-bit test profile
(SIMHASH_BITS) is quadratic by construction — production uses PROD_SIMHASH
(60-bit hash, 15-bit bands: 32768 keys/band), plus an optional per-bucket
width cap for adversarially hot keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..config import PROD_SIMHASH, SIMHASH_BITS
from ..functions.hashing import md5int_seeded, xxhash_seeded
from ..functions.text import tokens, normalize


def with_simhash(docs: DataFrame, id_col: str, text_col: str = "text",
                 bits: int = SIMHASH_BITS, portable: bool = True) -> DataFrame:
    """DF(id, simhash): bit b set iff sum over tokens of
    (2*((hash(token)>>b)&1)-1) > 0. Explode + single hash aggregation with
    `bits` sum buffers — flat codegen, map-side combine; empty docs -> 0.
    """
    fam = md5int_seeded if portable else xxhash_seeded
    # explode_OUTER keeps one null-token row for empty/null docs, so every
    # doc reaches the aggregation and the old ids re-join (a second docs
    # scan + a join) is gone (guide §2.4). The null guard on the hash
    # matters: xxhash64 SKIPS null inputs (hash of nothing = seed
    # constant), which would cast a real ±1 vote — a null hash makes every
    # vote sum null and each bit's `> 0` false, reproducing the old
    # coalesce-to-0 contract exactly.
    tok = docs.select(
        F.col(id_col).alias("id"),
        F.explode_outer(tokens(normalize(F.col(text_col)))).alias("_t"),
    )
    hashed = tok.select(
        "id",
        F.when(F.col("_t").isNotNull(), fam(0, F.col("_t"))).alias("_hv"),
    )
    votes = hashed.groupBy("id").agg(
        *[
            F.sum(
                F.shiftright("_hv", b).bitwiseAND(F.lit(1)).cast("bigint") * 2 - 1
            ).alias(f"_v{b}")
            for b in range(bits)
        ]
    )
    sim = sum(
        (
            F.when(F.col(f"_v{b}") > 0, F.lit(1 << b).cast("bigint")).otherwise(
                F.lit(0).cast("bigint")
            )
            for b in range(bits)
        ),
        F.lit(0).cast("bigint"),
    )
    return votes.select("id", sim.alias("simhash"))


def token_hash_array(text, portable: bool = True):
    """array<bigint> of per-token hashes (the simhash vote inputs) as a
    row-local expression. STAGE this as its own column before consuming —
    simhash_from_hashes references it once per bit, and an inlined
    transform would re-hash every token per bit."""
    fam = md5int_seeded if portable else xxhash_seeded
    return F.transform(tokens(normalize(text)), lambda t: fam(0, t))


def simhash_from_hashes(hv, bits: int = SIMHASH_BITS):
    """Row-local simhash from a STAGED token-hash array column: bit b is
    set iff the per-token ±1 votes on bit b sum positive. No aggregation
    node, so it composes with Structured Streaming (the grouped
    formulation in with_simhash would be a streaming aggregate); the
    folds are higher-order functions (interpreted) — fine at ingest
    rates, while the batch path keeps the flat codegen aggregation.
    Empty docs yield 0 (same as with_simhash's coalesce)."""
    def vote(b: int):
        return F.aggregate(
            hv,
            F.lit(0).cast("bigint"),
            lambda acc, h: acc
            + (F.shiftright(h, b).bitwiseAND(F.lit(1)).cast("bigint") * 2 - 1),
        )

    out = F.lit(0).cast("bigint")
    for b in range(bits):
        out = out + F.when(vote(b) > 0, F.lit(1 << b).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
    return out


def _banded_simhash(sh: DataFrame, bits: int, band_bits: int) -> DataFrame:
    """DF(id, simhash, band, key): one row per (doc, band)."""
    n_bands = bits // band_bits
    mask = (1 << band_bits) - 1
    return sh.select(
        "id",
        "simhash",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.shiftright("simhash", b * band_bits).bitwiseAND(F.lit(mask)).alias("key"),
                )
                for b in range(n_bands)
            ])
        ).alias("bk"),
    ).select("id", "simhash", "bk.band", "bk.key")


def simhash_dedup_keep(
    docs: DataFrame,
    id_col: str,
    text_col: str = "text",
    bits: int = SIMHASH_BITS,
    max_hamming: int = 3,
    band_bits: int = 4,
    portable: bool = True,
) -> DataFrame:
    """DF(id): keep-list (component min id + singletons) via STAR edges.

    The scalable production dedup path: instead of the all-pairs bucket
    self-join (O(sum of bucket_width^2) — quadratic whenever template
    pages flood a bucket), each bucket member links only to its bucket's
    MIN id (arg_min over one grouped aggregation, map-side combinable),
    the edge is verified with hamming(member, min) <= max_hamming, and
    connected components assign cluster roots. Candidate volume is
    <= n * n_bands BY CONSTRUCTION — linear at any bucket width, the same
    star-edge shape that keeps MinHash-LSH linear
    (operators/minhash_lsh.candidate_edges).

    Approximation vs all-pairs: a member within max_hamming of another
    member but NOT of the bucket min clusters only if some other band
    links it — with multiple bands near-identical docs share several
    bucket mins, so high-similarity clusters stay connected (exactly the
    LSH recall model).
    """
    from .connected_components import (
        _persistent_ids, _unpersist, connected_components, keep_min_id,
    )

    from ..functions.vectors import verify_partitions

    sh = with_simhash(docs, id_col, text_col, bits, portable)
    # banded feeds the bucket-min aggregation AND the edge join (no
    # subplan sharing — the signature pass would run twice); repartition
    # by the bucket key before the checkpoint so (a) the byte-based AQE
    # coalescer cannot serialize it onto one partition and (b) both
    # consumers reuse the partitioning with no further exchange.
    sc = docs.sparkSession.sparkContext
    before = _persistent_ids(sc)
    banded = _banded_simhash(sh, bits, band_bits).repartition(
        verify_partitions(docs), "band", "key"
    ).localCheckpoint(eager=True)
    banded_ids = _persistent_ids(sc) - before
    buckets = banded.groupBy("band", "key").agg(
        F.min("id").alias("_min_id"), F.min_by("simhash", "id").alias("_min_sim")
    )
    edges = (
        banded.join(buckets, ["band", "key"])
        .where(
            (F.col("id") != F.col("_min_id"))
            & (
                F.bit_count(F.col("simhash").bitwiseXOR(F.col("_min_sim")))
                <= max_hamming
            )
        )
        .select(F.col("id").alias("src"), F.col("_min_id").alias("dst"))
        .distinct()
    )
    cc = connected_components(edges)
    # cc is materialized (checkpoint or driver-side frame): free the bands
    _unpersist(sc, banded_ids)
    # ids straight from the docs scan (one row per doc == with_simhash's
    # output set) — selecting off `sh` would re-run the tokenize+vote
    # aggregation just to list ids
    ids = docs.select(F.col(id_col).alias("id"))
    return keep_min_id(ids, cc)


def simhash_near_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str = "text",
    bits: int = SIMHASH_BITS,
    max_hamming: int = 3,
    band_bits: int = 4,
    portable: bool = True,
    max_bucket: int | None = None,
) -> DataFrame:
    """DF(src, dst, hamming), src < dst, hamming <= max_hamming.

    ``max_bucket``: optional cap on per-(band, key) bucket width — rows
    beyond the cap (in deterministic id order) don't join. An approximation
    for adversarially hot buckets (boilerplate floods); leave None for
    exact semantics (oracle-checked profiles).
    """
    sh = with_simhash(docs, id_col, text_col, bits, portable)
    banded = _banded_simhash(sh, bits, band_bits)
    if max_bucket is not None:
        w = Window.partitionBy("band", "key").orderBy("id")
        banded = (
            banded.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= max_bucket)
            .drop("_rn")
        )
    # checkpoint: both self-join sides consume the banded frame and
    # Catalyst does not share the subplan — without this the signature
    # computation (tokenize + explode + bit sums) runs once per side.
    # EXPLICIT repartition on the join key first: the byte-tiny aggregate
    # output otherwise AQE-coalesces to ONE partition, the checkpoint
    # captures that, and the whole bucket self-join serializes onto one
    # core (the semdedup r6 lesson); partitioning by (band, key) also
    # lets the self-join reuse the checkpoint partitioning — no further
    # exchange on either side.
    from ..functions.vectors import verify_partitions

    banded = banded.repartition(
        verify_partitions(docs), "band", "key"
    ).localCheckpoint(eager=True)
    a = banded.select(
        F.col("id").alias("src"), F.col("simhash").alias("_ha"), "band", "key"
    )
    b = banded.select(
        F.col("id").alias("dst"), F.col("simhash").alias("_hb"), "band", "key"
    )
    return (
        a.join(b, ["band", "key"])
        .where(F.col("src") < F.col("dst"))
        .select(
            "src",
            "dst",
            F.bit_count(F.col("_ha").bitwiseXOR(F.col("_hb"))).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )
