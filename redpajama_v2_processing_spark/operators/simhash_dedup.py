"""SimHash near-dup detection.

Per-doc simhash is a pure-integer native expression (functions/hashing.py).
Near-dup pairs use the standard Hamming-LSH trick: split the B-bit hash
into bands; docs agreeing on any band are candidates (equi-self-join on
(band_idx, band_hash) — shuffle join), verified with
bit_count(xor) <= max_hamming.

Band width is the scale lever: each band has 2^band_bits distinct keys, so
expected bucket population is n / 2^band_bits and the self-join emits
O(n^2 / 2^band_bits) candidates. The 16-bit/4-bit test profile
(SIMHASH_BITS) is quadratic by construction — production uses PROD_SIMHASH
(60-bit hash, 15-bit bands: 32768 keys/band), plus an optional per-bucket
width cap for adversarially hot keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import SIMHASH_BITS
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


def _banded_simhash(sh: DataFrame, bits: int, band_bits: int) -> DataFrame:
    """DF(id, band_idx, band_hash, payload): one row per (doc, band) in
    the dedup family's banded schema; the payload is the doc's simhash."""
    n_bands = bits // band_bits
    mask = (1 << band_bits) - 1
    return sh.select(
        "id",
        F.col("simhash").alias("payload"),
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band_idx"),
                    F.shiftright("simhash", b * band_bits)
                    .bitwiseAND(F.lit(mask)).alias("band_hash"),
                )
                for b in range(n_bands)
            ])
        ).alias("bk"),
    ).select("id", "bk.band_idx", "bk.band_hash", "payload")


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
    MIN id, the edge is verified with hamming(member, min) <= max_hamming,
    and connected components assign cluster roots. Candidate volume is
    <= n * n_bands BY CONSTRUCTION — linear at any bucket width: the
    family's star-edge builder (minhash_lsh.candidate_edges) with the
    Hamming test as its payload predicate: one bucket window, no join.

    Approximation vs all-pairs: a member within max_hamming of another
    member but NOT of the bucket min clusters only if some other band
    links it — with multiple bands near-identical docs share several
    bucket mins, so high-similarity clusters stay connected (exactly the
    LSH recall model).
    """
    from .connected_components import checkpoint_banded, dedup_keep_min_id
    from .minhash_lsh import candidate_edges

    sh = with_simhash(docs, id_col, text_col, bits, portable)
    edges = candidate_edges(
        checkpoint_banded(_banded_simhash(sh, bits, band_bits)),
        lambda h, h_min: F.bit_count(h.bitwiseXOR(h_min)) <= max_hamming,
    )
    # ids straight from the docs scan (one row per doc == with_simhash's
    # output set) — selecting off the simhash frame would re-run the
    # tokenize+vote aggregation just to list ids
    return dedup_keep_min_id(docs.select(F.col(id_col).alias("id")), edges)


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
    beyond the cap (in deterministic id order) don't join
    (minhash_lsh.cap_bucket_width). An approximation for adversarially
    hot buckets (boilerplate floods); leave None for exact semantics
    (oracle-checked profiles).

    Both self-join sides read the banded checkpoint
    (connected_components.checkpoint_banded), so the signature pass runs
    once.
    """
    from .connected_components import checkpoint_banded
    from .minhash_lsh import cap_bucket_width

    sh = with_simhash(docs, id_col, text_col, bits, portable)
    banded = checkpoint_banded(
        cap_bucket_width(_banded_simhash(sh, bits, band_bits), max_bucket)
    )
    a = banded.select(
        F.col("id").alias("src"), F.col("payload").alias("_ha"),
        "band_idx", "band_hash",
    )
    b = banded.select(
        F.col("id").alias("dst"), F.col("payload").alias("_hb"),
        "band_idx", "band_hash",
    )
    return (
        a.join(b, ["band_idx", "band_hash"])
        .where(F.col("src") < F.col("dst"))
        .select(
            "src",
            "dst",
            F.bit_count(F.col("_ha").bitwiseXOR(F.col("_hb"))).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )
