"""Interop with RedPajama-v2 precomputed MinHash signature parquet.

The reference's actual dedup input is NOT raw text: it is parquet of
pre-banded MinHash signatures, schema
``(shard_id: string, id: string, id_int: uint64, signature: list<binary>)``
(/root/reference/src/minhashlsh_partial.py:148), where the raw files carry
one column per similarity level, ``signature_sim{0.7,0.8,0.9,1.0}``, with
band counts {0.7: 14, 0.8: 9, 0.9: 5, 1.0: 1}
(/root/reference/src/minhashlsh.py:83-101). Element b of the list is band
b's digest; two docs are LSH candidates iff any band position holds the
same digest.

This module reads that layout and runs the engine's band-bucket shuffle +
connected components over the PRE-BANDED signatures — the first thing a
real RPv2 user needs to switch engines without recomputing signatures.

uint64 note: Spark's parquet reader surfaces the reference's
``id_int: uint64`` as ``decimal(20,0)``; ids >= 2^63 would overflow (or,
under ANSI mode, throw on) a naive bigint cast. The CC key is therefore
derived with an ORDER-PRESERVING shift — ``id_int - 2^63`` maps
[0, 2^64) monotonically onto the full bigint range [-2^63, 2^63) — so the
component-minimum keep rule picks exactly the doc the reference's
UnionFind would, and the original ``id_int`` is carried through to the
output unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.connected_components import connected_components, keep_min_id
from ..operators.minhash_lsh import candidate_edges

_U63 = 1 << 63


def read_rpv2_signatures(
    spark: SparkSession, path: str, sim_level: str = "0.8"
) -> DataFrame:
    """DF(id, id_int, signature) from RPv2 minhash parquet at one sim level.

    Mirrors the reference's rename/select
    (src/minhashlsh.py:83-85: rename signature_sim{level} -> signature,
    select [signature, id, id_int]) as a pruned parquet scan — only the
    chosen level's column is read. ``id_int`` keeps whatever type the
    parquet surfaces (``decimal(20,0)`` for genuine uint64 files, long for
    re-exported ones); downstream ops handle both.
    """
    # backticks: the level's dot would otherwise parse as a struct accessor
    col = f"`signature_sim{sim_level}`"
    return spark.read.parquet(path).select(
        "id", "id_int", F.col(col).alias("signature")
    )


def _cc_key(signatures: DataFrame):
    """Long CC key column, order-isomorphic to ``id_int``.

    decimal(20,0) (the uint64 surface) is shifted by -2^63 into bigint
    range — a monotone bijection, so per-component minima are preserved;
    integral types cast directly."""
    dt = dict(signatures.dtypes)["id_int"]
    if dt.startswith("decimal"):
        # 2^63 exceeds the long literal range: route it through a string
        return (
            F.col("id_int") - F.lit(str(_U63)).cast("decimal(20,0)")
        ).cast("long")
    return F.col("id_int").cast("long")


def pre_banded_bands(signatures: DataFrame) -> DataFrame:
    """DF(id, band_idx, band_hash) from DF(..., id_int, signature); ``id``
    is the long CC key (shifted iff the source is uint64 — see _cc_key).

    posexplode over the band list: position = band index (band identity is
    positional in the reference layout). Null signatures (the reference's
    null-signature guard, src/minhashlsh.py:112) produce no band rows, so
    unsignable docs are never candidates — and survive dedup.
    """
    return signatures.select(
        _cc_key(signatures).alias("id"),
        F.posexplode("signature").alias("band_idx", "band_hash"),
    )


def rpv2_keep_ids(signatures: DataFrame, salted: bool = False) -> DataFrame:
    """DF(id, id_int): keep-list (component min per LSH cluster +
    singletons) over pre-banded signatures — the reference's UnionFind keep
    rule (src/minhashlsh.py:140,169) via distributed CC.

    ``id`` is the reference's STRING document id (its keep-lists and
    downstream joins key on it, src/minhashlsh.py:171-188); ``id_int``
    rides along in its original type (long, or decimal(20,0) for uint64
    files) for numeric consumers. ``salted`` is accepted and ignored:
    the edges are always :func:`candidate_edges`' star edges.
    """
    cc = connected_components(candidate_edges(pre_banded_bands(signatures)))
    keyed = signatures.select("id", "id_int", _cc_key(signatures).alias("_k"))
    return keep_min_id(keyed, cc, "_k").select("id", "id_int")


def export_keep_list_jsonl(
    keep: DataFrame, path: str, id_col: str = "id", compress: bool = True
) -> None:
    """Write a keep-list in the reference's fuzzy-dedup output format —
    JSONL, one ``{"id": "<string id>"}`` object per line
    (/root/reference/src/minhashlsh.py:176-188 dumps exactly that after
    ``select_columns(['id'])``) — so a reference-stack user can feed this
    engine's dedup straight into their existing
    ``filter_fuzzy_duplicates`` consumer.

    Distributed JSONL sink (one file per partition, gzip by default like
    the reference's published tables); nothing reaches the driver."""
    frame = keep.select(F.col(id_col).cast("string").alias("id"))
    writer = frame.write.mode("overwrite")
    if compress:
        writer = writer.option("compression", "gzip")
    writer.json(path)


def fix_duplicate_ids(dups: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """P8 interop shim: the reference's PUBLISHED duplicates tables carry
    malformed document ids — ``2014-15/1839/de_head.json/0`` where the
    document tables say ``…de_head.json.gz/0`` (its ``fix_id``,
    /root/reference/src/filter_exact_duplicates.py:69-79, patches the
    string at a hardcoded byte offset per middle/head bucket). Without the
    repair, every id join against the published tables silently matches
    nothing.

    One native ``regexp_replace`` at the scan: ``'.json/'`` becomes
    ``'.json.gz/'``. Well-formed ids are fixpoints (the pattern requires
    ``/`` immediately after ``.json``, which ``.json.gz/`` ids don't
    have), so the shim is idempotent and safe to apply unconditionally —
    unlike the reference's offset splice, which would corrupt an
    already-correct id.
    """
    return dups.withColumn(
        id_col, F.regexp_replace(F.col(id_col), r"\.json/", ".json.gz/")
    )


def synthesize_rpv2_ids(
    docs: DataFrame,
    crawl: str,
    source_file,
    idx_col: str,
    id_col: str = "id",
) -> DataFrame:
    """Reference-format composite string ids
    ``{crawl}/{source_file}/{row_idx}``
    (/root/reference/src/add_document_ids.py:64) for documents ingested
    OUTSIDE RPv2 parquet — the write-side twin of the read path, so
    keep-lists emitted by this engine can be consumed by the reference's
    downstream ``filter_fuzzy_duplicates`` by string id.

    ``source_file`` may be a literal string (the reference's model: one
    call per source file) or a Column for multi-source frames. ``idx_col``
    is the caller's stable per-source row index (the reference uses the
    HF dataset enumeration index; any deterministic integral key works —
    the id only has to be unique and reproducible).

    NULL-propagating by design (``concat``, not ``concat_ws``): a NULL
    index or source segment yields a NULL id rather than a silently
    TRUNCATED one — concat_ws skips null segments, and every such row
    would collide on the same shortened id, corrupting downstream
    keep-list joins with no error anywhere.
    """
    src = F.lit(source_file) if isinstance(source_file, str) else source_file
    return docs.withColumn(
        id_col,
        F.concat(
            F.lit(crawl), F.lit("/"), src, F.lit("/"),
            F.col(idx_col).cast("string"),
        ),
    )


def filter_fuzzy_duplicates(
    docs: DataFrame, keep: DataFrame, doc_id_col: str = "id"
) -> DataFrame:
    """Keep only non-duplicate documents: semi-join ``docs`` against a
    keep-list on the string id — the engine's version of the reference's
    filter_fuzzy_duplicates consumer (src/filter_duplicates.py), which
    walks duplicate-id JSONs row by row; here it is one (broadcast-able)
    semi-join that preserves every docs column."""
    keep_ids = keep.select(F.col("id").alias(doc_id_col))
    return docs.join(keep_ids, doc_id_col, "left_semi")


def export_rpv2_signatures(
    docs: DataFrame,
    id_col: str,
    text_col: str = "text",
    cfg=None,
    base: str = "md5",
    sim_level: str = "0.8",
    shard_id: str = "shard-0",
) -> DataFrame:
    """The WRITE side of the interop: our minhash banding packed into the
    reference's pre-banded parquet layout ``(shard_id, id, id_int,
    signature_sim{level}: list<binary>)`` (src/minhashlsh_partial.py:148)
    — element b of the list is band b's digest, band identity positional.
    A corpus exported here and read back through ``read_rpv2_signatures``
    -> ``rpv2_keep_ids`` yields the exact keep-set of running
    ``fuzzy_dedup_keep_ids`` directly (tested), so signatures can be
    computed once on this engine and deduplicated by either side.

    Digests are the band hash as 8 fixed bytes (big-endian via
    lpad(hex)); unsignable docs (null text) export a NULL signature —
    the reference's null-signature convention. One grouped sort-collect
    per doc; nothing leaves the executors.
    """
    from ..config import ORACLE_MINHASH
    from ..operators.minhash_lsh import minhash_bands

    if cfg is None:
        cfg = ORACLE_MINHASH
    bands = minhash_bands(docs, id_col, text_col, cfg, base)
    packed = bands.groupBy("id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("band_idx", "band_hash"))),
            lambda s: F.to_binary(
                F.lpad(F.hex(s["band_hash"]), 16, "0"), F.lit("hex")
            ),
        ).alias("signature")
    )
    ids = docs.select(F.col(id_col).alias("id"))
    # id_int: numeric companion of the string id (the reference ships
    # both). Integral ids cast directly; string ids (e.g. url-keyed
    # frames from read_wet) get a deterministic xxhash64 surrogate — a
    # NULL cast here would make every _cc_key NULL downstream and the
    # round-tripped keep-list silently EMPTY. Surrogate collisions
    # (~n^2/2^64) would merge two unrelated docs; at that risk level the
    # reference's own 64-bit ids carry the same exposure.
    dt = dict(ids.dtypes)["id"]
    if dt in ("tinyint", "smallint", "int", "bigint"):
        id_int = F.col("id").cast("long")
    else:
        id_int = F.xxhash64(F.col("id").cast("string"))
    return ids.join(packed, "id", "left").select(
        F.lit(shard_id).alias("shard_id"),
        F.col("id").cast("string").alias("id"),
        id_int.alias("id_int"),
        F.col("signature").alias(f"signature_sim{sim_level}"),
    )
