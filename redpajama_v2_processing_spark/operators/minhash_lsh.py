"""MinHash-LSH fuzzy deduplication — the band-bucket shuffle.

Reference flow (src/minhashlsh.py:87-193): one python process builds
``hash_tables[band][band_hash] -> id set`` in RAM, then union-finds the
buckets. Spark realization:

  shingles -> shingle hashes (JVM) -> signature (numpy, one mapInArrow
  per Arrow batch) -> band hashes (JVM)           (a narrow map, no shuffle)
  posexplode(bands) -> shuffle on (band_idx, band_hash)  ["band-bucket shuffle"]
  window-min per bucket -> star edges (id, bucket_min)
  connected components (large-star/small-star)
  keep = ids minus the drop-list (root != id)     (src/minhashlsh.py:140,169)

MinHash, RPv2 pre-banded, SimHash and embedding bands share the schema
DF(id, band_idx, band_hash[, payload]); `candidate_edges` is their one
star-edge builder (`salted_bucket_edges` is an alias kept for old callers:
its salt column split no bucket). Skew note: star edges are linear in
bucket size, but a hot (band_idx, band_hash) bucket is still one window
partition on one reducer.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType, StructField, StructType

from ..config import ORACLE_MINHASH
from ..functions.hashing import PERM_PRIME, md5int, perm_coeffs
from ..functions.text import tokens, normalize
from .connected_components import (
    _checkpoints, _free, connected_components, keep_min_id,
)


def with_shingles(
    docs: DataFrame, id_col: str, text_col: str = "text", n: int = 3
) -> DataFrame:
    """DF(id, _sh): staged shingle arrays.

    N-gram construction uses pyspark.ml.feature.NGram (Scala sliding-window
    over the token array, identical " "-joined output) instead of a
    ``transform(sequence, ...)`` lambda: Catalyst evaluates array lambdas
    interpreted, which made shingling the hottest op in the whole engine.
    Null text -> null shingles (doc unsignable, kept by dedup — mirrors the
    reference's null-signature guard, src/minhashlsh.py:112)."""
    from pyspark.ml.feature import NGram

    base = (
        docs.select(F.col(id_col).alias("id"), normalize(F.col(text_col)).alias("_norm"))
        .withColumn("_tok", tokens(F.col("_norm")))
        .withColumn("_tok_safe", F.coalesce("_tok", F.array().cast("array<string>")))
    )
    ng = NGram(n=n, inputCol="_tok_safe", outputCol="_ng").transform(base)
    norm_c, tok_c = F.col("_norm"), F.col("_tok_safe")
    sh = (
        F.when(norm_c.isNull(), F.lit(None).cast("array<string>"))
        .when(
            F.size(tok_c) < n,
            F.when(F.trim(norm_c) == "", F.array().cast("array<string>")).otherwise(
                F.array(norm_c)
            ),
        )
        .otherwise(F.array_distinct(F.col("_ng")))
    )
    return ng.select("id", sh.alias("_sh"))


def _signature_fn(coeffs: tuple[tuple[int, int], ...], prime: int):
    """The ``mapInArrow`` body: batches of (id, _h: array<bigint>) in,
    batches of (id, _sig: array<bigint>) out, one row per doc with a
    non-empty ``_h``. Self-contained (numpy and pyarrow are imported per
    call, nothing from this package is referenced), so executors unpickle
    it without importing the engine."""
    a_s = [a for a, _ in coeffs]
    b_s = [b for _, b in coeffs]

    def signatures(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        k = len(a_s)
        for batch in batches:
            h = batch.column(1)
            lens = pc.fill_null(pc.list_value_length(h), 0).to_numpy()
            keep = lens > 0
            n = int(keep.sum())
            if n == 0:
                continue
            # flatten() drops null lists' values; empty lists hold none
            vals = h.flatten().to_numpy().astype(np.uint64)
            starts = np.zeros(n, dtype=np.int64)
            np.cumsum(lens[keep][:-1], out=starts[1:])
            sig = np.empty((n, k), dtype=np.int64)
            for i in range(k):
                # a < 2^31 and h < 2^32: a*h + b < 2^64, exact in uint64
                v = (vals * np.uint64(a_s[i]) + np.uint64(b_s[i])) % np.uint64(prime)
                sig[:, i] = np.minimum.reduceat(v, starts)
            offsets = pa.array(np.arange(0, (n + 1) * k, k, dtype=np.int32))
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column(0).filter(pa.array(keep)),
                    pa.ListArray.from_arrays(offsets, pa.array(sig.ravel())),
                ],
                names=["id", "_sig"],
            )

    return signatures


def minhash_bands(
    docs: DataFrame,
    id_col: str,
    text_col: str = "text",
    cfg: dict = ORACLE_MINHASH,
    base: str = "md5",
) -> DataFrame:
    """DF(id, band_idx, band_hash) — one row per (doc, band).

    Three steps, no shuffle: the JVM hashes each shingle once
    (``transform`` over the staged shingle array), one ``mapInArrow``
    computes the k-permutation signature per doc with numpy (one Python
    call per Arrow batch), and the b band hashes are Spark expressions
    over the signature array. The bands are a narrow map into whatever
    shuffle consumes them. Docs with a null or empty shingle array have
    no signature and no bands. Executors need numpy and pyarrow.

    Every profile hashes the (variable-length) shingle string ONCE and
    derives the k permutations with the universal integer family
    (a_i*h32 + b_i mod P; hashing per permutation would cost k string
    hashes per shingle). ``base`` is the single portability knob:
    ``"md5"`` (default) uses the md5int base hash so the IDENTICAL
    arithmetic runs in the DuckDB oracle; ``"xxhash"`` uses JVM-native
    xxhash64 — the deployed profile, differing ONLY in that base hash
    (for the shingles and for the band hashes alike).

    Cost notes: taking the minima in Spark needs one row per (doc,
    shingle) with k permutation columns and a ``groupBy(id)`` of k ``min``
    aggregates. With k = 117 that aggregate is over
    ``spark.sql.codegen.maxFields``, runs interpreted (forcing codegen
    made it ~2x slower) and shuffles ~1 KB per doc. The numpy loop runs
    one permutation at a time, so its peak memory is O(shingles in the
    batch), never k × shingles.
    """
    if base not in ("md5", "xxhash"):
        raise ValueError(f"base must be 'md5' or 'xxhash', got {base!r}")
    k, b, r = cfg["num_perm"], cfg["bands"], cfg["rows"]
    base_h = F.xxhash64 if base == "xxhash" else md5int
    hashed = with_shingles(docs, id_col, text_col, cfg["shingle"]).select(
        "id", F.transform("_sh", lambda s: F.pmod(base_h(s), F.lit(1 << 32))).alias("_h")
    )
    sig_schema = StructType(
        [hashed.schema["id"], StructField("_sig", ArrayType(LongType(), False))]
    )
    sig = hashed.mapInArrow(_signature_fn(perm_coeffs(k), PERM_PRIME), sig_schema)

    def band_hash(bi: int):
        band = F.slice("_sig", bi * r + 1, r).cast("array<string>")
        return base_h(F.concat(F.lit(str(bi)), F.lit("#"), F.concat_ws("|", band)))

    bands = F.array(
        *[
            F.struct(F.lit(bi).alias("band_idx"), band_hash(bi).alias("band_hash"))
            for bi in range(b)
        ]
    )
    return sig.select("id", F.explode(bands).alias("_bh")).select(
        "id", F.col("_bh.band_idx"), F.col("_bh.band_hash")
    )


def lsh_buckets(bands_df: DataFrame) -> DataFrame:
    """DF(band_idx, band_hash, n_docs, min_id) for buckets with >=2 docs."""
    return (
        bands_df.groupBy("band_idx", "band_hash")
        .agg(F.count("*").alias("n_docs"), F.min("id").alias("min_id"))
        .where(F.col("n_docs") >= 2)
    )


def candidate_edges(
    bands_df: DataFrame,
    verify: Callable[[Column, Column], Column] | None = None,
) -> DataFrame:
    """Star edges (src=id, dst=bucket_min) per bucket, id != min.

    Linear in bucket size (vs the quadratic all-pairs a naive LSH join
    emits); connectivity within a bucket is preserved through its min.
    One shuffle (the band-bucket exchange); window-min avoids a join.
    ``verify(payload, min_payload)``, if given, must also hold, with
    ``min_payload = min_by(payload, id)`` over the same bucket window.
    """
    w = Window.partitionBy("band_idx", "band_hash")
    x = bands_df.withColumn("_min", F.min("id").over(w))
    keep = F.col("id") != F.col("_min")
    if verify is not None:
        x = x.withColumn("_min_payload", F.min_by("payload", "id").over(w))
        keep = keep & verify(F.col("payload"), F.col("_min_payload"))
    return (
        x.where(keep)
        .select(F.col("id").alias("src"), F.col("_min").alias("dst"))
        .distinct()
    )


def cap_bucket_width(bands_df: DataFrame, max_bucket: int | None) -> DataFrame:
    """Each bucket's ``max_bucket`` smallest ids (None: no cap) — bounds a
    bucket self-join at C(max_bucket, 2) pairs; an approximation."""
    if max_bucket is None:
        return bands_df
    w = Window.partitionBy("band_idx", "band_hash").orderBy("id")
    return (
        bands_df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= max_bucket)
        .drop("_rn")
    )


def salted_bucket_edges(bands_df: DataFrame, salt_buckets: int = 16) -> DataFrame:
    """:func:`candidate_edges` under the old salted builder's name."""
    return candidate_edges(bands_df)


def _fuzzy_cc(
    docs: DataFrame, id_col: str, text_col: str, cfg: dict, base: str,
    cc_driver_threshold: int | None,
) -> DataFrame:
    """DF(id, root): CC labels of the docs that have a near-duplicate."""
    bands = minhash_bands(docs, id_col, text_col, cfg, base)
    return connected_components(
        candidate_edges(bands), driver_threshold=cc_driver_threshold
    )


def fuzzy_dedup_labels(
    docs: DataFrame,
    id_col: str,
    text_col: str = "text",
    cfg: dict = ORACLE_MINHASH,
    base: str = "md5",
    cc_driver_threshold: int | None = None,
) -> DataFrame:
    """DF(id, root): component root per doc id (root==id for singletons)."""
    cc = _fuzzy_cc(docs, id_col, text_col, cfg, base, cc_driver_threshold)
    ids = docs.select(F.col(id_col).alias("id"))
    return ids.join(cc, "id", "left").select(
        "id", F.coalesce("root", F.col("id")).alias("root")
    )


def dedup_cluster_sizes(
    docs: DataFrame,
    id_col: str,
    text_col: str = "text",
    cfg: dict = ORACLE_MINHASH,
    base: str = "md5",
) -> DataFrame:
    """DF(cluster_size, n_clusters): near-dup component-size histogram
    (singletons included) — the dedup monitoring surface (how much mass
    sits in big boilerplate clusters vs pairs). Two grouped counts over
    the label frame; the histogram is tiny at any corpus size."""
    labels = fuzzy_dedup_labels(docs, id_col, text_col, cfg, base)
    sizes = labels.groupBy("root").agg(F.count("*").alias("cluster_size"))
    return sizes.groupBy("cluster_size").agg(
        F.count("*").cast("long").alias("n_clusters")
    )


def fuzzy_dedup_keep_ids(
    docs: DataFrame,
    id_col: str,
    text_col: str = "text",
    cfg: dict = ORACLE_MINHASH,
    base: str = "md5",
    salted: bool = False,
    cc_driver_threshold: int | None = None,
) -> DataFrame:
    """DF(id): the keep-list — one doc (the min id) per near-dup component,
    singletons included. Mirrors src/minhashlsh.py:169 (keep root==id)
    through :func:`keep_min_id`. ``salted`` is accepted and ignored: every
    edge build is :func:`candidate_edges`."""
    cc = _fuzzy_cc(docs, id_col, text_col, cfg, base, cc_driver_threshold)
    return keep_min_id(docs.select(F.col(id_col).alias("id")), cc)


def fuzzy_dedup_keep_best(
    docs: DataFrame,
    id_col: str,
    score: Column,
    text_col: str = "text",
    cfg: dict = ORACLE_MINHASH,
    base: str = "md5",
    cc_driver_threshold: int | None = None,
) -> DataFrame:
    """DF(id): one doc per near-dup component — the member with the
    HIGHEST ``score`` (a Column over ``docs``; ties to the smaller id),
    singletons included.

    The min-id rule (fuzzy_dedup_keep_ids, mirroring the reference
    src/minhashlsh.py:169) keeps an ARBITRARY cluster member — fine when
    members are interchangeable, wasteful when a near-dup cluster mixes
    truncated/paginated variants of the same page with the complete one
    (the common web case). Production pipelines keep the best member
    instead (FineWeb-style representative selection); the canonical
    score is document length — see queries.q_fuzzy_dedup_keep_longest.

    Scale shape: identical to fuzzy_dedup_keep_ids through the label
    frame (banded LSH + star CC); representative selection is ONE
    row_number window partitioned by component root — partitions are
    cluster widths (bounded by the same bucket caps that bound the edge
    set), never corpus-sized.

    The scored docs are left-joined straight to the CC labels (root
    defaults to the id after the join), not to
    :func:`fuzzy_dedup_labels`: without CBO its left join is sized at the
    product of the ids and the labels, so the planner would broadcast the
    corpus-wide scored side instead of the small labels.
    """
    cc = _fuzzy_cc(docs, id_col, text_col, cfg, base, cc_driver_threshold)
    scored = (
        docs.select(F.col(id_col).alias("id"), score.alias("_score"))
        .where(F.col("id").isNotNull())
        .join(cc, "id", "left")
        .select("id", "_score", F.coalesce("root", F.col("id")).alias("root"))
    )
    w = Window.partitionBy("root").orderBy(
        F.col("_score").desc(), F.col("id").asc()
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select("id")
    )


# ---------------------------------------------------------------------------
# Incremental (cross-crawl) fuzzy dedup
# ---------------------------------------------------------------------------
#
# The reference's cross-crawl mode (src/minhashlsh.py:237-268 loads every
# prior crawl's signatures next to the new one and re-clusters the union in
# one process) re-pays the full history each crawl. The engine-native
# incremental tier freezes history: the already-deduplicated corpus
# contributes only its distinct LSH band keys (an index table written once
# per crawl and reused — 2 integer columns, no text, no signatures), and a
# new crawl is deduplicated in two steps that never re-cluster history:
#
#   1. drop every new doc sharing a band key with history (near-dup of an
#      already-kept doc; the same banding recall curve as intra-corpus LSH)
#   2. cluster the survivors among themselves (star edges + CC) and keep
#      one doc per component — identical machinery to fuzzy_dedup_keep_ids
#
# Scale shape: the history index is keys-only and grows with the KEPT
# corpus, not the crawl stream; both probes are shuffles on (band_idx,
# band_hash) with partial aggregation; nothing corpus-sized reaches the
# driver. History-privileged keep order mirrors the reference's min-id
# rule (old crawls carry smaller ids, so the union-mode min-id winner IS
# the history doc).


def band_key_index(
    docs: DataFrame,
    id_col: str,
    text_col: str = "text",
    cfg: dict = ORACLE_MINHASH,
    base: str = "md5",
) -> DataFrame:
    """DF(band_idx, band_hash): the distinct LSH band keys of a corpus —
    the frozen-history index the incremental tier probes against. In
    production this is written as a table once per accepted crawl and
    unioned/compacted, never recomputed from text."""
    return (
        minhash_bands(docs, id_col, text_col, cfg, base)
        .select("band_idx", "band_hash")
        .distinct()
    )


def incremental_fuzzy_keep_ids(
    new_docs: DataFrame,
    history: DataFrame | None,
    id_col: str,
    text_col: str = "text",
    cfg: dict = ORACLE_MINHASH,
    base: str = "md5",
    history_bands: DataFrame | None = None,
    cc_driver_threshold: int | None = None,
) -> DataFrame:
    """DF(id): ids of ``new_docs`` kept after incremental fuzzy dedup
    against a frozen ``history`` corpus.

    A new doc is dropped iff (a) any of its band keys appears in the
    history band-key index, or (b) it loses the within-new clustering
    (same star-edge + connected-components keep rule as
    ``fuzzy_dedup_keep_ids``, run over the surviving docs' bands only).
    Unsignable docs (null text) have no bands, collide with nothing, and
    are kept — the family's null-signature guard.

    Pass ``history_bands`` (from :func:`band_key_index`, possibly read
    back from its table) to skip re-hashing history text.

    The returned plan reads the staged ``hit`` checkpoint (new ids that
    collide with history), so it is not freed here; the staged ``nb``
    bands feed only the edge build and are freed once CC has
    materialized. Only that checkpoint is freed: a cache of ``new_docs``
    that the ``nb`` job first fills stays the caller's.
    """
    if history_bands is None:
        if history is None:
            raise ValueError("need history or history_bands")
        history_bands = band_key_index(history, id_col, text_col, cfg, base)
    # nb feeds the hit probe AND the survivor frame; hit feeds the
    # survivor frame AND the keep ids. Catalyst does not share subplans,
    # so checkpoint both (nb's shingle+banding chain is the dominant cost)
    nb = minhash_bands(new_docs, id_col, text_col, cfg, base).localCheckpoint(
        eager=True
    )
    hit = (
        nb.join(history_bands, ["band_idx", "band_hash"], "left_semi")
        .select("id")
        .distinct()
        .localCheckpoint(eager=True)
    )
    surv_bands = nb.join(hit, "id", "left_anti")
    cc = connected_components(
        candidate_edges(surv_bands), driver_threshold=cc_driver_threshold
    )
    _free(_checkpoints(nb))
    ids = new_docs.select(F.col(id_col).alias("id")).join(hit, "id", "left_anti")
    return keep_min_id(ids, cc)
