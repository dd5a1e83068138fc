"""Token-window document chunking — training-sequence preparation.

LLM training consumes fixed-length token sequences; long documents are
split into overlapping windows before packing (the GPT/T5 data-prep
convention). Relational formulation: stage the token array once,
posexplode a chunk-index sequence, slice — one narrow projection chain,
no shuffle, no Python.

Window contract: chunk ``i`` covers tokens ``[i*stride, i*stride +
max_tokens)`` with ``stride = max_tokens - overlap``; the number of
chunks is ``ceil(max(n - overlap, 1) / stride)`` (integer arithmetic —
engine-exact), so every token is covered, consecutive chunks share
``overlap`` tokens, and no trailing window is fully contained in the
previous one. Docs with no tokens emit no chunks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .text import tokens


def chunk_documents(
    docs: DataFrame,
    id_col: str,
    text_col: str = "text",
    max_tokens: int = 64,
    overlap: int = 8,
) -> DataFrame:
    """DF(id, chunk_idx, n_tokens, chunk_text): fixed token windows per
    document (see module docstring for the window contract)."""
    if not 0 <= overlap < max_tokens:
        raise ValueError("need 0 <= overlap < max_tokens")
    stride = max_tokens - overlap
    base = docs.select(
        F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("_t")
    ).where(F.size("_t") > 0)
    # integer ceil over a floored-positive numerator (`div` keeps the
    # arithmetic bigint-exact; `/` would be double division)
    n_chunks = F.expr(
        f"(greatest(size(_t) - {overlap}, 1) + {stride - 1}) div {stride}"
    )
    staged = base.select(
        "id", "_t",
        F.explode(F.sequence(F.lit(1), n_chunks)).alias("_i"),
    )
    chunk = F.slice("_t", F.col("_i") * stride - (stride - 1), max_tokens)
    return staged.select(
        "id",
        (F.col("_i") - 1).cast("long").alias("chunk_idx"),
        F.size(chunk).cast("long").alias("n_tokens"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )


def with_token_offsets(
    docs: DataFrame,
    id_col: str,
    text_col: str = "text",
    eod_tokens: int = 1,
    bucket_size: int = 1024,
) -> DataFrame:
    """DF(id, n_tokens, start_offset): each document's exclusive prefix
    sum of (n_tokens + eod_tokens) in ascending id order — the global
    token layout of the GPT data-prep convention (concatenate every doc
    with an end-of-document token, then split into fixed blocks;
    ``pack_blocks`` derives the block spans).

    Scale shape — a distributed THREE-level prefix scan, NO unbounded
    window anywhere (a single ``Window.orderBy(id)`` would funnel the
    whole corpus through one reducer):

    1. bucket docs by ``id div bucket_size`` (range buckets — numeric
       ids assumed, the engine's ``with_ids``/``fix_id`` contract), and
       buckets by ``_b div bucket_size`` into super-buckets;
    2. the ONLY global-order window runs over the per-SUPER-bucket sums:
       corpus / bucket_size^2 rows (~10^5 at 10^11 docs, ~10^6 at 10^12
       — raise ``bucket_size`` if even that binds), never the
       corpus / bucket_size per-bucket table the two-level scan pushed
       through one reducer;
    3. bucket offsets = super offset + intra-super running total
       (window PARTITIONED by super-bucket: <= bucket_size rows each);
       doc offsets = bucket offset + intra-bucket running total (window
       PARTITIONED by bucket: <= bucket_size rows each). The join of
       offsets back to docs is left to AQE — the offset frame is
       corpus/bucket_size rows, auto-broadcast while small and a plain
       key shuffle once it isn't (forcing broadcast would ship an
       unbounded frame to every executor at 100 TB).

    Deterministic, resumable (same ids -> same offsets), and
    oracle-checked against DuckDB's global window cumsum.
    """
    # null-text guard: size(tokens(NULL)) is NULL under ANSI and -1 on
    # non-ANSI deployments — both would corrupt the layout; pin null
    # docs to 0 tokens (they still carry their EOD token(s))
    n_tok = F.greatest(
        F.coalesce(F.size(tokens(F.col(text_col))), F.lit(0)), F.lit(0)
    )
    base = docs.select(
        F.col(id_col).alias("id"), n_tok.cast("long").alias("n_tokens")
    ).withColumn("_w", F.col("n_tokens") + eod_tokens)
    b = base.withColumn("_b", F.expr(f"id div {bucket_size}"))
    per_bucket = b.groupBy("_b").agg(F.sum("_w").alias("_bw")).withColumn(
        "_sb", F.expr(f"_b div {bucket_size}")
    )
    per_super = per_bucket.groupBy("_sb").agg(F.sum("_bw").alias("_sw"))
    w_super = Window.orderBy("_sb").rowsBetween(Window.unboundedPreceding, -1)
    super_off = per_super.withColumn(
        "_soff", F.coalesce(F.sum("_sw").over(w_super), F.lit(0))
    ).select("_sb", "_soff")
    w_bucket = (
        Window.partitionBy("_sb")
        .orderBy("_b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        per_bucket.join(F.broadcast(super_off), "_sb")
        .withColumn(
            "_off",
            F.col("_soff") + F.coalesce(F.sum("_bw").over(w_bucket), F.lit(0)),
        )
        .select("_b", "_off")
    )
    w_intra = (
        Window.partitionBy("_b")
        .orderBy("id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        b.join(offsets, "_b")  # AQE: broadcast while small, key shuffle at scale
        .withColumn(
            "start_offset",
            (F.col("_off") + F.coalesce(F.sum("_w").over(w_intra), F.lit(0))
             ).cast("long"),
        )
        .select("id", "n_tokens", "start_offset")
    )


def pack_blocks(
    docs: DataFrame,
    id_col: str,
    text_col: str = "text",
    block_tokens: int = 128,
    eod_tokens: int = 1,
    bucket_size: int = 1024,
) -> DataFrame:
    """DF(block_idx, id, block_start_offset): which training blocks each
    document's tokens land in after the concat-with-EOD layout — one row
    per (document, block) span. A document occupying global token range
    [s, s + n + eod) spans blocks s div B .. (s + n + eod - 1) div B;
    empty docs still carry their EOD token(s). The explode is bounded by
    ceil((n + eod)/B) + 1 rows per doc — linear in corpus tokens."""
    off = with_token_offsets(docs, id_col, text_col, eod_tokens, bucket_size)
    first = F.expr(f"start_offset div {block_tokens}")
    last = F.expr(
        f"(start_offset + n_tokens + {eod_tokens} - 1) div {block_tokens}"
    )
    # zero-width docs (possible only at eod_tokens=0) span no blocks:
    # without this guard F.sequence(first, last) with last < first emits
    # a DESCENDING phantom sequence (Spark defaults step to -1) where
    # the oracle's range() emits nothing
    off = off.where(F.col("n_tokens") + eod_tokens > 0)
    return (
        off.select(
            "id",
            F.explode(F.sequence(first, last)).alias("block_idx"),
        )
        .select(
            F.col("block_idx").cast("long").alias("block_idx"),
            "id",
            (F.col("block_idx") * block_tokens).cast("long").alias(
                "block_start_offset"
            ),
        )
    )


def shard_manifest(
    docs: DataFrame,
    id_col: str,
    text_col: str = "text",
    block_tokens: int = 128,
    eod_tokens: int = 1,
    blocks_per_shard: int = 64,
) -> DataFrame:
    """DF(shard_idx, n_blocks, n_docs, first_block, last_block): the
    training-shard accounting table (WebDataset/Megatron-style manifest)
    over the concat-with-EOD block layout — shard = ``blocks_per_shard``
    consecutive training blocks.

    One grouped aggregation over the pack_blocks frame (map-side
    combinable); the manifest is shards-sized. ``n_docs`` counts
    documents with at least one token in the shard (doc spans crossing a
    shard boundary count in every shard they touch — the consumer-side
    dedup key is (shard, doc))."""
    pb = pack_blocks(docs, id_col, text_col, block_tokens, eod_tokens)
    sh = pb.withColumn("shard_idx", F.expr(f"block_idx div {blocks_per_shard}"))
    return sh.groupBy("shard_idx").agg(
        F.count_distinct("block_idx").cast("long").alias("n_blocks"),
        F.count_distinct("id").cast("long").alias("n_docs"),
        F.min("block_idx").cast("long").alias("first_block"),
        F.max("block_idx").cast("long").alias("last_block"),
    )
