"""Structured-Streaming ingest: the same stage functions as the batch
pipeline, applied to a file stream of pages.

The reference is pure batch (SURVEY.md §2.10); this is the optional
streaming-append variant sketched there: new page files appear under a
directory (or Iceberg appends), each micro-batch is labeled/scrubbed with
the identical narrow expressions, so streaming and batch labels are
byte-identical (tested). Windowed per-lang rates use event-time windows +
watermark for late data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..fixtures import PAGES_SCHEMA
from ..plans.pipeline import label_documents


def read_pages_stream(spark: SparkSession, input_dir: str) -> DataFrame:
    return spark.readStream.schema(PAGES_SCHEMA).parquet(input_dir)


def _start_parquet_sink(df: DataFrame, output_dir: str, checkpoint_dir: str,
                        available_now: bool) -> StreamingQuery:
    """Start ``df`` appending to a checkpointed parquet file sink (exactly
    once). ``available_now=True`` drains what exists and stops
    (test/backfill mode); False runs continuously."""
    writer = (
        df.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_labels(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
) -> StreamingQuery:
    """Label every arriving page; exactly-once via checkpointed file sink
    (see ``_start_parquet_sink`` for ``available_now``)."""
    pages = read_pages_stream(spark, input_dir)
    labeled = label_documents(pages, id_col="url", text_col="text")
    return _start_parquet_sink(labeled, output_dir, checkpoint_dir, available_now)


def stream_exact_dedup(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    watermark: str = "24 hours",
    available_now: bool = True,
) -> StreamingQuery:
    """Streaming exact dedup: emit each content fingerprint's FIRST page
    only, with bounded state.

    ``dropDuplicatesWithinWatermark`` on the content fingerprint keeps one
    row per fingerprint and — unlike plain dropDuplicates, whose state
    grows forever — evicts a fingerprint's state once the event-time
    watermark passes its last sighting + the watermark delay: the standard
    streaming analog of the batch exact-dedup keep rule (duplicates of a
    page recrawled within the watermark horizon are dropped; a recrawl
    after the horizon is treated as new — the bounded-state trade-off,
    stated rather than hidden).
    """
    from ..functions.text import fingerprint_hex

    pages = read_pages_stream(spark, input_dir)
    deduped = (
        pages.withColumn("fingerprint", fingerprint_hex(F.col("text")))
        .withWatermark("warc_ts", watermark)
        .dropDuplicatesWithinWatermark(["fingerprint"])
    )
    return _start_parquet_sink(deduped, output_dir, checkpoint_dir, available_now)


def stream_simhash_dedup(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    bits: int = 60,
    watermark: str = "24 hours",
    available_now: bool = True,
) -> StreamingQuery:
    """Streaming NEAR-dup dedup at the signature tier: emit each 60-bit
    SimHash value's FIRST page only, bounded state via
    ``dropDuplicatesWithinWatermark``.

    Near-identical template pages (boilerplate variants, trivial
    re-edits) collapse to the same SimHash with high probability, so this
    catches the near-dup mass a streaming pipeline can handle without
    cross-key coordination. The trade-off is stated, not hidden: docs at
    Hamming distance 1..k need the batch band-bucket + CC pass
    (simhash_dedup_keep) — streaming connected components across band
    keys has no bounded-state formulation, so production runs this as the
    ingest-time first pass and the batch keep-list as the periodic
    compaction."""
    from ..operators.simhash_dedup import simhash_from_hashes, token_hash_array

    pages = read_pages_stream(spark, input_dir)
    sh = (
        pages.withColumn("_hv", token_hash_array(F.col("text")))
        .withColumn("simhash", simhash_from_hashes(F.col("_hv"), bits))
        .drop("_hv")
    )
    deduped = (
        sh.withWatermark("warc_ts", watermark)
        .dropDuplicatesWithinWatermark(["simhash"])
    )
    return _start_parquet_sink(deduped, output_dir, checkpoint_dir, available_now)


def stream_lang_rates(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    window: str = "1 hour",
    watermark: str = "2 hours",
    available_now: bool = True,
) -> StreamingQuery:
    """Event-time windowed ingest rates per lang with late-data watermark:
    append-mode windowed aggregation (state is dropped once the watermark
    passes the window end)."""
    pages = read_pages_stream(spark, input_dir)
    agg = (
        pages.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("w"), "lang")
        .agg(F.count("*").alias("n_pages"))
        .select(F.col("w.start").alias("window_start"), "lang", "n_pages")
    )
    return _start_parquet_sink(agg, output_dir, checkpoint_dir, available_now)


def stream_url_dedup(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    watermark: str = "24 hours",
    available_now: bool = True,
) -> StreamingQuery:
    """Streaming URL-level dedup: emit each CANONICAL url's first page
    only, with watermark-bounded state — the streaming twin of the batch
    ``functions/url.url_dedup_keep`` pre-content tier.

    Recrawl variants of one resource (case, www, default ports, tracking
    params, fragments — see functions/url.py) collapse to one canonical
    key; ``dropDuplicatesWithinWatermark`` keeps one row per key and
    evicts key state past the event-time horizon, exactly like
    ``stream_exact_dedup`` does for content fingerprints. URL dedup runs
    FIRST in a real ingest (cheapest key, no content inspection), so the
    content tiers downstream see each resource once per horizon."""
    from ..functions.url import canonicalize_url

    pages = read_pages_stream(spark, input_dir)
    deduped = (
        pages.withColumn("_curl", canonicalize_url(F.col("url")))
        .withWatermark("warc_ts", watermark)
        .dropDuplicatesWithinWatermark(["_curl"])
        .drop("_curl")
    )
    return _start_parquet_sink(deduped, output_dir, checkpoint_dir, available_now)


def stream_incremental_dedup(
    spark: SparkSession,
    input_dir: str,
    history_keys: DataFrame,
    output_dir: str,
    checkpoint_dir: str,
    watermark: str = "24 hours",
    available_now: bool = True,
) -> StreamingQuery:
    """Streaming incremental dedup against a FROZEN history corpus — the
    ingest-time tier of the batch cross-crawl operators
    (operators/exact_dedup.incremental_exact_keep).

    ``history_keys`` is a static one-column DF(fingerprint) of the
    accepted corpus's content fingerprints — the SAME bigint
    ``fingerprint_int`` the batch tier indexes, so one history table
    serves both (a type mismatch would null-cast and silently disable
    every history drop; keeping the key type shared prevents it). Two
    stages per micro-batch:

    * stream-static ``left_anti`` join — pages whose fingerprint exists
      in history never leave the batch. Stateless: the static side is
      planned once per micro-batch (broadcast or shuffled by AQE), no
      streaming state accrues for it.
    * within-stream ``dropDuplicatesWithinWatermark`` on the
      fingerprint — first sighting wins, key state evicted past the
      event-time horizon (same bounded-state contract as
      ``stream_exact_dedup``). "First" is PROCESSING order: for copies
      landing in the same micro-batch the survivor is
      task-schedule-dependent (the batch twin
      ``incremental_exact_keep`` is the deterministic min-id rule).

    The same shape works at the signature tier (simhash values or LSH
    band keys as ``history_keys``) for streaming NEAR-dup probes; the
    batch star-edge + CC pass remains the periodic compaction, as
    documented on ``stream_simhash_dedup``.
    """
    from ..functions.text import fingerprint_int

    hist = history_keys.toDF("fingerprint").distinct()
    if dict(hist.dtypes)["fingerprint"] != "bigint":
        raise TypeError(
            "history_keys must carry bigint fingerprint_int values "
            f"(got {dict(hist.dtypes)['fingerprint']}) — a mismatched type "
            "would null-cast in the join and silently drop nothing"
        )
    pages = read_pages_stream(spark, input_dir)
    deduped = (
        pages.withColumn("fingerprint", fingerprint_int(F.col("text")))
        .join(hist, "fingerprint", "left_anti")
        .withWatermark("warc_ts", watermark)
        .dropDuplicatesWithinWatermark(["fingerprint"])
    )
    return _start_parquet_sink(deduped, output_dir, checkpoint_dir, available_now)


def stream_wet_ingest(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
) -> StreamingQuery:
    """Streaming raw-crawl ingest: WET/WARC files LANDING in a directory
    are parsed to (url, warc_ts, text) rows exactly-once — the streaming
    twin of ``sources.warc.read_wet`` (same Arrow ``_wet_decode``, so
    batch and stream produce byte-identical text per url).

    ``binaryFile`` is a file-based streaming source: each micro-batch is
    the set of files that appeared since the last checkpointed offset,
    one file = one task (the Common Crawl delivery model — a crawl's
    ~90k WET shards land over days; the checkpoint makes redelivery and
    restarts exactly-once at file granularity). The parse is stateless
    Arrow ``mapInPandas``; no streaming state accrues — downstream dedup
    tiers (``stream_exact_dedup`` etc.) own the stateful stages.
    """
    from ..sources.warc import WET_SCHEMA, _wet_decode

    # streaming sources need an explicit schema: this is binaryFile's
    # fixed four-column surface
    files = (
        spark.readStream.format("binaryFile")
        .schema(
            "path string, modificationTime timestamp, "
            "length long, content binary"
        )
        .load(input_dir)
        .select("content")
    )
    parsed = files.mapInPandas(_wet_decode, WET_SCHEMA)
    return _start_parquet_sink(parsed, output_dir, checkpoint_dir, available_now)
