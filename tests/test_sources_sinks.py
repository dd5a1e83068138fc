"""Sources and sinks: compression codecs, RPv2 signature interop, WET
parsing, sampling and shard accounting."""

from __future__ import annotations

import glob

from pyspark.sql import functions as F


def test_commit_compression_codec(spark, tmp_path, pages_small):
    from redpajama_v2_processing_spark.tableio import commit_table

    tdir = str(tmp_path / "zstd_table")
    commit_table(pages_small.select("url", "lang"), tdir, compression="zstd")
    from redpajama_v2_processing_spark.tableio import _live_data_dir

    files = glob.glob(f"{_live_data_dir(tdir)}/*zstd*.parquet")
    assert files


def test_rpv2_signature_interop_roundtrip(spark, tmp_path):
    """Pre-banded RPv2 signature parquet (reference schema,
    src/minhashlsh_partial.py:148): write a fixture with signature_sim0.8
    band lists, read one sim level, dedup over pre-banded signatures.
    Docs 1 and 2 share band 0; doc 3 is a singleton; doc 4 has a NULL
    signature (unsignable) and must survive."""
    from redpajama_v2_processing_spark.sources.rpv2 import (
        read_rpv2_signatures, rpv2_keep_ids,
    )

    rows = [
        ("s0", "a", 1, [b"band0-X", b"band1-A"]),
        ("s0", "b", 2, [b"band0-X", b"band1-B"]),
        ("s0", "c", 3, [b"band0-Y", b"band1-C"]),
        ("s0", "d", 4, None),
    ]
    df = spark.createDataFrame(
        rows,
        "shard_id string, id string, id_int long, signature_sim08 array<binary>",
    ).withColumnRenamed("signature_sim08", "signature_sim0.8")
    src = str(tmp_path / "rpv2_sigs")
    df.write.parquet(src)

    sigs = read_rpv2_signatures(spark, src, "0.8")
    assert sigs.columns == ["id", "id_int", "signature"]
    kept = rpv2_keep_ids(sigs).collect()
    # keep-list carries the reference's STRING join key plus numeric id_int
    assert sorted(r.id for r in kept) == ["a", "c", "d"]
    assert sorted(r.id_int for r in kept) == [1, 3, 4]

    # filter_fuzzy_duplicates: semi-join a docs frame on the string id
    from redpajama_v2_processing_spark.sources.rpv2 import filter_fuzzy_duplicates

    docs = spark.createDataFrame(
        [("a", "t1"), ("b", "t2"), ("c", "t3"), ("d", "t4")], "id string, text string"
    )
    surv = filter_fuzzy_duplicates(docs, rpv2_keep_ids(sigs))
    assert sorted(r.id for r in surv.collect()) == ["a", "c", "d"]
    assert surv.columns == ["id", "text"]


def test_export_keep_list_jsonl_reference_format(spark, tmp_path):
    """The exported keep-list must be consumable by the reference's
    downstream stack: gzip JSONL, each line exactly {"id": "<string>"}
    (src/minhashlsh.py:176-188), and joining documents against the
    read-back list (the filter_fuzzy_duplicates consumer semantics)
    reproduces the keep-set exactly."""
    import glob
    import gzip
    import json

    from redpajama_v2_processing_spark.sources.rpv2 import (
        export_keep_list_jsonl, filter_fuzzy_duplicates,
    )

    keep = spark.createDataFrame(
        [("2023-06/0001/en_head.json.gz/0",), ("2023-06/0001/en_head.json.gz/7",)],
        "id string",
    )
    out = str(tmp_path / "fuzzy_dedup_ids")
    export_keep_list_jsonl(keep, out)

    lines = []
    for part in sorted(glob.glob(f"{out}/part-*.json.gz")):
        with gzip.open(part, "rt") as f:
            lines += [ln for ln in f.read().splitlines() if ln]
    objs = [json.loads(ln) for ln in lines]
    assert all(set(o) == {"id"} for o in objs)  # exactly the reference shape
    assert sorted(o["id"] for o in objs) == sorted(r.id for r in keep.collect())

    docs = spark.createDataFrame(
        [("2023-06/0001/en_head.json.gz/0", "a"),
         ("2023-06/0001/en_head.json.gz/1", "b"),
         ("2023-06/0001/en_head.json.gz/7", "c")],
        "id string, text string",
    )
    readback = spark.read.json(out)
    surv = filter_fuzzy_duplicates(docs, readback)
    assert sorted(r.text for r in surv.collect()) == ["a", "c"]


def test_fix_duplicate_ids_rewrites_malformed_published_ids(spark):
    """P8 shim (reference fix_id, src/filter_exact_duplicates.py:69-79):
    the published duplicates tables say '….json/N' where documents say
    '….json.gz/N'. The rewrite must repair head AND middle buckets and be
    a fixpoint on already-correct ids (unlike the reference's hardcoded
    byte-offset splice)."""
    from redpajama_v2_processing_spark.sources.rpv2 import fix_duplicate_ids

    dups = spark.createDataFrame(
        [
            ("2014-15/1839/de_head.json/0",),
            ("2014-15/1839/de_middle.json/32322",),
            ("2014-15/1839/en_head.json.gz/7",),  # already well-formed
        ],
        "doc_id string",
    )
    fixed = [r.doc_id for r in fix_duplicate_ids(dups).collect()]
    assert fixed == [
        "2014-15/1839/de_head.json.gz/0",
        "2014-15/1839/de_middle.json.gz/32322",
        "2014-15/1839/en_head.json.gz/7",
    ]
    # idempotent: a second application changes nothing
    twice = [r.doc_id for r in fix_duplicate_ids(fix_duplicate_ids(dups)).collect()]
    assert twice == fixed


def test_synthesize_rpv2_ids_composite_format(spark):
    """Write-side id synthesis ('{crawl}/{source_file}/{row_idx}',
    src/add_document_ids.py:64): literal and per-row source_file forms."""
    from pyspark.sql import functions as F

    from redpajama_v2_processing_spark.sources.rpv2 import synthesize_rpv2_ids

    docs = spark.createDataFrame([(0, "a"), (1, "b")], "idx long, text string")
    lit = synthesize_rpv2_ids(docs, "2023-06", "0001/en_head.json.gz", "idx")
    assert sorted(r.id for r in lit.collect()) == [
        "2023-06/0001/en_head.json.gz/0",
        "2023-06/0001/en_head.json.gz/1",
    ]
    col = synthesize_rpv2_ids(
        docs, "2023-06",
        F.concat(F.col("idx").cast("string"), F.lit("/en_head.json.gz")),
        "idx",
    )
    assert sorted(r.id for r in col.collect()) == [
        "2023-06/0/en_head.json.gz/0",
        "2023-06/1/en_head.json.gz/1",
    ]

    # NULL index -> NULL id (never a silently truncated, colliding id)
    nulls = spark.createDataFrame(
        [(None, "a"), (7, "b")], "idx long, text string"
    )
    got = {
        r.text: r.id
        for r in synthesize_rpv2_ids(
            nulls, "2023-06", "0001/en_head.json.gz", "idx"
        ).collect()
    }
    assert got["a"] is None
    assert got["b"] == "2023-06/0001/en_head.json.gz/7"


def test_rpv2_uint64_id_int_interop(spark, tmp_path):
    """The reference writes id_int as parquet uint64
    (src/minhashlsh_partial.py:148); Spark surfaces that as decimal(20,0).
    Ids >= 2^63 must survive dedup without overflow, with the keep rule
    (component MIN id_int) and the original values preserved exactly."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from redpajama_v2_processing_spark.sources.rpv2 import (
        read_rpv2_signatures, rpv2_keep_ids,
    )

    lo, hi1, hi2, top = 5, 2**63 + 2, 2**63 + 10, 2**64 - 1
    table = pa.table(
        {
            "shard_id": pa.array(["s0"] * 4, pa.string()),
            "id": pa.array(["a", "b", "c", "d"], pa.string()),
            "id_int": pa.array([lo, hi2, hi1, top], pa.uint64()),
            "signature_sim0.8": pa.array(
                # b and c share band 0 -> one cluster; a and d singletons
                [[b"bandA"], [b"bandX"], [b"bandX"], [b"bandZ"]],
                pa.list_(pa.binary()),
            ),
        }
    )
    src = str(tmp_path / "rpv2_u64")
    pq.write_table(table, src + ".parquet")

    sigs = read_rpv2_signatures(spark, src + ".parquet", "0.8")
    assert dict(sigs.dtypes)["id_int"] == "decimal(20,0)"  # the uint64 surface
    kept = rpv2_keep_ids(sigs).collect()
    # cluster {b: 2^63+10, c: 2^63+2} keeps c (min id_int ABOVE 2^63 —
    # exactly where a naive bigint cast corrupts the ordering or throws)
    assert sorted(r.id for r in kept) == ["a", "c", "d"]
    assert sorted(int(r.id_int) for r in kept) == [lo, hi1, top]


def test_lang_ratio_downsample_deterministic_and_ratioed(spark):
    from redpajama_v2_processing_spark.operators.sampling import (
        lang_ratio_downsample,
    )

    df = spark.range(20000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, "en").otherwise("xx").alias("lang"),
    )
    out = lang_ratio_downsample(df, ratios={"en": 0.25}, default_ratio=1.0)
    counts = {r.lang: r.n for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert counts["xx"] == 10000  # default ratio 1.0 passes everything
    assert abs(counts["en"] / 10000 - 0.25) < 0.02  # ~25% of en rows kept
    # determinism: identical keep-set on re-run
    a = sorted(r.doc_id for r in out.collect())
    b = sorted(r.doc_id for r in lang_ratio_downsample(df, ratios={"en": 0.25}, default_ratio=1.0).collect())
    assert a == b


def test_shard_manifest_covers_packed_blocks(spark):
    """Each manifest shard is a contiguous run of at most 64 packed blocks
    inside its own block range, and the shards cover every block
    ``pack_blocks`` emits exactly once."""
    from redpajama_v2_processing_spark.functions.chunking import (
        pack_blocks, shard_manifest,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    manifest = shard_manifest(docs, "doc_id", blocks_per_shard=64).collect()
    assert manifest
    for m in manifest:
        assert m.first_block >= m.shard_idx * 64
        assert m.last_block < (m.shard_idx + 1) * 64
        assert m.n_blocks == m.last_block - m.first_block + 1
        assert m.n_docs >= 1
    blocks = pack_blocks(docs, "doc_id").select("block_idx").distinct().count()
    assert sum(m.n_blocks for m in manifest) == blocks


def test_wet_roundtrip_plain_gzip_and_torn(spark, tmp_path):
    """synth_wet_bytes -> read_wet recovers every conversion record
    (warcinfo skipped) from plain AND gzip'd files; a torn trailing
    record is skipped, not fatal."""
    from redpajama_v2_processing_spark.sources.warc import (
        parse_warc_records, read_wet, synth_wet_bytes,
    )

    recs = [
        ("https://a.example/1", "2024-01-01T00:00:00Z", "hello world one"),
        ("https://b.example/2", "2024-01-02T12:30:00Z", "unicode ü text"),
        ("https://c.example/3", "2024-01-03T23:59:59Z", "third body"),
    ]
    raw = synth_wet_bytes(recs)
    (tmp_path / "wet").mkdir()
    (tmp_path / "wet" / "a.warc.wet").write_bytes(raw)
    (tmp_path / "wet" / "b.warc.wet.gz").write_bytes(
        synth_wet_bytes(recs[:1], compress=True)
    )

    df = read_wet(spark, str(tmp_path / "wet"))
    rows = sorted(
        ((r.url, str(r.warc_ts), r.text) for r in df.collect())
    )
    assert len(rows) == 4  # 3 plain + 1 gz; warcinfo records skipped
    assert rows[0] == ("https://a.example/1", "2024-01-01 00:00:00", "hello world one")
    assert rows[1] == ("https://a.example/1", "2024-01-01 00:00:00", "hello world one")
    assert rows[2][2] == "unicode ü text"

    # torn trailing payload: earlier records survive, the cut one drops
    torn = raw[:-20]
    got = parse_warc_records(torn, want_types=("conversion",))
    assert [g[0] for g in got] == ["https://a.example/1", "https://b.example/2"]


def test_wet_to_pipeline_seam(spark, tmp_path):
    """From-crawl path: WET bytes -> read_wet -> label_documents ->
    exact dedup — the full ingest seam with no intermediate format."""
    from redpajama_v2_processing_spark.operators.exact_dedup import exact_keep_ids
    from redpajama_v2_processing_spark.plans.pipeline import label_documents
    from redpajama_v2_processing_spark.sources.warc import (
        read_wet, synth_wet_bytes,
    )

    body = "the quick brown fox jumps over the lazy dog " * 8
    recs = [
        ("https://x.example/a", "2024-02-01T00:00:00Z", body),
        ("https://x.example/b", "2024-02-01T01:00:00Z", body),  # exact dup
        ("https://x.example/c", "2024-02-01T02:00:00Z", "短い"),
    ]
    (tmp_path / "crawl").mkdir()
    (tmp_path / "crawl" / "f.warc.wet").write_bytes(synth_wet_bytes(recs))

    pages = read_wet(spark, str(tmp_path / "crawl"))
    labeled = label_documents(pages, id_col="url")
    rows = {r.url: r for r in labeled.collect()}
    assert len(rows) == 3 and all(r.drop_reason is not None for r in rows.values())
    kept = sorted(r.url for r in exact_keep_ids(pages, "url").collect())
    assert kept == ["https://x.example/a", "https://x.example/c"]


def test_warc_negative_length_terminates():
    """A corrupt negative Content-Length must be skipped, never loop the
    scan position backward (the infinite-parse guard)."""
    from redpajama_v2_processing_spark.sources.warc import (
        parse_warc_records, synth_wet_bytes,
    )

    good = synth_wet_bytes([("https://ok/1", "2024-01-01T00:00:00Z", "fine")])
    corrupt = (
        b"WARC/1.0\r\nWARC-Type: conversion\r\n"
        b"WARC-Target-URI: https://bad/x\r\nContent-Length: -200\r\n\r\n"
    )
    got = parse_warc_records(corrupt + good, want_types=("conversion",))
    assert [g[0] for g in got] == ["https://ok/1"]


def test_rpv2_export_string_ids_surrogate(spark, tmp_path):
    """String-keyed corpora (e.g. url ids from read_wet) export a
    deterministic xxhash64 id_int surrogate instead of a NULL cast that
    would round-trip to an EMPTY keep-list; the keep-set keeps exactly
    one member per duplicate component."""
    from redpajama_v2_processing_spark.sources.rpv2 import (
        export_rpv2_signatures, read_rpv2_signatures, rpv2_keep_ids,
    )

    base = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12"
    docs = spark.createDataFrame(
        [("https://u/a", base), ("https://u/b", base + " extra1"),
         ("https://u/c", "totally different page body here")],
        "url string, text string",
    )
    out = str(tmp_path / "sigs_str")
    export_rpv2_signatures(docs, "url").write.parquet(out)
    kept = sorted(
        r.id for r in rpv2_keep_ids(read_rpv2_signatures(spark, out)).collect()
    )
    # a~b form one near-dup component (one survivor), c is a singleton
    assert len(kept) == 2
    assert "https://u/c" in kept
    assert len([k for k in kept if k in ("https://u/a", "https://u/b")]) == 1
