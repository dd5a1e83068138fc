"""Staged pipeline: commit/resume/lineage; streaming == batch labels;
CLI; multimodal plumbing; fixtures determinism."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from redpajama_v2_processing_spark.fixtures import generate_pages_pdf, write_pages
from redpajama_v2_processing_spark.plans.pipeline import full_pipeline, label_documents
from redpajama_v2_processing_spark.sources.pages import pages_stages, read_pages
from redpajama_v2_processing_spark.tableio import (
    commit_table, read_snapshot, read_table, run_stages, table_committed,
)


def test_fixture_determinism_and_mix():
    a = generate_pages_pdf(150, seed=42)
    b = generate_pages_pdf(150, seed=42)
    assert a.equals(b)
    c = generate_pages_pdf(150, seed=43)
    assert not a["text"].equals(c["text"])
    # hot-host skew present
    hot = a["url"].str.contains("hot-portal").mean()
    assert 0.08 < hot < 0.45
    # exact duplicate pairs exist
    assert a["text"].duplicated().any()
    # multiple days of warc_ts
    assert a["warc_ts"].dt.date.nunique() >= 3


def test_commit_read_snapshot(spark, tmp_path, pages_small):
    tdir = str(tmp_path / "t1")
    snap = commit_table(pages_small, tdir, partition_by=("lang",),
                        derive_date_from="warc_ts")
    assert table_committed(tdir)
    assert snap["rows"] == pages_small.count()
    assert sum(snap["partitions"].values()) == snap["rows"]
    back = read_table(spark, tdir)
    assert back.count() == pages_small.count()
    assert "date" in back.columns  # hidden partition column surfaced
    # partition pruning works via directory layout
    one_lang = back.where(F.col("lang") == "en")
    assert one_lang.count() == pages_small.where(F.col("lang") == "en").count()


def test_run_stages_and_resume(spark, tmp_path):
    src_dir = str(tmp_path / "pages_in")
    write_pages(spark, src_dir, n_rows=120, seed=7, partitions=2)
    warehouse = str(tmp_path / "wh")
    stages = pages_stages()
    src = read_pages(spark, src_dir)

    out1, m1 = run_stages(spark, src, stages, warehouse, resume=True)
    rows1 = out1.count()
    assert rows1 > 0
    assert [m["stage"] for m in m1] == [s.name for s in stages]
    assert all(not m["skipped"] for m in m1)
    # rows_in chains from the previous stage's committed rows_out; only
    # the source is counted
    assert m1[0]["rows_in"] == src.count()
    assert all(m1[i + 1]["rows_in"] == m1[i]["rows_out"]
               for i in range(len(m1) - 1))
    # monotone non-increasing row counts through the filter/dedup stages
    outs = [m["rows_out"] for m in m1]
    assert outs[1] == outs[0]  # labeling keeps all rows
    assert all(outs[i + 1] <= outs[i] for i in range(1, len(outs) - 1))

    # resume: all stages skip, same output
    out2, m2 = run_stages(spark, src, stages, warehouse, resume=True)
    assert all(m["skipped"] for m in m2)
    assert out2.count() == rows1

    # lineage/metrics file has one record per stage per run
    lines = (tmp_path / "wh" / "_metrics.jsonl").read_text().strip().splitlines()
    assert len(lines) == 2 * len(stages)
    assert json.loads(lines[0])["stage"] == "extract"

    # snapshot carries per-partition lineage
    snap = read_snapshot(str(tmp_path / "wh" / "extract"))
    assert sum(snap["partitions"].values()) == snap["rows"]


def test_committed_stages_match_full_pipeline(spark, tmp_path):
    """The committed CLI stages and the fused headline run the same stage
    list, so they keep exactly the same documents."""
    src_dir = str(tmp_path / "pages_in")
    write_pages(spark, src_dir, n_rows=120, seed=7, partitions=2)
    stages = pages_stages()
    staged, metrics = run_stages(spark, read_pages(spark, src_dir), stages,
                                 str(tmp_path / "wh"), resume=False)
    rows = {m["stage"]: m["rows_out"] for m in metrics}
    # both dedup stages remove documents on this fixture
    assert rows["exact_dedup"] < rows["quality"]
    assert rows["fuzzy_dedup"] < rows["exact_dedup"]

    docs = stages[0].fn(read_pages(spark, src_dir))
    fused = {r.id_int for r in full_pipeline(docs, "id_int").collect()}
    assert {r.id_int for r in staged.collect()} == fused
    assert len(fused) == rows["fuzzy_dedup"]


def test_streaming_labels_equal_batch(spark, tmp_path):
    src_dir = str(tmp_path / "pages_stream")
    write_pages(spark, src_dir, n_rows=80, seed=11, partitions=3)
    from redpajama_v2_processing_spark.streaming.ingest import stream_labels

    out_dir = str(tmp_path / "stream_out")
    q = stream_labels(spark, src_dir, out_dir, str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    batch = label_documents(read_pages(spark, src_dir), id_col="url").select(
        "url", "keep", "drop_reason", "scrubbed_text"
    )
    stream = spark.read.parquet(out_dir).select(
        "url", "keep", "drop_reason", "scrubbed_text"
    )
    assert stream.count() == batch.count()
    assert stream.exceptAll(batch).count() == 0
    assert batch.exceptAll(stream).count() == 0


def test_real_image_decode_roundtrip(spark):
    """parse_image_meta must recover the exact dimensions from REAL
    minimal PNG/GIF/JPEG files (built with stdlib struct/zlib), reject
    corrupt bytes, and survive the Arrow mapInPandas path."""
    from redpajama_v2_processing_spark.operators.multimodal import (
        decode_image_meta, parse_image_meta, synth_image_bytes,
    )

    for kind, w, h in (("png", 63, 48), ("gif", 1, 1), ("jpeg", 640, 480)):
        raw = synth_image_bytes(kind, w, h)
        assert parse_image_meta(raw) == (kind, w, h, True)
    # PNG magic holds; zlib/PIL-free parser must still reject torn bytes
    assert parse_image_meta(b"\x89PNG\r\n\x1a\nXXXX")[3] is False
    assert parse_image_meta(b"random garbage") == ("unknown", -1, -1, False)

    rows = [
        (0, synth_image_bytes("png", 10, 20)),
        (1, synth_image_bytes("gif", 30, 40)),
        (2, synth_image_bytes("jpeg", 50, 60)),
        (3, b"not an image"),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = {r.id: (r.kind, r.width, r.height, r.ok)
           for r in decode_image_meta(df, "doc_id", "payload").collect()}
    assert out[0] == ("png", 10, 20, True)
    assert out[1] == ("gif", 30, 40, True)
    assert out[2] == ("jpeg", 50, 60, True)
    assert out[3] == ("unknown", -1, -1, False)
    assert out[4][3] is False


def test_jpeg_marker_walk_edge_cases():
    """Real-world JPEG streams the SOFn walk must survive: 0xFF fill
    bytes padding a marker, standalone TEM/RSTn markers (no length
    segment), and a SOF segment that ends the stream."""
    import struct

    from redpajama_v2_processing_spark.operators.multimodal import (
        parse_image_meta,
    )

    sof0 = struct.pack(">BHHB", 8, 77, 55, 1) + b"\x01\x11\x00"
    sof_seg = b"\xff\xc0" + struct.pack(">H", len(sof0) + 2) + sof0
    # fill bytes before the SOF marker id
    assert parse_image_meta(b"\xff\xd8" + b"\xff\xff\xff" + sof_seg + b"\xff\xd9") \
        == ("jpeg", 55, 77, True)
    # standalone TEM and RST markers before SOF
    assert parse_image_meta(b"\xff\xd8" + b"\xff\x01" + b"\xff\xd3" + sof_seg) \
        == ("jpeg", 55, 77, True)
    # SOF segment is the final bytes of the stream (no EOI)
    assert parse_image_meta(b"\xff\xd8" + sof_seg) == ("jpeg", 55, 77, True)
    # truncated SOF payload -> rejected, not mis-parsed
    assert parse_image_meta(b"\xff\xd8" + sof_seg[:6])[3] is False


def test_multimodal_plumbing(spark):
    from redpajama_v2_processing_spark.operators.multimodal import (
        decode_media_meta, make_fake_payload,
    )

    df = spark.range(6).select(
        F.col("id"),
        make_fake_payload(
            F.when(F.col("id") % 2 == 0, "image").otherwise("video"),
            F.lit(320), (F.col("id") * 10 + 5).cast("int"), F.lit("body"),
        ).alias("payload"),
    )
    meta = decode_media_meta(df, "id", "payload").collect()
    assert len(meta) == 6 and all(m.ok for m in meta)
    assert {m.kind for m in meta} == {"image", "video"}
    # header dims round-trip: id=1 -> a 320x15 video
    assert {m.id: (m.kind, m.width, m.height) for m in meta}[1] == ("video", 320, 15)


def test_cli_generate_and_run(tmp_path, spark):
    from redpajama_v2_processing_spark import cli

    src = str(tmp_path / "cli_pages")
    assert cli.main(["generate", "--out", src, "--rows", "50", "--seed", "3"]) == 0
    wh = str(tmp_path / "cli_wh")
    assert cli.main(["run", "--input", src, "--warehouse", wh,
                     "--stages", "extract,label,quality"]) == 0
    assert table_committed(f"{wh}/quality")
    # maintenance entry: compact the committed stage table in place
    assert cli.main(["compact", "--table", f"{wh}/quality",
                     "--rows-per-file", "100000"]) == 0
    from redpajama_v2_processing_spark.tableio import read_snapshot
    assert read_snapshot(f"{wh}/quality")["version"] == 2


def test_build_pyfiles(tmp_path):
    import sys
    sys.path.insert(0, "/root/repo/tools")
    from build_pyfiles import build

    out = build(tmp_path / "pkg.zip")
    import zipfile

    names = zipfile.ZipFile(out).namelist()
    assert "redpajama_v2_processing_spark/cli.py" in names
    assert any(n.endswith("operators/minhash_lsh.py") for n in names)


def test_commit_is_crash_safe_and_gcs_old_versions(spark, tmp_path, pages_small):
    """Versioned-commit contract: (1) a new commit supersedes the old
    version atomically and GCs it; (2) a crash mid-commit (new data dir
    written, snapshot NOT yet renamed) leaves the previous snapshot and
    its data readable — resume never observes a half-state."""
    import os

    tdir = str(tmp_path / "vtable")
    a = pages_small.select("url", "lang").limit(10)
    commit_table(a, tdir)
    snap1 = read_snapshot(tdir)
    assert read_table(spark, tdir).count() == 10

    b = pages_small.select("url", "lang").limit(25)
    commit_table(b, tdir)
    snap2 = read_snapshot(tdir)
    assert snap2["data_dir"] != snap1["data_dir"]
    assert read_table(spark, tdir).count() == 25
    # old version was garbage-collected
    assert not os.path.exists(os.path.join(tdir, snap1["data_dir"]))

    # simulate a crash: orphan data dir exists, snapshot still points at v2
    orphan = os.path.join(tdir, "data-deadbeef")
    os.makedirs(orphan)
    assert table_committed(tdir)
    assert read_snapshot(tdir)["data_dir"] == snap2["data_dir"]
    assert read_table(spark, tdir).count() == 25  # untouched by the orphan
    # next successful commit cleans the orphan up
    commit_table(a, tdir)
    assert not os.path.exists(orphan)
    assert read_table(spark, tdir).count() == 10


def test_history_torn_line_tolerated(spark, tmp_path, pages_small):
    """A crash mid-history-append leaves a torn (non-JSON) tail line. The
    log reader must skip it, later commits must still succeed, and the
    torn fragment must never merge with the next appended record."""
    import os

    tdir = str(tmp_path / "torn")
    commit_table(pages_small.select("url").limit(5), tdir, keep_versions=3)
    commit_table(pages_small.select("url").limit(7), tdir, keep_versions=3)
    from redpajama_v2_processing_spark.tableio import snapshot_history

    assert len(snapshot_history(tdir)) == 2
    # simulate the torn append: half a JSON object, no trailing newline
    with open(os.path.join(tdir, "_history.jsonl"), "a") as f:
        f.write('{"version": 99, "rows":')
    assert len(snapshot_history(tdir)) == 2  # torn line skipped, no raise
    commit_table(pages_small.select("url").limit(9), tdir, keep_versions=3)
    hist = snapshot_history(tdir)
    assert [s["version"] for s in hist] == [1, 2, 3]  # fragment isolated
    assert read_table(spark, tdir, version=2).count() == 7  # time travel ok


def test_commit_reconciles_unlogged_snapshot(spark, tmp_path, pages_small):
    """A crash between the snapshot rename and the history append leaves a
    committed version missing from the log. The next commit must re-log it
    so keep_versions retention covers it (no silent time-travel loss)."""
    import os

    from redpajama_v2_processing_spark.tableio import snapshot_history

    tdir = str(tmp_path / "reconcile")
    commit_table(pages_small.select("url").limit(5), tdir, keep_versions=2)
    # simulate the crash: v1 committed but its history entry lost
    os.unlink(os.path.join(tdir, "_history.jsonl"))
    commit_table(pages_small.select("url").limit(7), tdir, keep_versions=2)
    hist = snapshot_history(tdir)
    assert [s["version"] for s in hist] == [1, 2]
    assert all(s["retained"] for s in hist)  # v1's data dir NOT GC'd
    assert read_table(spark, tdir, version=1).count() == 5


def test_run_stages_verifies_completeness(spark, tmp_path, pages_small):
    """run_stages must fail fast (CompletenessError) when a committed
    stage table no longer matches its snapshot, instead of propagating
    wrong counts downstream."""
    import glob
    import os

    import pytest as _pt

    from redpajama_v2_processing_spark.tableio import CompletenessError, Stage

    warehouse = str(tmp_path / "vwh")
    stages = [Stage("ident", lambda df: df, partition_by=("lang",))]
    run_stages(spark, pages_small.select("url", "lang"), stages, warehouse)

    # tamper: snapshot claims one more row than its partition counts sum to
    sp = os.path.join(warehouse, "ident", "_snapshot.json")
    snap = json.loads(open(sp).read())
    snap["rows"] += 1
    open(sp, "w").write(json.dumps(snap))
    with _pt.raises(CompletenessError):
        run_stages(spark, pages_small.select("url", "lang"), stages, warehouse)

    # restore, then lose a data file: only physical_recount catches that
    snap["rows"] -= 1
    open(sp, "w").write(json.dumps(snap))
    part = glob.glob(
        os.path.join(warehouse, "ident", snap["data_dir"], "**", "*.parquet"),
        recursive=True,
    )
    os.unlink(part[0])
    run_stages(spark, pages_small.select("url", "lang"), stages, warehouse)  # passes
    with _pt.raises(CompletenessError):
        run_stages(
            spark, pages_small.select("url", "lang"), stages, warehouse,
            physical_recount=True,
        )


def test_check_completeness(spark, tmp_path, pages_small):
    import pytest as _pt

    from redpajama_v2_processing_spark.tableio import (
        CompletenessError, check_completeness,
    )

    tdir = str(tmp_path / "ctable")
    commit_table(pages_small.select("url", "lang"), tdir, partition_by=("lang",))
    n = read_snapshot(tdir)["rows"]
    rep = check_completeness(tdir, spark, expected_rows=n, min_rows=1)
    assert set(rep["checks"]) == {"snapshot_exists", "partition_sum", "physical_recount"}
    with _pt.raises(CompletenessError):
        check_completeness(tdir, expected_rows=n + 1)
    with _pt.raises(CompletenessError):
        check_completeness(str(tmp_path / "nope"))


def test_snapshot_history_and_time_travel(spark, tmp_path, pages_small):
    import pytest as _pt

    from redpajama_v2_processing_spark.tableio import snapshot_history

    tdir = str(tmp_path / "tt")
    for n in (5, 10, 15):
        commit_table(pages_small.select("url").limit(n), tdir, keep_versions=2)
    hist = snapshot_history(tdir)
    assert [s["version"] for s in hist] == [1, 2, 3]
    assert [s["rows"] for s in hist] == [5, 10, 15]
    assert [s["retained"] for s in hist] == [False, True, True]  # keep 2
    assert read_table(spark, tdir).count() == 15            # latest
    assert read_table(spark, tdir, version=2).count() == 10  # time travel
    with _pt.raises(ValueError):
        read_table(spark, tdir, version=1)   # GC'd
    with _pt.raises(ValueError):
        read_table(spark, tdir, version=9)   # never existed


def test_avi_frame_walk_roundtrip(spark):
    """parse_avi_frames must recover every frame payload exactly (incl.
    odd-sized frames with pad bytes), report the declared header dims,
    reject garbage, and survive the Arrow cardinality change (one video
    row -> many frame rows) with correct sampled sums."""
    from redpajama_v2_processing_spark.operators.multimodal import (
        decode_video_frames, parse_avi_frames, synth_avi_bytes,
        with_synth_videos,
    )

    raw = synth_avi_bytes(5, 3, 7)  # 15-byte frames: odd -> pad bytes used
    dec = parse_avi_frames(raw)
    assert dec is not None
    w, h, n, frames = dec
    assert (w, h, n) == (5, 3, 7) and len(frames) == 7
    for f, payload in enumerate(frames):
        assert list(payload) == [(f * 31 + j) % 256 for j in range(15)]
    assert parse_avi_frames(b"RIFFxxxxWAVE") is None
    assert parse_avi_frames(raw[: len(raw) - 3]) is None  # torn frame

    vids = with_synth_videos(
        spark.createDataFrame([(1,), (7,)], "doc_id long"), "doc_id"
    )
    out = decode_video_frames(vids, "id", "payload", every_n=5).collect()
    by = {(r.id, r.frame_idx): r for r in out}
    # id=1: w=5,h=5,frames=2 -> sampled frame 0; id=7: w=11,h=11,frames=8
    # -> sampled frames 0 and 5
    assert set(by) == {(1, 0), (7, 0), (7, 5)}
    assert all(r.ok for r in out)
    assert by[(7, 5)].byte_sum == sum((5 * 31 + j) % 256 for j in range(121))


def test_compact_table_rewrites_and_clusters(spark, tmp_path):
    """compact_table: small files collapse to ceil(rows/rows_per_file)
    right-sized files, rows/values survive byte-for-byte, the
    pre-compaction version stays time-travelable, and sort_by clustering
    gives files disjoint key ranges (footer min/max pruning fodder)."""
    import glob

    import pyarrow.parquet as pq

    from redpajama_v2_processing_spark.tableio import (
        compact_table, data_file_count, read_snapshot,
    )

    tdir = str(tmp_path / "ct")
    df = spark.range(1000).select(
        F.col("id").alias("doc_id"), (F.col("id") % 7).alias("v")
    ).repartition(16)
    commit_table(df, tdir)
    assert data_file_count(tdir) >= 8  # the small-file problem, induced

    snap = compact_table(spark, tdir, rows_per_file=500, sort_by=("doc_id",))
    assert snap["version"] == 2 and snap["rows"] == 1000
    assert data_file_count(tdir) == 2
    back = read_table(spark, tdir)
    assert back.count() == 1000
    assert back.agg(F.sum("doc_id")).collect()[0][0] == 999 * 1000 // 2
    assert read_table(spark, tdir, version=1).count() == 1000  # time travel
    assert snap["meta"]["compaction"]["files_before"] >= 8

    live = read_snapshot(tdir)["data_dir"]
    ranges = []
    for f in glob.glob(f"{tdir}/{live}/*.parquet"):
        col = pq.read_table(f, columns=["doc_id"])["doc_id"].to_pylist()
        ranges.append((min(col), max(col)))
    ranges.sort()
    assert all(ranges[i][1] < ranges[i + 1][0] for i in range(len(ranges) - 1))
