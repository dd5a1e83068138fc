"""Raw-crawl ingestion: WET / WARC file parsing as a Spark source.

The reference pipeline starts from RedPajama-V2's preprocessed
``documents`` json.gz shards (scripts/download_crawl.sh:40-120 fetches
them per crawl) — which are themselves derived from Common Crawl WET
text extracts by CCNet. A from-crawl deployment ingests the WET/WARC
files directly; this module is that tier, stdlib-only:

* ``parse_warc_records``: a tolerant scanning parser for the WARC/1.0
  record framing (header block, ``Content-Length``-delimited payload)
  shared by WET (``conversion`` records, plain-text payload) and WARC
  (``response`` records, HTTP+HTML payload). Gzip'd inputs (the
  on-disk Common Crawl format) are decompressed transparently. Torn
  trailing records (truncated download) are skipped, not fatal — the
  completeness check lives in tableio, not the parser.
* ``read_wet``: ``binaryFile`` source -> Arrow-batched ``mapInPandas``
  decode (the multimodal-tier pattern: binary payload work happens in
  vectorized Python batches, one task per file split, never on the
  driver). Emits (url, warc_ts, text) rows ready for ``pages``-style
  staging.
* ``synth_wet_bytes``: deterministic WET writer for tests/fixtures.

Scale shape: one file = one task (WET files are ~150 MB compressed —
the Common Crawl sizing); parallelism comes from the file manifest,
exactly how a 1000-executor ingest consumes a crawl's ~90k WET files.
"""

from __future__ import annotations

import gzip
import io

from pyspark.sql import DataFrame, SparkSession

WET_SCHEMA = "url string, warc_ts timestamp, text string"
_GZ_MAGIC = b"\x1f\x8b"


def parse_warc_records(
    raw: bytes, want_types: tuple[str, ...] = ("conversion", "response")
) -> list[tuple[str, str, str, bytes]]:
    """[(url, warc_date, warc_type, payload_bytes)] for records whose
    WARC-Type is in ``want_types`` (WET bodies are ``conversion``;
    crawler HTML captures are ``response``). Records without a target
    URI (warcinfo headers) and torn trailing records are skipped."""
    if raw[:2] == _GZ_MAGIC:
        raw = gzip.decompress(raw)
    out: list[tuple[str, str, str, bytes]] = []
    pos = 0
    n = len(raw)
    while True:
        start = raw.find(b"WARC/", pos)
        if start < 0:
            break
        hdr_end = raw.find(b"\r\n\r\n", start)
        if hdr_end < 0:
            break  # torn header block
        headers: dict[str, str] = {}
        for line in raw[start:hdr_end].split(b"\r\n")[1:]:
            k, sep, v = line.partition(b":")
            if sep:
                headers[k.strip().lower().decode("ascii", "replace")] = (
                    v.strip().decode("utf-8", "replace")
                )
        try:
            length = int(headers.get("content-length", ""))
        except ValueError:
            pos = hdr_end + 4
            continue
        if length < 0:
            # corrupt header: a negative length would step the scan
            # position BACKWARD past this record and loop forever
            pos = hdr_end + 4
            continue
        body_start = hdr_end + 4
        if body_start + length > n:
            break  # torn payload: the record was cut mid-download
        wtype = headers.get("warc-type", "")
        uri = headers.get("warc-target-uri", "")
        if wtype in want_types and uri:
            out.append(
                (uri, headers.get("warc-date", ""), wtype,
                 raw[body_start:body_start + length])
            )
        pos = body_start + length
    return out


def _wet_decode(batches):
    """Arrow-batch WET decoder behind ``read_wet``."""
    import pandas as pd

    for pdf in batches:
        rows = []
        for raw in pdf["content"]:
            for uri, date, _t, payload in parse_warc_records(
                bytes(raw), want_types=("conversion",)
            ):
                rows.append((uri, date, payload.decode("utf-8", "replace")))
        out = pd.DataFrame(rows, columns=["url", "warc_ts", "text"])
        # WARC-Date is an instant (...Z); keep it tz-aware UTC so the
        # Arrow transfer stores the correct instant under ANY session
        # timezone (the engine pins UTC in session.py, but a naive
        # value would silently shift on a non-UTC deployment)
        out["warc_ts"] = pd.to_datetime(out["warc_ts"], errors="coerce", utc=True)
        yield out


def read_wet(spark: SparkSession, path: str) -> DataFrame:
    """DF(url, warc_ts, text) from a directory/glob of WET files (plain
    or .gz). One Arrow batch per file; the binary payload never leaves
    the executors."""
    files = spark.read.format("binaryFile").load(path).select("content")
    return files.mapInPandas(_wet_decode, WET_SCHEMA)


def synth_wet_bytes(
    records: list[tuple[str, str, str]], compress: bool = False
) -> bytes:
    """Deterministic WET file: a warcinfo header record followed by one
    ``conversion`` record per (url, iso_date, text). Byte layout follows
    the WARC/1.0 framing ``parse_warc_records`` consumes."""
    buf = io.BytesIO()

    def record(headers: list[tuple[str, str]], payload: bytes) -> None:
        buf.write(b"WARC/1.0\r\n")
        for k, v in headers:
            buf.write(f"{k}: {v}\r\n".encode())
        buf.write(f"Content-Length: {len(payload)}\r\n".encode())
        buf.write(b"\r\n")
        buf.write(payload)
        buf.write(b"\r\n\r\n")

    record([("WARC-Type", "warcinfo")], b"software: synth_wet_bytes")
    for url, date, text in records:
        record(
            [("WARC-Type", "conversion"), ("WARC-Target-URI", url),
             ("WARC-Date", date)],
            text.encode(),
        )
    raw = buf.getvalue()
    return gzip.compress(raw, mtime=0) if compress else raw
