"""Seeded input generators for the benchmark's two input families.

Everything here is pure Python/NumPy/pyarrow: inputs are written as
parquet files before the engine sees them, and the same seed gives
byte-identical files.

* ``write_pages``: the engine's ``pages`` table (url, warc_ts, html,
  text, lang).  The mix is ``fixtures.generate_pages_pdf`` plus a template
  flood: one group of identical texts (a hot exact-dedup fingerprint) and
  one group of near-identical texts (a hot LSH bucket).
* ``write_rpv2``: the reference's precomputed tables (FIXTURES.md §3-5):
  ``quality_signals`` (15 signals + lang), ``minhash`` (pre-banded
  ``signature_sim0.8`` list<binary>, uint64 ``id_int``) and
  ``duplicates`` (``doc_id``, partly in the malformed ``.json/``
  spelling, partly dangling).  The generator also returns the planted
  band groups, from which the expected keep set is derived.
"""

from __future__ import annotations

import datetime as dt
import os
import random
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from redpajama_v2_processing_spark.fixtures import generate_pages_pdf

N_FILES = 4

# ---------------------------------------------------------------------------
# pages
# ---------------------------------------------------------------------------

_FLOOD_WORDS = (
    "the city council met on monday and agreed that the new library will "
    "open in the spring with longer hours for students and a quiet floor "
    "for research while the old building is turned into a community space "
    "with rooms for classes and meetings"
).split()


def _html(text: str) -> bytes:
    """Same wrapping as functions.extract.wrap_html, so that
    extract_text(html) == text byte for byte."""
    esc = text.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    return (
        "<html><head><title>page</title></head><body>" + esc + "</body></html>"
    ).encode("utf-8")


def _flood_rows(rng: random.Random, n_exact: int, n_near: int) -> list[dict]:
    """One identical-text group and one near-duplicate group.  The near
    group shares a long template and differs in one trailing sentence, so
    its shingle Jaccard stays well above the 0.8 banding point."""
    base_ts = dt.datetime(2026, 3, 1, tzinfo=dt.timezone.utc)
    exact_text = "\n".join(
        " ".join(rng.choice(_FLOOD_WORDS) for _ in range(14)) + "."
        for _ in range(5)
    )
    template = "\n".join(
        " ".join(rng.choice(_FLOOD_WORDS) for _ in range(16)) + "."
        for _ in range(8)
    )
    rows = []
    for i in range(n_exact):
        rows.append({
            "url": f"https://mirror{i % 7}.example.net/notice/{i}.html",
            "warc_ts": base_ts + dt.timedelta(hours=rng.randint(0, 96)),
            "text": exact_text, "lang": "en",
        })
    for i in range(n_near):
        tail = " ".join(rng.choice(_FLOOD_WORDS) for _ in range(4)) + f" {i}."
        rows.append({
            "url": f"https://blog{i % 11}.example.net/post/{i}.html",
            "warc_ts": base_ts + dt.timedelta(hours=rng.randint(0, 96)),
            "text": template + "\n" + tail, "lang": "en",
        })
    return rows


def write_pages(out_dir: str, n_docs: int, seed: int, flood_frac: float) -> int:
    """Write ``n_docs`` pages as N_FILES parquet files; returns n_docs."""
    rng = random.Random(seed)
    n_flood = int(n_docs * flood_frac)
    n_exact = n_flood // 2
    base = generate_pages_pdf(n_docs - n_flood, seed)
    rows = base.to_dict("records")
    for r in rows:
        r["warc_ts"] = r["warc_ts"].to_pydatetime().replace(tzinfo=dt.timezone.utc)
    rows += _flood_rows(rng, n_exact, n_flood - n_exact)
    rng.shuffle(rows)
    os.makedirs(out_dir, exist_ok=True)
    schema = pa.schema([
        ("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string()),
    ])
    for f in range(N_FILES):
        part = rows[f::N_FILES]
        table = pa.table({
            "url": [r["url"] for r in part],
            "warc_ts": [r["warc_ts"] for r in part],
            "html": [_html(r["text"]) for r in part],
            "text": [r["text"] for r in part],
            "lang": [r["lang"] for r in part],
        }, schema=schema)
        pq.write_table(table, os.path.join(out_dir, f"part-{f:05d}.parquet"))
    return len(rows)


# ---------------------------------------------------------------------------
# RedPajama-v2 precomputed tables
# ---------------------------------------------------------------------------

# FIXTURES.md §3 — the reference's 15 signals; the first three are counts
SIGNALS = (
    "number_of_words", "number_of_lines", "number_of_characters",
    "language_identification", "perplexity", "stop_words",
    "special_characters", "flagged_words", "words_per_line_mean",
    "short_line_ratio", "character_repetition10gram",
    "character_repetition5gram", "word_repetition", "unigram_entropy",
    "lines_end_in_punctuation",
)
_LANGS = np.array(["en", "de", "fr", "es", "it"])
_LANG_P = np.array([0.4, 0.2, 0.15, 0.15, 0.1])
N_BANDS = 9  # signature_sim0.8 band count (reference src/minhashlsh.py:101)
_U63 = 1 << 63


@dataclass
class Rpv2Inputs:
    n_docs: int
    ids: np.ndarray          # object array of string ids
    id_int: np.ndarray       # uint64
    null_sig: np.ndarray     # bool
    band_group: np.ndarray   # int64 [n_docs, N_BANDS]; equal values share a digest


def _signals(rng: np.random.Generator, n: int) -> dict[str, np.ndarray]:
    """15 signals driven by one latent quality score q, so the per-signal
    p-quantile windows keep a realistic share (independent signals would
    keep only ~0.8^15).  Each signal is a monotone map of q plus a little
    own noise, quantized to 4 decimals (counts are integers)."""
    q = rng.standard_normal(n)

    def mix(scale=0.25):
        return q + scale * rng.standard_normal(n)

    words = np.maximum(5, np.round(np.exp(5.5 + 0.6 * mix()))).astype(np.int64)
    lines = np.maximum(1, np.round(words / np.exp(2.3 + 0.2 * mix()))).astype(np.int64)
    chars = np.round(words * (4.8 + 0.3 * mix())).astype(np.int64)

    def frac(center, slope, scale=0.25):
        return np.round(1 / (1 + np.exp(-(center + slope * mix(scale)))), 4)

    return {
        "number_of_words": words,
        "number_of_lines": lines,
        "number_of_characters": chars,
        "language_identification": frac(2.0, 0.8),
        "perplexity": np.round(np.exp(6.0 - 0.4 * mix()), 4),
        "stop_words": frac(-0.8, 0.5),
        "special_characters": frac(-2.0, -0.5),
        "flagged_words": np.round(np.maximum(0.0, 0.002 - 0.002 * mix()), 4),
        "words_per_line_mean": np.round(words / lines, 4),
        "short_line_ratio": frac(-1.0, -0.6),
        "character_repetition10gram": frac(-2.5, -0.7),
        "character_repetition5gram": frac(-1.5, -0.6),
        "word_repetition": frac(-2.0, -0.7),
        "unigram_entropy": np.round(4.5 + 0.5 * mix(), 4),
        "lines_end_in_punctuation": frac(0.5, 0.7),
    }


# (band, run length, offset): inside a cluster, each of these bands groups
# consecutive runs of members; overlapping offsets chain the runs together
_CHAIN_BANDS = ((0, 4, 0), (1, 4, 2))
# (band, group size): random groups of the cluster's members
_RANDOM_BANDS = ((3, 5), (4, 5), (5, 3), (6, 3))
_HOT_BAND, _HOT_MIN_SIZE = 2, 64
CLUSTERED_FRAC = 0.85  # share of docs in planted near-duplicate clusters


def _cluster_sizes(n_clustered: int) -> np.ndarray:
    """Heavy-tailed cluster sizes (Pareto, capped at 2000) summing to
    n_clustered.  Drawn from a fixed stream, not the workload seed: every
    seed gets the same size mix (and so the same CC depth and hot-bucket
    sizes), while membership, ids and signals vary with the seed."""
    shape = np.random.default_rng(20260301)
    sizes, total = [], 0
    while n_clustered - total >= 2:
        s = min(int(2 + shape.pareto(1.3) * 3), 2000, n_clustered - total)
        sizes.append(s)
        total += s
    return np.array(sizes)


def _band_groups(rng: np.random.Generator, n: int) -> np.ndarray:
    """Planted near-duplicate structure as per-band group labels.

    Docs are laid out in clusters of _cluster_sizes().  Inside a cluster of
    members m0..m{s-1}, the _CHAIN_BANDS group runs of consecutive members
    with overlapping offsets, so a cluster is one component held together
    by chains (m0 and m7 meet only through the members between them); the
    _RANDOM_BANDS add random small groups of members, which give edges to
    other bucket minima.  Clusters of >= _HOT_MIN_SIZE docs also share
    _HOT_BAND as a whole: a hot LSH bucket.  Every other (doc, band) gets a
    group of its own; unclustered docs are singletons."""
    groups = np.arange(n * N_BANDS, dtype=np.int64).reshape(n, N_BANDS)
    nxt = n * N_BANDS  # fresh labels above every singleton label
    start = 0
    for s in rng.permutation(_cluster_sizes(int(n * CLUSTERED_FRAC))):
        r = np.arange(s)
        rows = start + r
        for band, run, offset in _CHAIN_BANDS:
            groups[rows, band] = nxt + (r + offset) // run
            nxt += (s + offset) // run + 1
        for band, size in _RANDOM_BANDS:
            groups[rows, band] = nxt + rng.permutation(s) // size
            nxt += s // size + 1
        if s >= _HOT_MIN_SIZE:
            groups[rows, _HOT_BAND] = nxt
            nxt += 1
        start += s
    return groups


def write_rpv2(out_dir: str, n_docs: int, seed: int) -> Rpv2Inputs:
    """Write quality_signals/, minhash/ and duplicates/ under ``out_dir``."""
    rng = np.random.default_rng(seed)
    n = n_docs
    perm = rng.permutation(n)  # doc order is unrelated to cluster layout
    lang = _LANGS[rng.choice(len(_LANGS), size=n, p=_LANG_P)]
    shard = rng.integers(0, 5000, size=n)
    bucket = np.where(rng.random(n) < 0.5, "head", "middle")
    ids = np.array(
        [f"2023-06/{shard[i]:04d}/{lang[i]}_{bucket[i]}.json.gz/{i}" for i in range(n)],
        dtype=object,
    )
    # uint64 ids, about 70 % of them >= 2^63 (they surface as decimal(20,0))
    id_int = rng.integers(0, 1 << 63, size=n, dtype=np.uint64)
    high = rng.random(n) < 0.7
    id_int[high] += np.uint64(_U63)
    id_int = np.unique(id_int)
    while id_int.size < n:  # collisions are ~n^2/2^64: top up if any
        extra = rng.integers(0, 1 << 63, size=n - id_int.size, dtype=np.uint64)
        id_int = np.unique(np.concatenate([id_int, extra]))
    id_int = rng.permutation(id_int)

    groups = _band_groups(rng, n)[perm]
    null_sig = rng.random(n) < 0.02

    # band digests: one random 8-byte value per group label; null
    # signatures are empty null lists
    labels, inv = np.unique(groups[~null_sig], return_inverse=True)
    digest = rng.integers(0, np.iinfo(np.uint64).max, size=labels.size,
                          dtype=np.uint64, endpoint=True)
    flat = digest[inv.reshape(-1)].astype(">u8").tobytes()
    n_values = int((~null_sig).sum()) * N_BANDS
    values = pa.FixedSizeBinaryArray.from_buffers(
        pa.binary(8), n_values, [None, pa.py_buffer(flat)]
    ).cast(pa.binary())
    lengths = np.where(null_sig, 0, N_BANDS)
    offsets = pa.array(np.concatenate([[0], np.cumsum(lengths)]).astype(np.int32))
    sig = pa.ListArray.from_arrays(offsets, values, mask=pa.array(null_sig))

    sigs = _signals(rng, n)
    chunks = np.array_split(np.arange(n), N_FILES)
    for name in ("quality_signals", "minhash", "duplicates"):
        os.makedirs(os.path.join(out_dir, name), exist_ok=True)
    for f, rows in enumerate(chunks):
        lo, hi = int(rows[0]), int(rows[-1]) + 1
        fname = f"part-{f:05d}.parquet"
        pq.write_table(pa.table({
            "id": pa.array(ids[lo:hi], pa.string()),
            "lang": pa.array(lang[lo:hi], pa.string()),
            **{k: pa.array(v[lo:hi]) for k, v in sigs.items()},
        }), os.path.join(out_dir, "quality_signals", fname))
        pq.write_table(pa.table({
            "shard_id": pa.array([f"shard-{f}"] * (hi - lo), pa.string()),
            "id": pa.array(ids[lo:hi], pa.string()),
            "id_int": pa.array(id_int[lo:hi], pa.uint64()),
            "signature_sim0.8": sig.slice(lo, hi - lo),
        }), os.path.join(out_dir, "minhash", fname))

    # duplicates: ~6 % of docs, a third of them in the malformed '.json/'
    # spelling, plus dangling ids (some malformed) that match no doc
    dup_idx = np.flatnonzero(rng.random(n) < 0.06)
    malformed = rng.random(dup_idx.size) < 0.35
    dup_ids = [
        ids[i].replace(".json.gz/", ".json/") if m else ids[i]
        for i, m in zip(dup_idx, malformed)
    ]
    n_dangling = max(1, n // 100)
    dup_ids += [
        f"2019-04/{k:04d}/en_head.json{'/' if k % 2 else '.gz/'}{k}"
        for k in range(n_dangling)
    ]
    pq.write_table(pa.table({"doc_id": pa.array(dup_ids, pa.string())}),
                   os.path.join(out_dir, "duplicates", "part-00000.parquet"))
    return Rpv2Inputs(n, ids, id_int, null_sig, groups)
