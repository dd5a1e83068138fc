"""The vectorized MinHash signature (``minhash_bands``) against an
independent SQL reference: explode the shingles, one ``min`` per
permutation over ``groupBy(id)``, then the same band hashes."""

from __future__ import annotations

from decimal import Decimal

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from redpajama_v2_processing_spark.config import ORACLE_MINHASH, PROD_MINHASH
from redpajama_v2_processing_spark.functions.hashing import PERM_PRIME, perm_coeffs
from redpajama_v2_processing_spark.operators.minhash_lsh import (
    _signature_fn, minhash_bands, with_shingles,
)

_MD5INT = "CAST(conv(substring(md5({}), 1, 15), 16, 10) AS BIGINT)"


def _reference_bands(docs, id_col, cfg, base):
    """DF(id, band_idx, band_hash) from SQL strings only."""
    k, b, r = cfg["num_perm"], cfg["bands"], cfg["rows"]
    h = "xxhash64(_s)" if base == "xxhash" else _MD5INT.format("_s")
    perms = [
        f"(({a} * pmod({h}, 4294967296) + {bb}) % {PERM_PRIME}) AS _h{i}"
        for i, (a, bb) in enumerate(perm_coeffs(k))
    ]
    band_hash = "xxhash64({})" if base == "xxhash" else _MD5INT
    bands = []
    for bi in range(b):
        joined = ", ".join(f"CAST(_m{bi * r + j} AS STRING)" for j in range(r))
        payload = f"concat('{bi}', '#', concat_ws('|', {joined}))"
        bands.append(f"named_struct('band_idx', {bi}, 'band_hash', {band_hash.format(payload)})")
    return (
        with_shingles(docs, id_col, "text", cfg["shingle"])
        .selectExpr("id", "explode(_sh) AS _s")
        .selectExpr("id", *perms)
        .groupBy("id")
        .agg(*[F.expr(f"min(_h{i}) AS _m{i}") for i in range(k)])
        .selectExpr("id", f"explode(array({', '.join(bands)})) AS _bh")
        .selectExpr("id", "_bh.band_idx", "_bh.band_hash")
    )


# in Arrow batches of three: no signable doc in the first, an unsignable
# doc ahead of two signable ones in the second
_TEXTS = [
    None,
    "",
    "   \t ",
    None,
    "two words",
    "a b c a b c a b c a b c",
    "the quick brown fox jumps over the lazy dog",
    "the quick brown fox jumps over the lazy cat",
    "one",
    "lorem ipsum dolor sit amet consectetur adipiscing elit sed do eiusmod",
]


@pytest.mark.parametrize(
    "id_type, ids",
    [
        ("long", [-(10**12) - i * 7 for i in range(len(_TEXTS))]),
        ("string", [f"doc-{i}" for i in range(len(_TEXTS))]),
        (
            "decimal(20,0)",
            [Decimal(18446744073709551000 + i) for i in range(len(_TEXTS))],
        ),
    ],
)
@pytest.mark.parametrize(
    "cfg, base", [(ORACLE_MINHASH, "md5"), (PROD_MINHASH, "xxhash")]
)
def test_minhash_bands_match_sql_reference(spark, id_type, ids, cfg, base):
    """Bit-identical rows on both hash bases and every id type, with Arrow
    batches of three records: the docs split across batches and the first
    batch (null, empty and whitespace-only text) has no signable doc."""
    docs = spark.createDataFrame(
        list(zip(ids, _TEXTS)), f"doc_id {id_type}, text string"
    ).coalesce(1)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "3")
    try:
        got = minhash_bands(docs, "doc_id", cfg=cfg, base=base).collect()
    finally:
        spark.conf.set(key, old)
    want = _reference_bands(docs, "doc_id", cfg, base).collect()
    # null, empty and whitespace-only texts have no bands
    assert len(want) == 6 * cfg["bands"]
    assert sorted(got) == sorted(want)


def test_signature_batch_without_signable_doc_yields_nothing():
    """A batch whose shingle hashes are all null or empty emits no batch;
    a mixed batch keeps only the signable ids, in order."""
    fn = _signature_fn(perm_coeffs(3), PERM_PRIME)
    h_type = pa.list_(pa.int64())
    empty = pa.RecordBatch.from_arrays(
        [pa.array([1, 2]), pa.array([None, []], type=h_type)], names=["id", "_h"]
    )
    assert list(fn(iter([empty]))) == []
    mixed = pa.RecordBatch.from_arrays(
        [pa.array([1, 2, 3, 4]), pa.array([None, [5, 9], [], [7, 3, 8]], type=h_type)],
        names=["id", "_h"],
    )
    (out,) = list(fn(iter([mixed])))
    assert out.column(0).to_pylist() == [2, 4]
    want = [
        [min((a * h + bb) % PERM_PRIME for h in hs) for a, bb in perm_coeffs(3)]
        for hs in ([5, 9], [7, 3, 8])
    ]
    assert out.column(1).to_pylist() == want
