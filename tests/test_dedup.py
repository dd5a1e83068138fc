"""Exact + fuzzy dedup semantics (FIXTURES.md §4/§5): keep = min-id per
component, chains close transitively, singletons survive, dangling
duplicate ids are ignored; determinism under repartitioning."""

from __future__ import annotations

from pyspark.sql import functions as F

from redpajama_v2_processing_spark.config import ORACLE_MINHASH, PROD_MINHASH
from redpajama_v2_processing_spark.operators.exact_dedup import (
    anti_join_duplicates, exact_keep_ids,
)
from redpajama_v2_processing_spark.operators.minhash_lsh import (
    fuzzy_dedup_keep_ids, fuzzy_dedup_labels,
)
from tests.conftest import docs_frame


def test_exact_dedup_keeps_min_id(spark):
    df = docs_frame(spark, ["aa bb", "aa  BB", "cc", "aa bb", "dd"])
    kept = sorted(r.doc_id for r in exact_keep_ids(df, "doc_id").collect())
    assert kept == [0, 2, 4]  # 1 (case/ws variant) and 3 (exact copy) drop


def test_anti_join_ignores_dangling(spark):
    docs = docs_frame(spark, ["a", "b", "c"])
    dups = spark.createDataFrame([(1,), (99,)], "dup_id long")  # 99 dangling
    out = sorted(
        r.doc_id for r in anti_join_duplicates(docs, dups, "doc_id", "dup_id").collect()
    )
    assert out == [0, 2]


def test_anti_join_repeated_repaired_and_null_duplicate_ids(spark):
    """Repeated, malformed-then-repaired and NULL duplicate ids: the
    anti-join keeps exactly the Python set difference (NULL ids never
    match, and a repeated id drops its doc once, like a single one)."""
    from redpajama_v2_processing_spark.sources.rpv2 import fix_duplicate_ids

    ids = [f"2014-15/{i % 3}/en_head.json.gz/{i}" for i in range(30)]
    docs = spark.createDataFrame(
        [(d,) for d in ids] + [(None,)], "doc_id string"
    )
    raw = (
        [ids[1]] * 3                                             # repeated
        + [ids[i].replace(".json.gz/", ".json/") for i in (4, 9, 9)]  # malformed
        + [None, None]                                           # NULL
        + ["2014-15/0/en_head.json/999"]                         # dangling
    )
    dups = fix_duplicate_ids(
        spark.createDataFrame([(d,) for d in raw], "doc_id string"), "doc_id"
    )
    fixed = {d.replace(".json/", ".json.gz/") for d in raw if d is not None}
    want = sorted((d for d in ids + [None] if d not in fixed), key=str)
    got = sorted(
        (r.doc_id for r in anti_join_duplicates(docs, dups, "doc_id", "doc_id").collect()),
        key=str,
    )
    assert got == want
    assert len(got) == len(ids) + 1 - 3  # ids 1, 4 and 9 drop; the NULL doc stays


def _chain_docs(spark):
    # a, b=a+1 word, c=a+2 words: high pairwise shingle overlap; d singleton.
    # The md5 hash family is fixed, so band collisions are deterministic:
    # verified that a~b and a~c share a band under ORACLE_MINHASH (4x3).
    base = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12"
    a = base
    b = base + " extra1"
    c = base + " extra1 extra2"
    d = "completely different content here nothing shared at all"
    return docs_frame(spark, [a, b, c, d])


def test_fuzzy_dedup_near_dup_cluster(spark):
    df = _chain_docs(spark)
    labels = {r.id: r.root for r in fuzzy_dedup_labels(df, "doc_id").collect()}
    assert labels[0] == labels[1] == labels[2] == 0
    assert labels[3] == 3
    kept = sorted(r.id for r in fuzzy_dedup_keep_ids(df, "doc_id").collect())
    assert kept == [0, 3]  # one survivor (min id) per component + singleton
    assert set(kept) == {v for v in labels.values()}


def test_fuzzy_dedup_exact_copies_cluster(spark):
    df = docs_frame(
        spark,
        ["same text body one two three four five", "unique doc alpha beta gamma delta",
         "same text body one two three four five"],
    )
    kept = sorted(r.id for r in fuzzy_dedup_keep_ids(df, "doc_id").collect())
    assert kept == [0, 1]


def test_fuzzy_dedup_partition_invariance(spark):
    df = _chain_docs(spark)
    k1 = sorted(r.id for r in fuzzy_dedup_keep_ids(df.repartition(1), "doc_id").collect())
    k8 = sorted(r.id for r in fuzzy_dedup_keep_ids(df.repartition(8), "doc_id").collect())
    assert k1 == k8


def test_fuzzy_dedup_salted_equals_unsalted(spark):
    """The salted_bucket_edges name (kept for old callers) builds the
    same keep-set as fuzzy_dedup_keep_ids."""
    from redpajama_v2_processing_spark.operators.connected_components import (
        connected_components, keep_min_id,
    )
    from redpajama_v2_processing_spark.operators.minhash_lsh import (
        minhash_bands, salted_bucket_edges,
    )

    df = _chain_docs(spark)
    a = sorted(r.id for r in fuzzy_dedup_keep_ids(df, "doc_id").collect())
    cc = connected_components(salted_bucket_edges(minhash_bands(df, "doc_id")))
    ids = df.select(F.col("doc_id").alias("id"))
    assert a == sorted(r.id for r in keep_min_id(ids, cc).collect())


def test_fuzzy_dedup_idempotent(spark):
    df = _chain_docs(spark)
    keep1 = fuzzy_dedup_keep_ids(df, "doc_id").withColumnRenamed("id", "doc_id")
    survivors = df.join(keep1, "doc_id", "left_semi")
    keep2 = sorted(r.id for r in fuzzy_dedup_keep_ids(survivors, "doc_id").collect())
    assert keep2 == sorted(r.doc_id for r in keep1.collect())


def _prod_keep(df, **kw):
    kw.setdefault("base", "xxhash")
    return sorted(
        r.id
        for r in fuzzy_dedup_keep_ids(
            df, "doc_id", cfg=PROD_MINHASH, **kw
        ).collect()
    )


def test_fuzzy_prod_profile_properties(spark):
    """Property gate for the xxhash production profile (its registry query
    is oracle-checked through the oracle.xxhash64 SQL twin):
    exact copies cluster, distinct docs survive, keep ⊆ ids, idempotence."""
    texts = [
        "same text body one two three four five",
        "unique doc alpha beta gamma delta epsilon",
        "same text body one two three four five",
        "another unique document with its own words entirely",
        "same text body one two three four five",
    ]
    df = docs_frame(spark, texts)
    kept = _prod_keep(df)
    assert kept == [0, 1, 3]  # exact copies 2,4 drop; uniques survive
    # idempotence: dedup of the survivors is a fixpoint
    survivors = df.where(F.col("doc_id").isin(kept))
    assert _prod_keep(survivors) == kept


def test_fuzzy_prod_base_hash_agreement(spark):
    """xxhash and md5 base hashes must agree on unambiguous corpora (exact
    dups + fully distinct docs): the hash family must not change decisions."""
    texts = [
        "alpha bravo charlie delta echo foxtrot golf",
        "hotel india juliet kilo lima mike november",
        "alpha bravo charlie delta echo foxtrot golf",
        "oscar papa quebec romeo sierra tango uniform",
    ]
    df = docs_frame(spark, texts)
    assert _prod_keep(df) == _prod_keep(df, base="md5") == [0, 1, 3]


_XXH_P1, _XXH_P2, _XXH_P3 = 0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9
_XXH_P4, _XXH_P5 = 0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5
_M64 = (1 << 64) - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _xxh_round(acc: int, lane: int) -> int:
    return _rotl((acc + lane * _XXH_P2) & _M64, 31) * _XXH_P1 & _M64


def spark_xxhash64(text: str) -> int:
    """Pure-Python XXH64 of the UTF-8 bytes with Spark's seed 42, as the
    signed long ``F.xxhash64`` returns: the reference the DuckDB oracle's
    SQL twin (``oracle.xxhash64``) is checked against."""
    data, seed = text.encode("utf-8"), 42
    n, i = len(data), 0

    def word(at: int, width: int) -> int:
        return int.from_bytes(data[at:at + width], "little")

    if n >= 32:
        v = [seed + _XXH_P1 + _XXH_P2, seed + _XXH_P2, seed, seed - _XXH_P1]
        v = [x & _M64 for x in v]
        while i <= n - 32:
            v = [_xxh_round(v[j], word(i + 8 * j, 8)) for j in range(4)]
            i += 32
        h = sum(_rotl(x, r) for x, r in zip(v, (1, 7, 12, 18))) & _M64
        for x in v:
            h = ((h ^ _xxh_round(0, x)) * _XXH_P1 + _XXH_P4) & _M64
    else:
        h = (seed + _XXH_P5) & _M64
    h = (h + n) & _M64
    while i <= n - 8:
        h = (_rotl(h ^ _xxh_round(0, word(i, 8)), 27) * _XXH_P1 + _XXH_P4) & _M64
        i += 8
    if i <= n - 4:
        h = (_rotl(h ^ (word(i, 4) * _XXH_P1 & _M64), 23) * _XXH_P2 + _XXH_P3) & _M64
        i += 4
    for b in data[i:]:
        h = _rotl(h ^ (b * _XXH_P5 & _M64), 11) * _XXH_P1 & _M64
    h = (h ^ (h >> 33)) * _XXH_P2 & _M64
    h = (h ^ (h >> 29)) * _XXH_P3 & _M64
    h ^= h >> 32
    return h - (1 << 64) if h >> 63 else h


# the empty string, non-ASCII text, and every branch of the byte loop:
# tail bytes only, the 4-byte word, 8-byte words, 32-byte stripes
_XXH_CASES = [
    "", "naïve café", "漢字テキスト", "emoji 😀 pair",
    *("abcdefghijklmnopqrstuvwxyz0123456789"[:n] for n in (1, 3, 4, 7, 8, 31, 32, 33)),
    "é" * 16 + "x", "the quick brown fox jumps over the lazy dog " * 3,
]


def test_xxhash64_reference_matches_spark(spark):
    """The Python reference is Spark's xxhash64 (seed 42, UTF-8 bytes) on
    the empty string, non-ASCII text and 1-33 byte lengths, and so is the
    oracle's SQL twin on the same strings."""
    import duckdb

    from redpajama_v2_processing_spark.oracle import xxhash64

    assert {len(s.encode()) for s in _XXH_CASES} >= {0, 1, 3, 4, 7, 8, 31, 32, 33}
    df = spark.createDataFrame([(s,) for s in _XXH_CASES], "s string")
    got = {r.s: r.h for r in df.select("s", F.xxhash64("s").alias("h")).collect()}
    assert got == {s: spark_xxhash64(s) for s in _XXH_CASES}
    con = duckdb.connect()
    con.execute("CREATE TABLE t (s VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?)", [(s,) for s in _XXH_CASES])
    sql = dict(con.execute(f"SELECT s, {xxhash64('s')} FROM t").fetchall())
    assert sql == got


def test_xxhash64_sql_twin_matches_reference():
    """oracle.xxhash64 (plain DuckDB SQL) equals the Python reference,
    registered as a DuckDB function, on 2,000 random strings of 0-49
    characters mixing 1-4 byte UTF-8 encodings."""
    import random

    import duckdb

    from redpajama_v2_processing_spark.oracle import xxhash64

    rng = random.Random(5)
    alphabet = "abcxyz ,.\t\nÄé中文😀"
    strings = [
        "".join(rng.choice(alphabet) for _ in range(rng.randrange(0, 50)))
        for _ in range(2000)
    ]
    con = duckdb.connect()
    con.create_function("spark_xxhash64", spark_xxhash64, ["VARCHAR"], "BIGINT")
    con.execute("CREATE TABLE t (s VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?)", [(s,) for s in strings])
    bad = con.execute(
        f"SELECT s FROM t WHERE spark_xxhash64(s) <> {xxhash64('s')}"
    ).fetchall()
    assert bad == []


def test_null_and_empty_text_survive(spark):
    df = spark.createDataFrame(
        [(0, "some real content words here"), (1, ""), (2, None)],
        "doc_id long, text string",
    )
    kept = sorted(r.id for r in fuzzy_dedup_keep_ids(df, "doc_id").collect())
    assert kept == [0, 1, 2]  # unsignable docs are kept (reference null guard)


def test_decontaminate_ngram_overlap(spark):
    """Benchmark decontamination: a doc containing a benchmark item's
    13-gram verbatim is flagged (however it is embedded); clean docs
    survive; min_hits thresholds count DISTINCT shared grams."""
    from redpajama_v2_processing_spark.operators.decontaminate import (
        contaminated_ids,
    )

    phrase = ("alpha bravo charlie delta echo foxtrot golf hotel india "
              "juliett kilo lima mike")  # exactly 13 words
    docs = docs_frame(spark, [
        f"intro words {phrase} closing trailer",          # 0: contains it
        "totally unrelated content with none of those words at all "
        "spread across many tokens here",                 # 1: clean
        f"{phrase} november",                             # 2: 14 words -> 2 shared grams
        "short doc",                                      # 3: < 13 tokens, can't match
    ])
    bench = spark.createDataFrame(
        [(0, phrase + " november")], "bench_id long, text string"
    )
    flags = {r.id: r.hits for r in contaminated_ids(docs, bench, "doc_id").collect()}
    assert set(flags) == {0, 2}
    assert flags[0] == 1 and flags[2] == 2
    strict = {r.id for r in
              contaminated_ids(docs, bench, "doc_id", min_hits=2).collect()}
    assert strict == {2}


def test_span_dedup_c4_rule(spark):
    """C4 duplicated-span removal: a 3-line block shared across docs
    survives only in its global first occurrence (min doc id, min pos);
    a span repeated WITHIN one doc keeps only the first copy; docs with
    < 3 lines are untouched; removal counts are reported."""
    from redpajama_v2_processing_spark.operators.span_dedup import span_dedup

    docs = docs_frame(spark, [
        "A\nB\nC\nx0\ny0",          # 0: first occurrence of (A,B,C) — kept whole
        "A\nB\nC\nx1\ny1",          # 1: loses lines 0-2
        "S\nT\nU\nS\nT\nU",         # 2: within-doc repeat — keeps pos 0-2 only
        "solo\nlines",              # 3: < 3 lines, untouched
        "x9\nA\nB\nC\ny9",          # 4: interior occurrence — loses lines 1-3
    ])
    out = {r.id: (r.clean_text, r.n_removed_lines)
           for r in span_dedup(docs, "doc_id").collect()}
    assert out[0] == ("A\nB\nC\nx0\ny0", 0)
    assert out[1] == ("x1\ny1", 3)
    assert out[2] == ("S\nT\nU", 3)
    assert out[3] == ("solo\nlines", 0)
    assert out[4] == ("x9\ny9", 3)


def test_bloom_anti_join_exact_and_prefilters(spark):
    """Explicit partitioned-Bloom anti join: result identical to the
    plain left-anti join (false positives removed by verification), and
    the bitmap proves absence for keys outside the duplicate set."""
    from pyspark.sql import functions as F

    from redpajama_v2_processing_spark.operators.exact_dedup import (
        anti_join_duplicates, bloom_anti_join_duplicates, bloom_bitmap,
        bloom_maybe_contains)

    docs = spark.range(0, 500).select(F.col("id").alias("doc_id"))
    dups = docs.where(F.col("doc_id") % 7 == 0).select("doc_id")

    want = sorted(r.doc_id for r in
                  anti_join_duplicates(docs, dups, "doc_id", "doc_id").collect())
    got = sorted(r.doc_id for r in
                 bloom_anti_join_duplicates(docs, dups, "doc_id", "doc_id").collect())
    assert got == want

    # every true member must probe maybe=True (no false negatives)
    bm = bloom_bitmap(dups, "doc_id")
    probed = bloom_maybe_contains(docs, F.col("doc_id"), bm)
    flags = {r.doc_id: r._maybe for r in probed.collect()}
    assert all(flags[i] for i in range(0, 500, 7))
    # and the prefilter actually prunes: most non-members are definite-no
    non_member_maybe = sum(1 for i, m in flags.items() if i % 7 != 0 and m)
    assert non_member_maybe < 50  # fpp ~ (1 - e^{-kn/m})^k, tiny here


def _id_docs(spark, rows):
    """(doc_id, text) frame with explicit ids."""
    return spark.createDataFrame(list(rows), "doc_id long, text string")


def test_incremental_exact_keep(spark):
    from redpajama_v2_processing_spark.operators.exact_dedup import (
        incremental_exact_keep,
    )

    history = _id_docs(spark, [(0, "aa bb"), (1, "cc dd")])
    new = _id_docs(
        spark,
        [
            (10, "AA   bb"),   # normalized copy of history 0 -> drops
            (11, "ee ff"),     # fresh -> kept
            (12, "ee  FF"),    # within-crawl copy of 11 -> drops (11 wins)
            (13, None),        # null text: skips the history probe, kept
            (14, None),        # ...but nulls pool within the crawl: drops
        ],
    )
    kept = sorted(
        r.doc_id for r in incremental_exact_keep(new, history, "doc_id").collect()
    )
    assert kept == [11, 13]


def test_incremental_fuzzy_keep_history_frozen(spark):
    """History near-dups drop new docs; survivors cluster among
    themselves; docs with no bands (null text) are kept; history ids
    never appear in the output."""
    from redpajama_v2_processing_spark.operators.minhash_lsh import (
        band_key_index, incremental_fuzzy_keep_ids,
    )

    base = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12"
    other = "x1 x2 x3 x4 x5 x6 x7 x8 x9 x10 x11 x12"
    history = _id_docs(spark, [(0, base)])
    new = _id_docs(
        spark,
        [
            (10, base + " extra1"),        # near-dup of history -> drops
            (11, other),                   # fresh cluster seed -> kept
            (12, other + " extra1"),       # near-dup of 11 -> drops
            (13, "totally unrelated words here nothing shared"),  # kept
            (14, None),                    # unsignable -> kept
        ],
    )
    kept = sorted(
        r.id for r in incremental_fuzzy_keep_ids(new, history, "doc_id").collect()
    )
    assert kept == [11, 13, 14]

    # precomputed index path is identical (the production shape: the
    # history band keys are a table written once per accepted crawl)
    idx = band_key_index(history, "doc_id")
    kept2 = sorted(
        r.id
        for r in incremental_fuzzy_keep_ids(
            new, None, "doc_id", history_bands=idx
        ).collect()
    )
    assert kept2 == kept


def test_substring_dedup_token_windows(spark):
    """Tokens covered by non-first occurrences of duplicated n-token
    windows are removed; the global first occurrence and unique context
    survive; short docs and null text pass through token-normalized."""
    from redpajama_v2_processing_spark.operators.span_dedup import substring_dedup

    boiler = " ".join(f"b{i}" for i in range(6))         # 6-token boilerplate
    docs = _id_docs(
        spark,
        [
            (0, f"u1 u2 {boiler} u3"),     # first occurrence -> intact
            (1, f"v1 {boiler} v2 v3"),     # repeat -> boilerplate stripped
            (2, f"{boiler}"),              # repeat, nothing else -> emptied
            (3, "w1  w2   w3"),            # unique, short -> ws-normalized
            (4, None),                     # null -> empty
        ],
    )
    out = {r.id: r for r in substring_dedup(docs, "doc_id", n=6).collect()}
    assert out[0].clean_text == f"u1 u2 {boiler} u3"
    assert out[0].n_removed_tokens == 0
    assert out[1].clean_text == "v1 v2 v3"
    assert out[1].n_removed_tokens == 6
    assert out[2].clean_text == "" and out[2].n_removed_tokens == 6
    assert out[3].clean_text == "w1 w2 w3" and out[3].n_removed_tokens == 0
    assert out[4].clean_text == "" and out[4].n_removed_tokens == 0


def test_substring_dedup_long_run_coverage(spark):
    """A duplicated run longer than n is fully covered by its overlapping
    duplicated windows (the maximal-duplicate property of the window
    formulation)."""
    from redpajama_v2_processing_spark.operators.span_dedup import substring_dedup

    run = " ".join(f"r{i}" for i in range(10))  # 10-token duplicated run
    docs = _id_docs(
        spark, [(0, f"a1 {run} a2"), (1, f"z1 z2 {run} z3")]
    )
    out = {r.id: r for r in substring_dedup(docs, "doc_id", n=4).collect()}
    assert out[0].clean_text == f"a1 {run} a2"
    assert out[1].clean_text == "z1 z2 z3"
    assert out[1].n_removed_tokens == 10


def test_incremental_fuzzy_empty_history_equals_batch(spark):
    """With an empty history the incremental tier degenerates to the
    standard within-corpus fuzzy dedup keep-list."""
    from redpajama_v2_processing_spark.operators.minhash_lsh import (
        incremental_fuzzy_keep_ids,
    )

    docs = _chain_docs(spark)
    empty = docs.where(F.lit(False))
    inc = sorted(
        r.id for r in incremental_fuzzy_keep_ids(docs, empty, "doc_id").collect()
    )
    batch = sorted(r.id for r in fuzzy_dedup_keep_ids(docs, "doc_id").collect())
    assert inc == batch


def test_incremental_fuzzy_self_history_drops_signable(spark):
    """History == the crawl itself: every signable doc collides with its
    own band keys and drops; only unsignable (null-text) docs survive."""
    from redpajama_v2_processing_spark.operators.minhash_lsh import (
        incremental_fuzzy_keep_ids,
    )

    docs = _id_docs(spark, [(0, "w1 w2 w3 w4 w5"), (1, "x1 x2 x3 x4"), (2, None)])
    kept = sorted(
        r.id for r in incremental_fuzzy_keep_ids(docs, docs, "doc_id").collect()
    )
    assert kept == [2]


def test_rpv2_signature_export_roundtrip(spark, tmp_path):
    """Signatures exported in the reference's pre-banded layout and read
    back through the interop reader reproduce the EXACT keep-set of
    running the fuzzy dedup directly on text."""
    from redpajama_v2_processing_spark.sources.rpv2 import (
        export_rpv2_signatures, read_rpv2_signatures, rpv2_keep_ids,
    )

    docs = _chain_docs(spark).unionByName(
        _id_docs(spark, [(9, None)])  # unsignable -> null signature
    )
    out = str(tmp_path / "sigs")
    exported = export_rpv2_signatures(docs, "doc_id")
    assert exported.columns == ["shard_id", "id", "id_int", "signature_sim0.8"]
    exported.write.parquet(out)

    sigs = read_rpv2_signatures(spark, out, "0.8")
    kept = sorted(r.id for r in rpv2_keep_ids(sigs).collect())
    direct = sorted(
        str(r.id) for r in fuzzy_dedup_keep_ids(docs, "doc_id").collect()
    )
    assert kept == direct
    assert "9" in kept  # null-signature doc survives both paths
