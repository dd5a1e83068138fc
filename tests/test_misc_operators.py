"""Sessionization, sampling, skew helpers, perplexity, properties."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from redpajama_v2_processing_spark.functions.perplexity import with_unigram_perplexity
from redpajama_v2_processing_spark.operators.sampling import hash_sample
from redpajama_v2_processing_spark.operators.sessionize import sessionize, tumbling_counts
from redpajama_v2_processing_spark.operators.skew import salted_count
from tests.conftest import docs_frame


def _events(spark):
    base = dt.datetime(2026, 1, 1, 10, 0, 0)
    rows = [
        # user 1: two sessions (gap 45 min)
        (1, 1, base, "a", 1.0),
        (2, 1, base + dt.timedelta(minutes=10), "a", 2.0),
        (3, 1, base + dt.timedelta(minutes=55), "b", 3.0),
        # user 2: one session
        (4, 2, base, "a", 4.0),
        (5, 2, base + dt.timedelta(minutes=29), "a", 5.0),
    ]
    return spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, event_type string, value double"
    )


def test_sessionize(spark):
    got = {r.user_id: (r.n_sessions, r.n_events) for r in sessionize(_events(spark)).collect()}
    assert got == {1: (2, 3), 2: (1, 2)}


def test_tumbling_counts(spark):
    got = tumbling_counts(_events(spark)).collect()
    m = {(str(r.window_start), r.event_type): r.n_events for r in got}
    assert m[("2026-01-01 10:00:00", "a")] == 4
    assert m[("2026-01-01 10:00:00", "b")] == 1


def test_hash_sample_deterministic_and_disjoint(spark):
    df = spark.range(1000).withColumnRenamed("id", "k")
    a = {r.k for r in hash_sample(df, "k", 10).collect()}
    b = {r.k for r in hash_sample(df, "k", 10).collect()}
    assert a == b and 40 < len(a) < 250
    c = {r.k for r in hash_sample(df, "k", 10, salt="other").collect()}
    assert a != c  # different salt, different (deterministic) sample


def test_salted_count_equals_plain(spark, pages_small):
    plain = {r.lang: r.n for r in
             pages_small.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    salted = {r.lang: r.n for r in salted_count(pages_small, "lang").collect()}
    assert plain == salted


def test_unigram_perplexity_bounds(spark):
    df = docs_frame(spark, ["a a a a", "a b c d", ""])
    out = {r.doc_id: r.perplexity for r in
           with_unigram_perplexity(df, "doc_id").select("doc_id", "perplexity").collect()}
    # all-'a' doc: p(a)=5/8 -> ppl = 1.6 exactly
    assert out[0] == 1.6
    assert out[1] > out[0]  # rarer tokens -> higher perplexity
    assert out[2] == 0.0


def test_bigram_perplexity(spark):
    """Interpolated word-bigram LM: a perfectly predictable bigram stream
    scores lower perplexity than a varied one; < 2 tokens scores 0.0; the
    repeated-bigram doc's value matches the closed-form model exactly."""
    from redpajama_v2_processing_spark.functions.perplexity import (
        with_bigram_perplexity,
    )

    df = docs_frame(spark, ["a a a a a", "a b c d e", "x", ""])
    out = {r.doc_id: r.perplexity_bigram for r in
           with_bigram_perplexity(df, "doc_id")
           .select("doc_id", "perplexity_bigram").collect()}
    # doc0: every bigram is (a,a): c2=4, c1(a)=6 (5 in doc0 + 1 in doc1),
    # p_uni(a)=6/11; per-bigram ln p is accumulated in integer micro-units
    # (order-independent exact sum), so the closed form quantizes ln p
    import math

    p = 0.75 * 4 / 6 + 0.25 * 6 / 11
    micro = round(math.log(p) * 1e6)
    assert out[0] == round(math.exp(-micro / 1e6), 4)
    assert out[1] > out[0]  # unique bigrams -> higher perplexity
    assert out[2] == 0.0 and out[3] == 0.0


def test_bigram_perplexity_plan_is_native(spark):
    """Zero Python eval nodes: the bigram LM trains and scores entirely
    JVM-side (array transform + grouped counts + joins)."""
    from redpajama_v2_processing_spark.functions.perplexity import (
        with_bigram_perplexity,
    )

    df = docs_frame(spark, ["a b c", "b c d"])
    plan = (
        with_bigram_perplexity(df, "doc_id")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "EvalPython" not in plan


def test_perplexity_buckets_tercile_balance(spark, pages_small):
    """CCNet head/middle/tail labels: every (lang) group splits into
    roughly equal thirds (exact terciles), and all three buckets appear
    for any language with enough docs."""
    from pyspark.sql import functions as F

    from redpajama_v2_processing_spark.functions.perplexity import (
        perplexity_buckets,
    )

    docs = pages_small.select(
        F.xxhash64("url").alias("doc_id"), "text", "lang"
    )
    out = perplexity_buckets(docs, "doc_id")
    counts = {
        (r.lang, r.ppl_bucket): r.n
        for r in out.groupBy("lang", "ppl_bucket").agg(F.count("*").alias("n")).collect()
    }
    per_lang: dict = {}
    for (lang, b), n in counts.items():
        per_lang.setdefault(lang, {})[b] = n
    for lang, bs in per_lang.items():
        total = sum(bs.values())
        if total >= 9:
            assert set(bs) == {"head", "middle", "tail"}, (lang, bs)
            assert max(bs.values()) - min(bs.values()) <= total // 3 + 2, (lang, bs)


def test_dsir_weights_prefer_target_like_docs(spark):
    """DSIR: documents sharing the target corpus's n-gram distribution
    must out-weigh dissimilar ones; empty docs score 0.0."""
    from redpajama_v2_processing_spark.operators.dsir import (
        dsir_log_weights, dsir_select,
    )

    docs = docs_frame(spark, [
        "spark sql engine runs distributed queries over parquet tables",
        "slow cooked lamb with rosemary garlic and seasonal vegetables",
        "spark sql optimizer prunes parquet partitions for queries",
        "",
    ])
    target = spark.createDataFrame(
        [(0, "spark sql queries over parquet"),
         (1, "distributed sql engine for parquet tables")],
        "tid long, text string",
    )
    w = {r.id: r.log_weight for r in
         dsir_log_weights(docs, target, "doc_id").collect()}
    assert w[0] > w[1] and w[2] > w[1]
    assert w[3] == 0.0  # no grams -> neutral weight (can outrank negatives)
    top = [r.id for r in dsir_select(docs, target, "doc_id", k=2).collect()]
    assert 0 in top and 1 not in top
    # among content-bearing docs, selection is exactly the target-like pair
    nonempty = docs.where("doc_id != 3")
    top2 = [r.id for r in dsir_select(nonempty, target, "doc_id", k=2).collect()]
    assert set(top2) == {0, 2}


def test_perplexity_vocab_floor_oov(spark):
    """Bounded-vocabulary profile (the 100 TB path): vocab_min_count folds
    every below-floor token into a single UNK type carrying their summed
    count. Closed-form pins for both scorers — KenLM-style OOV semantics
    (mass-conserving unk class), micro-unit accumulation."""
    import math

    from redpajama_v2_processing_spark.functions.perplexity import (
        with_bigram_perplexity, with_unigram_perplexity,
    )

    # counts: a=3; b,c singletons fold into UNK (c=2); T=5
    df = docs_frame(spark, ["a a b", "a c"])

    def ppl(logps):
        micro = sum(round(math.log(p) * 1e6) for p in logps)
        return round(math.exp(-(micro / 1e6) / len(logps)), 4)

    uni = {r.doc_id: r.perplexity for r in
           with_unigram_perplexity(df, "doc_id", vocab_min_count=2)
           .select("doc_id", "perplexity").collect()}
    assert uni[0] == ppl([3 / 5, 3 / 5, 2 / 5])        # a a UNK
    assert uni[1] == ppl([3 / 5, 2 / 5])               # a UNK

    # mapped bigram stream: doc0 -> (a,a),(a,U); doc1 -> (a,U)
    # c2(a,a)=1, c2(a,U)=2; c1(a)=3, c1(U)=2
    p_aa = 0.75 * 1 / 3 + 0.25 * 3 / 5
    p_au = 0.75 * 2 / 3 + 0.25 * 2 / 5
    bi = {r.doc_id: r.perplexity_bigram for r in
          with_bigram_perplexity(df, "doc_id", vocab_min_count=2)
          .select("doc_id", "perplexity_bigram").collect()}
    assert bi[0] == ppl([p_aa, p_au])
    assert bi[1] == ppl([p_au])

    # floor=1 (exact oracle profile) must be unchanged by the seam
    base = {r.doc_id: r.perplexity_bigram for r in
            with_bigram_perplexity(df, "doc_id")
            .select("doc_id", "perplexity_bigram").collect()}
    assert base != bi  # the floor genuinely rebinds rare mass


def test_perplexity_buckets_approx_knob(spark, pages_small):
    """exact=False routes the terciles through percentile_approx (bounded
    single-pass sketch — the production path); on groups smaller than the
    sketch accuracy it matches nearest-rank, so labels agree with exact on
    the fixture except at exact-tercile boundary ties."""
    from pyspark.sql import functions as F

    from redpajama_v2_processing_spark.functions.perplexity import (
        perplexity_buckets,
    )

    docs = pages_small.select(
        F.xxhash64("url").alias("doc_id"), "text", "lang"
    )
    ex = perplexity_buckets(docs, "doc_id", exact=True)
    ap = perplexity_buckets(docs, "doc_id", exact=False)
    plan = ap._jdf.queryExecution().executedPlan().toString()
    assert "approx" in plan.lower()
    both = (
        ex.withColumnRenamed("ppl_bucket", "b_ex")
        .join(ap.withColumnRenamed("ppl_bucket", "b_ap"), ["doc_id", "lang"])
    )
    n = both.count()
    agree = both.where(F.col("b_ex") == F.col("b_ap")).count()
    assert n == docs.count()
    # interpolation-vs-nearest-rank can flip only boundary docs
    assert agree >= n - 4 * docs.select("lang").distinct().count()


def test_url_canonicalize_contract(spark):
    """functions/url.py contract: fragment/userinfo/default-port/www
    stripping, scheme+host lowercasing (path case preserved), trailing
    slash, tracking-param removal, lexicographic param sort; schemeless
    input passes through trim + fragment strip only."""
    from redpajama_v2_processing_spark.functions.url import (
        canonicalize_url, url_dedup_keep)
    from pyspark.sql import functions as F

    cases = [
        ("HTTP://WWW.Example.COM:80/A/B/#frag", "http://example.com/A/B"),
        ("https://user:pw@Example.com:443/p?b=2&a=1", "https://example.com/p?a=1&b=2"),
        ("http://example.com", "http://example.com/"),
        ("http://example.com/p?utm_source=x&fbclid=y", "http://example.com/p"),
        ("http://example.com/p?utm_source=x&z=9&gclid=y&a=1", "http://example.com/p?a=1&z=9"),
        ("  http://example.com/p/  ", "http://example.com/p"),
        ("http://example.com:8080/p", "http://example.com:8080/p"),
        ("https://example.com:80/p", "https://example.com:80/p"),
        ("example.com/p#frag", "example.com/p"),
        ("http://example.com/CaseSensitive/Path?Key=V", "http://example.com/CaseSensitive/Path?Key=V"),
    ]
    df = spark.createDataFrame(
        [(i, u) for i, (u, _) in enumerate(cases)], "i long, url string"
    )
    got = {r.i: r.c for r in df.select(
        "i", canonicalize_url("url").alias("c")).collect()}
    for i, (u, want) in enumerate(cases):
        assert got[i] == want, (u, got[i], want)

    # dedup: rows 0/1 of each trio share a canonical url -> min id survives
    urls = spark.createDataFrame([
        (10, "http://a.com/x"), (11, "HTTP://WWW.A.com:80/x/"),
        (12, "http://a.com/y?p=1&utm_b=2"), (13, "http://a.com/y?p=1"),
        (14, "https://a.com/x"),
    ], "doc_id long, url string")
    kept = sorted(r.id for r in url_dedup_keep(urls, "url", "doc_id").collect())
    assert kept == [10, 12, 14]


def test_token_budget_mix_epochs(spark):
    """token_budget_mix: r<1 downsamples by hash (expected tokens =
    budget); r>=1 emits floor(r) epochs per doc plus a fractional extra
    by hash; unlisted sources pass through whole at epoch 0."""
    from redpajama_v2_processing_spark.operators.sampling import token_budget_mix
    from pyspark.sql import functions as F

    rows = [(i, "a" if i < 20 else "b" if i < 40 else "c",
             "w " * 10) for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    # T_a = T_b = 200 tokens. a: budget 2000 -> r=10.0 exactly (10 epochs
    # each, no fractional). b: budget 100 -> r=0.5 downsample. c unlisted.
    out = token_budget_mix(df, {"a": 2000, "b": 100}).collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r.source, []).append(r)
    a, b, c = by_src["a"], by_src.get("b", []), by_src["c"]
    assert len(a) == 20 * 10 and {r.epoch for r in a} == set(range(10))
    assert 0 < len(b) < 20 and all(r.epoch == 0 for r in b)
    assert len(c) == 20 and all(r.epoch == 0 for r in c)
    # determinism: identical survivor set on re-run
    again = sorted((r.id, r.epoch) for r in token_budget_mix(df, {"a": 2000, "b": 100}).collect())
    assert again == sorted((r.id, r.epoch) for r in out)


def test_token_budget_mix_extreme_budget_rate_exact(spark):
    """Budgets beyond ~9.2e12 tokens must not overflow, and the
    micro-unit rate must equal exact integer // at any magnitude (the r6
    advisor item: the old bigint/bigint path rounded through a double
    and budget*denom overflowed long above ~9.2e12). The full operator
    cannot materialize such a mixture (10^12 epochs), so the probe hits
    the rate table directly."""
    from pyspark.sql import functions as F

    from redpajama_v2_processing_spark.operators.sampling import _budget_rates

    totals = spark.createDataFrame(
        [("a", 200), ("b", 3), ("c", 1_000_000), ("d", 7)],
        "source string, _t long",
    )
    budgets = {
        "a": 10_000_000_000_000,        # > old long-overflow line
        "b": 10,
        "c": 9_007_199_254_740_995,     # > 2^53: not double-representable
        "d": 9_007_199_254_740_993,     # rate would exceed long: clamps
    }
    got = {
        r.source: r._r
        for r in _budget_rates(totals, budgets, 1_000_000).collect()
    }
    # python int arithmetic is the exact-integer reference
    assert got["a"] == 10_000_000_000_000 * 1_000_000 // 200   # 5e16
    assert got["b"] == 10 * 1_000_000 // 3                     # 3333333
    # c: denom cancels _t exactly, so rate == budget — a double path
    # would return 9_007_199_254_740_996 (nearest representable)
    assert got["c"] == 9_007_199_254_740_995
    # d: absurd rate (1.3e21 micro-units) clamps instead of wrapping
    assert got["d"] == 9_000_000_000_000_000_000


def test_url_blocklist_filter(spark):
    """Single-alternation URL-pattern blocklist: host and path-range
    patterns drop matching rows; empty pattern list is a no-op."""
    from pyspark.sql import functions as F
    from redpajama_v2_processing_spark.functions.url import url_blocklist_filter

    urls = spark.createDataFrame([
        (0, "http://news-3.example.com/Articles/2"),
        (1, "http://news-1.example.com/Articles/12"),
        (2, "http://news-1.example.com/Articles/12?x=1"),
        (3, "http://news-1.example.com/Articles/123"),   # 123 not in 1[0-9]$
        (4, "http://news-1.example.com/Articles/2"),
    ], "doc_id long, url string")
    pats = (r"news-3\.example\.com", r"/Articles/1[0-9]($|[?/])")
    kept = sorted(r.doc_id for r in url_blocklist_filter(urls, pats).collect())
    assert kept == [3, 4]
    assert url_blocklist_filter(urls, ()).count() == 5


def test_vocab_coverage_and_oov(spark):
    """Known Zipf toy corpus: 'a'x6, 'b'x3, 'c'x1 (10 occurrences);
    null/empty docs contribute nothing; ties broken by token string."""
    from redpajama_v2_processing_spark.operators.vocab import (
        oov_rate, vocab_coverage,
    )

    docs = spark.createDataFrame(
        [(0, "a a a b"), (1, "a  A b"), (2, "a b c"), (3, None), (4, "  ")],
        "doc_id long, text string",
    )
    rows = {r.rank: r for r in vocab_coverage(docs, k=2).collect()}
    assert rows[1].tok == "a" and rows[1].cnt == 6 and rows[1].coverage == 0.6
    assert rows[2].tok == "b" and rows[2].cnt == 3 and rows[2].coverage == 0.9
    assert len(rows) == 2  # k cuts 'c'

    r = oov_rate(docs, vocab_size=2).collect()[0]
    assert (r.total_tokens, r.oov_tokens, r.oov_rate) == (10, 1, 0.1)


def test_doc_embeddings_contract(spark):
    """Unit L2 norm for docs with tokens, zero vector otherwise; equal
    texts embed identically; partition-count invariant."""
    import math

    from pyspark.sql import functions as F

    from redpajama_v2_processing_spark.operators.embeddings import doc_embeddings

    docs = spark.createDataFrame(
        [(0, "alpha beta gamma delta"), (1, "alpha  BETA gamma delta"),
         (2, "totally different words entirely"), (3, ""), (4, None)],
        "doc_id long, text string",
    )
    emb = {r.id: list(r.embedding) for r in doc_embeddings(docs, "doc_id", dim=16).collect()}
    assert all(len(v) == 16 for v in emb.values())
    for i in (0, 1, 2):
        assert abs(math.sqrt(sum(x * x for x in emb[i])) - 1.0) < 1e-4
    assert emb[3] == [0.0] * 16 and emb[4] == [0.0] * 16
    assert emb[0] == emb[1]  # normalization-equal texts
    assert emb[0] != emb[2]

    emb2 = {
        r.id: list(r.embedding)
        for r in doc_embeddings(docs.repartition(7), "doc_id", dim=16).collect()
    }
    assert emb == emb2


def test_doc_embeddings_query_exploded_shape(spark):
    """The registry query emits the driver-canonical EXPLODED form
    (doc_id, dim_idx, value) — the harness canonicalizer cannot sort/hash
    an array column (r5 red row). The exploded rows must reassemble into
    exactly the operator's array output."""
    import os

    import pytest as _pytest

    sf_dir = "/root/testdata/sf0.001"
    if not os.path.isdir(sf_dir):
        _pytest.skip("driver testdata absent")

    from redpajama_v2_processing_spark.operators.embeddings import doc_embeddings
    from redpajama_v2_processing_spark.queries import q_doc_embeddings

    out = q_doc_embeddings(spark, sf_dir)
    assert out.columns == ["doc_id", "dim_idx", "value"]
    assert dict(out.dtypes) == {
        "doc_id": "bigint", "dim_idx": "int", "value": "double",
    }
    rows = out.collect()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_docs = docs.count()
    assert len(rows) == n_docs * 16  # one row per (doc, dim)
    rebuilt: dict[int, list] = {}
    for r in sorted(rows, key=lambda r: (r.doc_id, r.dim_idx)):
        rebuilt.setdefault(r.doc_id, []).append(r.value)
    arr = {
        r.id: list(r.embedding)
        for r in doc_embeddings(docs, "doc_id", dim=16).collect()
    }
    assert rebuilt == arr
