"""Quality-rule labelling, quantile thresholds, language ID."""

from __future__ import annotations

from pyspark.sql import functions as F

from redpajama_v2_processing_spark.functions.langid import with_langid
from redpajama_v2_processing_spark.functions.signals import with_signals
from redpajama_v2_processing_spark.operators.quality_filter import with_quality_label
from redpajama_v2_processing_spark.config import QUANTILE_PROFILES
from redpajama_v2_processing_spark.functions.vectors import round_half_up
from redpajama_v2_processing_spark.operators import thresholds
from redpajama_v2_processing_spark.operators.thresholds import (
    per_lang_thresholds, profiled_quantile_filter, quantile_filter,
)
from tests.conftest import docs_frame


def _label(spark, text):
    return with_quality_label(with_signals(docs_frame(spark, [text]))).collect()[0]


def test_drop_reasons_fire(spark):
    assert _label(spark, "too short").drop_reason == "number_of_words_min"
    long_ok = "the quick brown fox jumps over the lazy dog again and again today"
    assert _label(spark, long_ok).keep
    flagged = ("the " + "good word filler text here more words yes " * 2
               + "viagra casino xxx spam dup viagra")
    assert _label(spark, flagged).drop_reason == "flagged_word_fraction_max"
    low_entropy = "zz " + "the " + " ".join(["zz"] * 30)
    r = _label(spark, low_entropy)
    assert r.drop_reason == "word_repetition_2gram_max"
    no_stop = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambada"
    assert _label(spark, no_stop).drop_reason == "stop_word_fraction_min"


def test_quality_filter_removes_dropped(spark):
    df = docs_frame(spark, [
        "the quick brown fox jumps over the lazy dog again and again today",
        "x",
    ])
    kept = with_quality_label(with_signals(df)).where(F.col("keep"))
    assert [r.doc_id for r in kept.select("doc_id").collect()] == [0]


def test_rule_order_precedence(spark):
    # a doc failing multiple rules reports the FIRST configured failure
    r = _label(spark, "zz")
    assert r.drop_reason == "number_of_words_min"


def test_thresholds_and_quantile_filter(spark):
    rows = [(i, f"l{i % 2}", " ".join(["w"] * (5 + i))) for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    sig = with_signals(df)
    th = per_lang_thresholds(sig, ["number_of_words"], p_low=0.0, p_high=1.0)
    got = {r.lang: (r.number_of_words_lo, r.number_of_words_hi) for r in th.collect()}
    assert got["l0"] == (5.0, 23.0) and got["l1"] == (6.0, 24.0)
    # p=0/1 keeps everything
    assert quantile_filter(sig, ["number_of_words"], p_low=0.0, p_high=1.0).count() == 20
    # tight band drops the tails per language
    kept = quantile_filter(sig, ["number_of_words"], p_low=0.25, p_high=0.75).count()
    assert 0 < kept < 20


def _threshold_frame(spark):
    """Four language groups plus a NULL-lang one; a double signal with
    NULLs and ties and an int signal."""
    langs = ["en", "de", "fr", "xx", None]
    rows = [
        (i, langs[i % 5],
         None if i % 11 == 3 else float((i * 37) % 23) / 7.0,
         (i * 13) % 17)
        for i in range(120)
    ]
    return spark.createDataFrame(
        rows, "doc_id long, lang string, d double, n int"
    )


def _scalar_bound(c, p, exact):
    """The per-quantile form: one aggregate (and one buffer) per bound."""
    if exact:
        q = F.expr(f"percentile({c}, {p})")
    else:
        q = F.percentile_approx(F.col(c).cast("double"), p, 10000)
    return round_half_up(q.cast("double"), 6)


def _scalar_thresholds(df, cols, exact) -> dict:
    """{(lang, col, profile): (lo, hi)} from scalar percentile calls."""
    aggs = [
        _scalar_bound(c, p, exact).alias(f"{c}|{prof}|{i}")
        for c in cols
        for prof, bounds in QUANTILE_PROFILES.items()
        for i, p in enumerate(bounds)
    ]
    out = {}
    for r in df.groupBy("lang").agg(*aggs).collect():
        for c in cols:
            for prof in QUANTILE_PROFILES:
                out[r.lang, c, prof] = (r[f"{c}|{prof}|0"], r[f"{c}|{prof}|1"])
    return out


def test_one_buffer_thresholds_match_scalar_percentiles(spark):
    """per_lang_thresholds' one array-valued aggregate per signal gives the
    bounds the scalar per-quantile calls give, bit for bit: exact and
    approximate, every profile, NULL values, an int column and a NULL-lang
    group."""
    df = _threshold_frame(spark)
    cols = ["d", "n"]
    for exact in (True, False):
        want = _scalar_thresholds(df, cols, exact)
        for prof, (p_low, p_high) in QUANTILE_PROFILES.items():
            th = per_lang_thresholds(df, cols, p_low=p_low, p_high=p_high,
                                     exact=exact).collect()
            assert len(th) == 5 and None in {r.lang for r in th}
            for r in th:
                for c in cols:
                    got = (r[f"{c}_lo"], r[f"{c}_hi"])
                    assert got == want[r.lang, c, prof], (exact, prof, r.lang, c)


def _scalar_survivors(df, cols, exact, profile_of) -> set:
    """doc_ids whose every signal lies within the scalar per-quantile
    bounds of its language's profile; NULL values and the NULL-lang group
    never survive."""
    th = _scalar_thresholds(df, cols, exact)
    keep = set()
    for r in df.collect():
        if r.lang is None:
            continue
        bounds = [th[r.lang, c, profile_of(r.lang)] for c in cols]
        if all(
            r[c] is not None and lo is not None and lo <= r[c] <= hi
            for c, (lo, hi) in zip(cols, bounds)
        ):
            keep.add(r.doc_id)
    return keep


def _profile_of(lang):
    return thresholds.LANG_PROFILE.get(lang, thresholds.DEFAULT_PROFILE)


def test_profiled_quantile_filter_survivors_match_scalar(spark, monkeypatch):
    """profiled_quantile_filter keeps exactly the rows the scalar
    per-quantile thresholds keep, with each language on a different
    profile (all four in use); NULL signal values and the NULL-lang group
    never survive."""
    monkeypatch.setattr(thresholds, "LANG_PROFILE", {
        "en": "strict", "de": "stricter", "fr": "strictest",
    })
    df = _threshold_frame(spark)
    cols = ["d", "n"]
    for exact in (True, False):
        want = _scalar_survivors(df, cols, exact, _profile_of)
        got = {
            r.doc_id
            for r in profiled_quantile_filter(df, cols, exact=exact).collect()
        }
        assert got == want, exact
        assert 0 < len(got) < df.count()


def _filter_cases(df, cols):
    """(name, filter(df, exact), profile a language's bounds come from)
    for both threshold filters."""
    return [
        ("profiled", lambda exact: profiled_quantile_filter(df, cols, exact=exact), _profile_of),
        ("quantile", lambda exact: quantile_filter(df, cols, exact=exact), lambda lang: "regular"),
    ]


def test_threshold_filters_literal_edge_cases(spark, monkeypatch):
    """Both filters bake the bounds into a literal predicate. They keep
    exactly the scalar reference's survivors for a language value that
    needs SQL quoting (a quote and a backslash, on its own profile), a
    language whose signal is all NULL (NULL bounds, no survivors), a
    language not in LANG_PROFILE and a NULL language."""
    odd = "it's a \\ lang"
    monkeypatch.setattr(thresholds, "LANG_PROFILE", {"en": "strict", odd: "stricter"})
    langs = ["en", odd, "nulls", "xx", None]
    rows = [
        (i, langs[i % 5],
         None if langs[i % 5] == "nulls" or i % 13 == 4 else float((i * 37) % 23) / 7.0,
         (i * 13) % 17)
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string, d double, n int")
    cols = ["d", "n"]
    for name, run, profile_of in _filter_cases(df, cols):
        for exact in (True, False):
            want = _scalar_survivors(df, cols, exact, profile_of)
            got = {r.doc_id for r in run(exact).collect()}
            assert got == want, (name, exact)
            kept_langs = {langs[i % 5] for i in got}
            assert kept_langs == {"en", odd, "xx"}, (name, exact, kept_langs)


def test_threshold_filters_empty_and_many_languages(spark):
    """Empty input gives an empty frame with the input schema and no
    error; 200 languages plan, run and keep the scalar reference's
    survivors, with the filter compiled: codegen fallback is off for that
    case, so a predicate Janino cannot compile fails the test instead of
    running interpreted (measured with one predicate branch per language:
    ``InternalCompilerException``, code grows beyond 64 KB)."""
    schema = "doc_id long, lang string, d double, n int"
    empty = spark.createDataFrame([], schema)
    for name, run, _ in _filter_cases(empty, ["d", "n"]):
        for exact in (True, False):
            out = run(exact)
            assert out.schema == empty.schema, (name, exact)
            assert out.collect() == [], (name, exact)
    rows = [
        (i, f"l{i % 200:03d}", float((i * 37) % 23) / 7.0, (i * 13) % 17)
        for i in range(2000)
    ]
    df = spark.createDataFrame(rows, schema)
    fallback = spark.conf.get("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try:
        for name, run, profile_of in _filter_cases(df, ["d", "n"]):
            for exact in (True, False):
                want = _scalar_survivors(df, ["d", "n"], exact, profile_of)
                got = {r.doc_id for r in run(exact).collect()}
                assert got == want, (name, exact)
                assert 0 < len(got) < len(rows)
    finally:
        spark.conf.set("spark.sql.codegen.fallback", fallback)


def test_langid_markers(spark):
    cases = {
        "the cat and the dog is here with this": "en",
        "der hund und die katze ist nicht hier": "de",
        "le chat et la maison est dans les champs": "fr",
        "el perro es una casa para los gatos": "es",
        "il cane non sono della casa anche che": "it",
        "зелёный кот сидит дома": "und",
        "这是一个中文文档测试页面": "zh",
    }
    df = spark.createDataFrame([(t,) for t in cases], "text string")
    got = {r.text: r.langid for r in with_langid(df).select("text", "langid").collect()}
    for text, want in cases.items():
        assert got[text] == want, (text, got[text], want)


def test_langid_fixture_accuracy(spark, pages_small):
    """On clean fixture pages with correct tags, lexicon langid should hit
    the tag most of the time (contaminated rows excluded by construction
    is impossible here, so just require a solid majority)."""
    scored = with_langid(pages_small).select("lang", F.col("langid").alias("pred"))
    total = scored.count()
    hit = scored.where(F.col("lang") == F.col("pred")).count()
    assert hit / total > 0.8


def test_quality_classifier_learns_disjoint_vocab(spark):
    """Hashed-LR classifier: 3 exact-GD iterations separate two classes
    with disjoint vocabularies; scores/pred align with labels; weights
    are integers (micro-unit contract) and deterministic across runs."""
    from pyspark.sql import functions as F
    from redpajama_v2_processing_spark.operators.quality_classifier import (
        classifier_scores, weights_frame)

    rows = [(i, "good clean prose reference encyclopedia" if i % 2 == 0
             else "spam casino pills winner jackpot click")
            for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    label = F.col("doc_id") % 2 == 0

    out = {r.id: r for r in classifier_scores(df, label, "doc_id").collect()}
    assert len(out) == 40
    for i, r in out.items():
        assert r.pred == (i % 2 == 0), (i, r)
        assert isinstance(r.margin_micro, int)
        assert (r.score4 > 0.5) == (i % 2 == 0)

    w1 = sorted((r.j, r.w_micro) for r in weights_frame(df, label, "doc_id").collect())
    w2 = sorted((r.j, r.w_micro) for r in weights_frame(df, label, "doc_id").collect())
    assert w1 == w2
    assert any(w != 0 for _, w in w1)
