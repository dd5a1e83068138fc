"""Unit tests: tokenization, normalization, fingerprints, signals —
hand-computed expectations on tiny inline frames."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from redpajama_v2_processing_spark.functions.signals import with_signals
from redpajama_v2_processing_spark.functions.text import (
    fingerprint_hex, normalize, tokens, word_ngrams,
)
from tests.conftest import docs_frame


def test_tokens_edges(spark):
    df = spark.createDataFrame(
        [("",), ("   ",), ("a b  c",), ("\n x \n",)], "text string"
    )
    out = [r[0] for r in df.select(tokens(F.col("text"))).collect()]
    assert out == [[], [], ["a", "b", "c"], ["x"]]


def test_normalize_and_fingerprint(spark):
    df = spark.createDataFrame([("  Hello\t WORLD ",), ("hello world",)], "text string")
    fps = [r[0] for r in df.select(fingerprint_hex(F.col("text"))).collect()]
    assert fps[0] == fps[1]  # case/whitespace-insensitive identity
    norms = [r[0] for r in df.select(normalize(F.col("text"))).collect()]
    assert norms == ["hello world", "hello world"]


def test_word_ngrams(spark):
    df = spark.createDataFrame([(["a", "b", "c", "d"],), (["a"],)], "t array<string>")
    out = [r[0] for r in df.select(word_ngrams(F.col("t"), 2)).collect()]
    assert out == [["a b", "b c", "c d"], []]


def test_signals_hand_computed(spark):
    text = "the cat sat.\nthe cat sat.\nxy"
    df = docs_frame(spark, [text])
    row = with_signals(df).collect()[0]
    assert row.number_of_words == 7
    assert row.number_of_lines == 3
    assert row.number_of_characters == len(text)
    # tokens: the cat sat. the cat sat. xy -> lengths 3,3,4,3,3,4,2 = 22
    assert row.mean_word_length == round(22 / 7, 6)
    assert row.words_per_line_mean == round(7 / 3, 6)
    assert row.short_line_ratio == 1.0  # all lines < 30 chars
    assert row.lines_end_in_punctuation == round(2 / 3, 6)
    # specials: the two '.' chars
    assert row.special_char_ratio == round(2 / len(text), 6)
    # stopwords: 'the' twice out of 7
    assert row.stop_word_fraction == round(2 / 7, 6)
    # word bigrams: 6 total, distinct = {'the cat','cat sat.','sat. the','sat. xy'} = 4
    assert row.word_repetition_2gram == round(1 - 4 / 6, 6)


def test_signals_empty_doc(spark):
    row = with_signals(docs_frame(spark, [""])).collect()[0]
    assert row.number_of_words == 0
    assert row.mean_word_length == 0.0
    assert row.stop_word_fraction == 0.0
    assert row.char_repetition_5gram == 0.0


def test_entropy_hand_computed(spark):
    from redpajama_v2_processing_spark.operators.entropy import unigram_entropy

    df = docs_frame(spark, ["a a b", "", "x"])
    out = {r.doc_id: r.unigram_entropy for r in unigram_entropy(df, "doc_id").collect()}
    # a a b: ln(3) - (2 ln2 + 1 ln1)/3, via the engine's micro-unit
    # contract (ln terms quantized to 1e-6 before the order-independent
    # integer sum; final round is the floor(x*1e6 + 0.5) idiom)
    s_micro = 2 * math.floor(math.log(2) * 1e6 + 0.5)
    e = math.log(3) - (s_micro / 1e6) / 3
    assert out[0] == math.floor(e * 1e6 + 0.5) / 1e6
    assert out[1] == 0.0
    assert out[2] == 0.0


def test_token_counts(spark):
    from redpajama_v2_processing_spark.functions.text import (
        subword_count, ws_token_count,
    )

    df = spark.createDataFrame(
        [(0, "Hello, world! abc123 x"), (1, ""), (2, "   ")],
        "doc_id long, text string",
    )
    out = {r.doc_id: (r.ws, r.sw) for r in df.select(
        "doc_id",
        ws_token_count("text").alias("ws"),
        subword_count("text").alias("sw"),
    ).collect()}
    # "Hello, world! abc123 x" -> ws: 4; subwords: Hello , world ! abc 123 x = 7
    assert out[0] == (4, 7)
    assert out[1] == (0, 0) and out[2] == (0, 0)


def test_duplicate_line_signals_values(spark):
    from redpajama_v2_processing_spark.functions.signals import (
        duplicate_line_signals,
    )

    df = spark.createDataFrame(
        [
            (0, "a\nb\na\n\nc"),      # non-empty lines a,b,a,c -> 1 dup of 4
            (1, ""),                    # empty doc -> 0.0
            (2, "x\ny"),               # no dups
            (3, "same line\nsame line"),  # all dup mass
        ],
        "doc_id long, text string",
    )
    out = {
        r.id: (r.dup_line_fraction, r.dup_line_char_fraction)
        for r in duplicate_line_signals(df, "doc_id").collect()
    }
    assert out[0] == (0.25, 0.25)
    assert out[1] == (0.0, 0.0)
    assert out[2] == (0.0, 0.0)
    assert out[3] == (0.5, 0.5)


def test_winnow_fingerprint_guarantee(spark):
    """Winnowing guarantee: docs sharing a substring of length >= k+w-1
    share at least one fingerprint; disjoint-alphabet docs share none;
    identical docs have identical fingerprint sets."""
    from redpajama_v2_processing_spark.operators.winnow import winnow_fingerprints

    shared = "the quick brown fox jumps over the lazy dog"
    df = spark.createDataFrame(
        [
            (0, f"prefix alpha {shared} suffix beta"),
            (1, f"totally other start {shared} and another end"),
            (2, "zzz www qqq kkk vvv xxx yyy uuu"),
            (3, f"prefix alpha {shared} suffix beta"),
        ],
        "doc_id long, text string",
    )
    fps = winnow_fingerprints(df, "doc_id").collect()
    by_doc = {}
    for r in fps:
        by_doc.setdefault(r.id, set()).add(r.fp)
    assert by_doc[0] & by_doc[1]          # shared substring detected
    assert not (by_doc[0] & by_doc[2])    # disjoint docs share nothing
    assert by_doc[0] == by_doc[3]         # identical docs identical sets


def test_winnow_near_dup_pairs(spark):
    """Substring near-dup pairs: containment is detected via shared rare
    fingerprints; boilerplate (high-document-frequency fingerprints) never
    creates pairs once max_df drops it."""
    from redpajama_v2_processing_spark.operators.winnow import (
        winnow_near_dup_pairs,
    )

    shared = "the quick brown fox jumps over the lazy dog near the river"
    rows = [
        (0, f"prefix alpha {shared} suffix beta"),
        (1, f"other start {shared} another end"),  # contains doc0's core
        (2, "zzz www qqq kkk vvv xxx yyy uuu distinct content entirely"),
    ]
    # 12 docs sharing ONLY a boilerplate banner: with max_df=10 the
    # banner's fingerprints have df=12 > 10 -> no pairs among them
    rows += [(10 + i, "standard cookie banner accept terms") for i in range(12)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {
        (r.src, r.dst): r.shared
        for r in winnow_near_dup_pairs(df, "doc_id", min_shared=2).collect()
    }
    assert (0, 1) in pairs and pairs[(0, 1)] >= 2
    assert all(s < 10 for s, _ in pairs)  # no boilerplate-flood pairs


def test_winnow_dedup_keep_folds_fragment_into_parent(spark):
    """Substring-dedup keep-list: a doc that is a verbatim fragment of a
    larger doc merges into its parent's component (min id kept); unrelated
    docs stay singletons."""
    from redpajama_v2_processing_spark.operators.winnow import (
        winnow_dedup_keep,
    )

    body = (
        "a long and very specific passage about distributed winnowing "
        "fingerprints selected from sliding windows of character grams "
        "which guarantees coverage of any sufficiently long substring"
    )
    df = spark.createDataFrame(
        [
            (0, f"intro words {body} closing words"),
            (1, body),  # contained fragment -> containment ~1.0
            (2, "entirely different content with no overlap whatsoever "
                "talking about orthogonal matters in distinct vocabulary"),
        ],
        "doc_id long, text string",
    )
    keep = {r.id for r in winnow_dedup_keep(df, "doc_id").collect()}
    assert keep == {0, 2}


def test_c4_filter_rules(spark):
    """C4 line + page rules: short/unpunctuated lines drop, pages keep
    only with >= 3 retained lines, braces and lorem ipsum kill pages."""
    from redpajama_v2_processing_spark.functions.c4 import c4_filter

    good = ("this line has plenty of words and ends well.\n"
            "another fine sentence with enough words here!\n"
            "short one.\n"
            "a third fully valid sentence closes the page?")
    rows = [
        (0, good),
        (1, good + "\nvar x = { a: 1 }"),           # brace -> dropped
        (2, good.replace("closes", "lorem ipsum")), # lorem -> dropped
        (3, "only one good sentence here today.\nno punct line\nshort."),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.id: r.clean_text for r in c4_filter(df, "doc_id").collect()}
    assert set(out) == {0}
    # the short line was removed, the three valid lines survive in order
    assert out[0].count("\n") == 2 and "short one." not in out[0]


def test_gopher_signals_values(spark):
    """Gopher shape heuristics compute exact fractions."""
    from redpajama_v2_processing_spark.functions.signals import gopher_signals

    df = spark.createDataFrame(
        [(0, "- bullet line here\nplain line text\ntrailing dots line...\n"
             "num 123 ### mix")],
        "doc_id long, text string",
    )
    r = gopher_signals(df, "doc_id").collect()[0]
    assert r.bullet_line_fraction == 0.25       # 1 of 4 lines
    assert r.ellipsis_line_fraction == 0.25     # 1 of 4 lines
    # symbols: 3 '#' + 1 '...' = 4 over 14 words
    assert r.symbol_word_ratio == round(4 / 14, 6)
    # non-alpha words: '-', '123', '###' -> 11/14 alpha
    assert r.alpha_word_fraction == round(11 / 14, 6)


def test_dedup_lines_keeps_first_occurrence_order(spark):
    """Within-doc duplicate-line removal: first occurrence kept, order
    preserved; empty and NULL docs yield ''."""
    from redpajama_v2_processing_spark.functions.signals import dedup_lines

    df = spark.createDataFrame(
        [(0, "a\nb\na\nc\nb"), (1, "only"), (2, ""), (3, None),
         (4, "x\nx\nx")],
        "doc_id long, text string",
    )
    out = {r.id: r.clean_text for r in dedup_lines(df, "doc_id").collect()}
    assert out[0] == "a\nb\nc"
    assert out[1] == "only"
    assert out[2] == "" and out[3] == ""
    assert out[4] == "x"


def test_fineweb_filter_rules(spark):
    """FineWeb composite filter: punctuation-poor pages drop, short-line
    walls drop, duplicated-line mass drops; a healthy page keeps; empty
    docs score 0.0 everywhere (and drop on the punct rule)."""
    from redpajama_v2_processing_spark.functions.fineweb import fineweb_filter

    LONG = "this is a perfectly reasonable sentence of some length here"
    docs = spark.createDataFrame([
        (0, f"{LONG}.\n{LONG} two.\n{LONG} three."),          # healthy
        (1, f"{LONG}\n{LONG} two\n{LONG} three"),             # no punctuation
        (2, "hi.\nok.\nyes.\nno.\nshort.\ntiny."),            # short-line wall
        (3, f"{LONG}.\n{LONG}.\n{LONG}.\n{LONG} unique."),    # dup mass
        (4, ""),                                              # empty
    ], "doc_id long, text string")
    out = {r.id: r for r in fineweb_filter(docs, "doc_id").collect()}
    assert out[0].keep
    assert not out[1].keep and out[1].punct_line_frac == 0.0
    assert not out[2].keep and out[2].short_line_frac == 1.0
    assert not out[3].keep and out[3].dup_line_char_frac > 0.10
    assert not out[4].keep and out[4].punct_line_frac == 0.0


def test_gopher_filter_rules(spark):
    """Composed Gopher deletion rule: each clause independently kills a
    crafted page; a healthy page with stop words survives."""
    from redpajama_v2_processing_spark.functions.signals import gopher_filter

    good = (
        "the quick brown fox jumps over that lazy dog and runs away with "
        "great speed to be seen of all the other animals that have come "
        "here to watch the daily race with much interest and delight today"
    )
    docs = spark.createDataFrame([
        (0, good),                                    # healthy -> keep
        (1, "too short to pass the word count rule"), # < min_words
        (2, good + " " + "#" * 40),                   # symbol ratio
        (3, "\n".join("- bullet line item" for _ in range(10))),  # bullets
        (4, good.replace("the", "zq").replace("and", "qz")
               .replace("that", "jx").replace("with", "xj")
               .replace("to", "vv").replace("of", "ww")
               .replace("be", "yy").replace("have", "kk")),  # no stop words
        (5, "\n".join(["same line of text repeated here"] * 6
                      + [good])),                     # dup-line mass
    ], "doc_id long, text string")
    out = {r.id: r.keep for r in
           gopher_filter(docs, "doc_id", min_words=10).collect()}
    assert out[0] is True
    assert out[1] is False            # word count
    assert out[2] is False            # symbol/word ratio
    assert out[3] is False            # bullet fraction (and stops)
    assert out[4] is False            # stop-word presence
    assert out[5] is False            # duplicate-line caps


def test_chunk_documents_window_contract(spark):
    """Every token covered, consecutive chunks share `overlap` tokens,
    no trailing chunk fully contained in the previous; short docs emit
    one chunk; empty docs emit none."""
    from redpajama_v2_processing_spark.functions.chunking import (
        chunk_documents,
    )

    texts = {0: " ".join(f"w{i}" for i in range(100)),   # 2 chunks
             1: " ".join(f"w{i}" for i in range(64)),    # exactly 1
             2: " ".join(f"w{i}" for i in range(65)),    # 2 (9-token tail)
             3: "one two",                               # 1 short chunk
             4: ""}                                      # none
    df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    rows = chunk_documents(df, "doc_id", max_tokens=64, overlap=8).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.id, {})[r.chunk_idx] = r
    assert set(by_doc[0]) == {0, 1} and set(by_doc[1]) == {0}
    assert set(by_doc[2]) == {0, 1} and 4 not in by_doc
    assert by_doc[3][0].chunk_text == "one two" and by_doc[3][0].n_tokens == 2
    # coverage + overlap: doc 0 = tokens 0..99, stride 56
    c0, c1 = by_doc[0][0], by_doc[0][1]
    assert c0.n_tokens == 64 and c0.chunk_text.startswith("w0 ")
    assert c1.n_tokens == 44 and c1.chunk_text.startswith("w56 ")
    assert c0.chunk_text.split()[-8:] == c1.chunk_text.split()[:8]
    # doc 2's tail window adds new tokens beyond the overlap
    assert by_doc[2][1].n_tokens == 9


def test_token_offsets_and_pack_blocks(spark):
    """Two-level prefix scan equals a Python cumsum on non-contiguous
    ids spanning several buckets; block spans cover exactly each doc's
    [start, start + n + eod) range."""
    from redpajama_v2_processing_spark.functions.chunking import (
        pack_blocks, with_token_offsets,
    )

    rows = [(i, " ".join(f"w{j}" for j in range(cnt)))
            for i, cnt in [(0, 5), (3, 0), (7, 10), (2050, 4), (9000, 7)]]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.id: (r.n_tokens, r.start_offset)
           for r in with_token_offsets(df, "doc_id", bucket_size=1024).collect()}
    off, expected = 0, {}
    for i, cnt in [(0, 5), (3, 0), (7, 10), (2050, 4), (9000, 7)]:
        expected[i] = (cnt, off)
        off += cnt + 1
    assert got == expected
    # bucket_size=2 forces MANY buckets AND many super-buckets (ids up
    # to 9000 -> ~4.5k buckets, ~2.2k super-buckets), exercising all
    # three scan levels; the layout must be bucket-size invariant
    got_small = {
        r.id: (r.n_tokens, r.start_offset)
        for r in with_token_offsets(df, "doc_id", bucket_size=2).collect()
    }
    assert got_small == expected

    blocks = pack_blocks(df, "doc_id", block_tokens=8, bucket_size=1024).collect()
    spans = {}
    for r in blocks:
        spans.setdefault(r.id, []).append(r.block_idx)
    for i, cnt in [(0, 5), (3, 0), (7, 10), (2050, 4), (9000, 7)]:
        s = expected[i][1]
        want = list(range(s // 8, (s + cnt + 1 - 1) // 8 + 1))
        assert sorted(spans[i]) == want, (i, spans[i], want)


def test_encoding_noise_signals_and_filter(spark):
    from redpajama_v2_processing_spark.functions.encoding import with_encoding_noise

    moji = "cafÃ© quote â€œ here"  # 2 mojibake marks
    docs = spark.createDataFrame(
        [
            (0, "clean text with nothing wrong " * 20),
            (1, "broken " + moji),
            (2, "lost bytes �� here"),   # 2 replacement chars
            (3, "ctrl\x01\x02 chars"),             # 2 C0 controls
            (4, None),
        ],
        "doc_id long, text string",
    )
    noisy = with_encoding_noise(docs)
    sig = {r.doc_id: r for r in noisy.collect()}
    assert (sig[0].n_replacement, sig[0].n_ctrl, sig[0].n_mojibake) == (0, 0, 0)
    assert sig[0].noise_ratio == 0.0
    assert sig[1].n_mojibake == 2 and sig[1].n_replacement == 0
    assert sig[2].n_replacement == 2
    assert sig[3].n_ctrl == 2
    assert (sig[4].n_replacement, sig[4].n_ctrl, sig[4].n_mojibake) == (0, 0, 0)
    assert sig[4].noise_ratio == 0.0

    budget = (F.col("n_replacement") == 0) & (F.col("noise_ratio") <= 0.002)
    kept = sorted(r.doc_id for r in noisy.where(budget).collect())
    # 1 and 3 fail the ratio budget on short text; 2 has replacement chars
    assert kept == [0, 4]


def test_source_quality_report_rates(spark):
    """Rates are exact fractions of the per-doc keep labels."""
    from pyspark.sql import functions as F

    from redpajama_v2_processing_spark.functions.signals import with_signals
    from redpajama_v2_processing_spark.operators.quality_filter import (
        source_quality_report, with_quality_label,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    rep = {r.source: r for r in source_quality_report(docs).collect()}
    lab = (
        with_quality_label(with_signals(docs))
        .groupBy("source")
        .agg(F.count("*").alias("n"), F.sum(F.col("keep").cast("int")).alias("k"))
    )
    for r in lab.collect():
        assert rep[r.source].n_docs == r.n
        assert rep[r.source].n_keep == r.k
        assert rep[r.source].keep_rate == round(r.k / r.n, 6)


def test_script_ratios_multilingual(spark):
    from redpajama_v2_processing_spark.functions.encoding import with_script_ratios

    docs = spark.createDataFrame(
        [
            (0, "abcde"),            # 5/5 latin
            (1, "приве́т!!"),          # cyrillic + marks/punct
            (2, "日本語 text"),        # cjk + latin mix
            (3, "1234 ..."),          # no letters
            (4, None),
        ],
        "doc_id long, text string",
    )
    sig = {r.doc_id: r for r in with_script_ratios(docs).collect()}
    assert sig[0].latin_ratio == 1.0 and sig[0].letter_ratio == 1.0
    assert sig[1].cyrillic_ratio > 0.5 and sig[1].latin_ratio == 0.0
    assert sig[2].cjk_ratio == round(3 / 8, 6)
    assert sig[2].latin_ratio == round(4 / 8, 6)
    assert sig[3].letter_ratio == 0.0
    assert sig[4].letter_ratio == 0.0


def test_lang_script_mismatch_gate(spark):
    from redpajama_v2_processing_spark.functions.encoding import (
        with_lang_script_check,
    )

    docs = spark.createDataFrame(
        [
            (0, "plain english words here", "en"),      # consistent
            (1, "plain english words here", "zh"),      # declared zh, no CJK
            (2, "日本語のテキストです", "ja"),             # consistent CJK
            (3, "plain text", "xx"),                    # unmapped lang
            (4, None, "en"),                            # null text -> ratio 0
        ],
        "doc_id long, text string, lang string",
    )
    out = {r.doc_id: r for r in with_lang_script_check(docs).collect()}
    assert out[0].script_mismatch is False and out[0].expected_script == "latin"
    assert out[1].script_mismatch is True and out[1].expected_script == "cjk"
    assert out[2].script_mismatch is False
    assert out[3].expected_script == "unknown" and out[3].script_mismatch is False
    assert out[4].script_mismatch is True  # a null 'en' doc carries no latin
