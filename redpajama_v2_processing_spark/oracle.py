"""DuckDB oracle-SQL generators.

Each function returns a self-contained DuckDB SQL string that reproduces the
matching Spark operator EXACTLY (same config constants from config.py, same
tokenization/normalization/hash contracts, same rounding). The driver runs
these side-by-side with the Spark queries and value-hash-compares.

Portable-hash contract (verified cross-engine):
  md5int(s)  = first 15 hex chars of md5(s) as a 60-bit bigint
  Spark: cast(conv(substr(md5(s),1,15),16,10) as bigint)
  DuckDB: ('0x' || substr(md5(s),1,15))::BIGINT
  xxhash64(s) = Spark's F.xxhash64(s) (XXH64, seed 42, UTF-8 bytes)
  DuckDB: oracle.xxhash64 (plain SQL over UHUGEINT, no registered function)
"""

from __future__ import annotations

from .config import (
    ANN_ROUND,
    ANN_TOPK,
    FLAGGED_WORDS,
    LANG_MARKERS,
    LANGID_DEFAULT,
    ORACLE_MINHASH,
    PII_PATTERNS,
    QUALITY_RULES,
    SESSION_GAP_MINUTES,
    SHORT_LINE_CHARS,
    SIMHASH_BITS,
    STOPWORDS,
)

# ---------------------------------------------------------------------------
# Shared snippets
# ---------------------------------------------------------------------------


def sql_list(words) -> str:
    return "[" + ", ".join(f"'{w}'" for w in words) + "]"


def md5int(expr: str) -> str:
    return f"(('0x' || substr(md5({expr}), 1, 15))::BIGINT)"


_XXH_P1, _XXH_P2, _XXH_P3 = 0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9
_XXH_P4, _XXH_P5 = 0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5
_M64 = (1 << 64) - 1


def _u(v: int) -> str:
    return f"{v}::UHUGEINT"


def _mod64(e: str) -> str:
    return f"(({e}) & {_u(_M64)})"


def _rotl(x: str, r: int) -> str:
    return _mod64(f"(({x}) << {r}) | (({x}) >> {64 - r})")


def _xxh_round(acc: str, lane: str) -> str:
    return _mod64(
        f"{_rotl(_mod64(f'({acc}) + ({lane}) * {_u(_XXH_P2)}'), 31)} * {_u(_XXH_P1)}"
    )


def _let(value: str, name: str, body: str) -> str:
    """``body`` with ``name`` bound to ``value`` (a one-element lambda)."""
    return f"list_transform([{value}], {name} -> {body})[1]"


def xxhash64(expr: str) -> str:
    """Spark's ``xxhash64(expr)`` over a VARCHAR: XXH64 of the UTF-8 bytes
    with seed 42, as a signed BIGINT. Plain SQL, so every oracle using it
    stays self-contained: the 64-bit lanes are UHUGEINTs masked to 64 bits
    after each multiply (a product of two 64-bit values fits in 128), the
    stripe and tail loops are list_reduce folds over the byte list."""
    seed = 42
    p1, p2, p3, p4, p5 = (_u(p) for p in (_XXH_P1, _XXH_P2, _XXH_P3, _XXH_P4, _XXH_P5))
    hx = f"hex(encode({expr}))"
    byte_list = (
        f"list_transform(range(0, octet_length(encode({expr}))), "
        f"_i -> (('0x' || substr({hx}, 2 * _i + 1, 2))::INTEGER)::UHUGEINT)"
    )

    def word(start: str, width: int) -> str:  # little-endian, from _b
        return "(" + " | ".join(
            f"(_b[{start} + {k + 1}] << {8 * k})" for k in range(width)
        ) + ")"

    words = f"list_transform(range(0, len(_b) // 8), _j -> {word('8 * _j', 8)})"
    # 32-byte stripes: lane l folds every 4th word from word l
    init = (seed + _XXH_P1 + _XXH_P2, seed + _XXH_P2, seed, seed - _XXH_P1)
    merged = _mod64(" + ".join(
        _rotl(f"_v{lane}", r) for lane, r in enumerate((1, 7, 12, 18))
    ))
    for lane in range(4):
        merged = _mod64(f"xor({merged}, {_xxh_round(_u(0), f'_v{lane}')}) * {p1} + {p4}")
    for lane in reversed(range(4)):
        fold = (
            f"list_reduce([{_u(init[lane] & _M64)}] || list_transform("
            f"range(0, len(_b) // 32), _s -> _w[4 * _s + {lane + 1}]), "
            f"(_a, _x) -> {_xxh_round('_a', '_x')})"
        )
        merged = _let(fold, f"_v{lane}", merged)
    h = _mod64(
        f"(CASE WHEN len(_b) >= 32 THEN {merged} "
        f"ELSE {_u((seed + _XXH_P5) & _M64)} END) + len(_b)::UHUGEINT"
    )
    # the 8-byte words after the stripes, then one 4-byte word, then bytes
    step8 = _mod64(_rotl(f"xor(_a, {_xxh_round(_u(0), '_x')})", 27) + f" * {p1} + {p4}")
    h = (f"list_reduce([{h}] || _w[4 * (len(_b) // 32) + 1:len(_b) // 8], "
         f"(_a, _x) -> {step8})")
    k4 = _mod64(f"{word('8 * (len(_b) // 8)', 4)} * {p1}")
    step4 = _mod64(_rotl(f"xor(_h, {k4})", 23) + f" * {p2} + {p3}")
    h = _let(h, "_h", f"CASE WHEN len(_b) % 8 >= 4 THEN {step4} ELSE _h END")
    tail = ("_b[8 * (len(_b) // 8) + (CASE WHEN len(_b) % 8 >= 4 THEN 4 ELSE 0 END)"
            " + 1:len(_b)]")
    step1 = _mod64(_rotl(f"xor(_a, {_mod64(f'_x * {p5}')})", 11) + f" * {p1}")
    h = f"list_reduce([{h}] || {tail}, (_a, _x) -> {step1})"
    h = _let(h, "_h", _mod64(f"xor(_h, _h >> 33) * {p2}"))
    h = _let(h, "_h", _mod64(f"xor(_h, _h >> 29) * {p3}"))
    signed = (
        "(CASE WHEN _h >= (1::UHUGEINT << 63) THEN _h::HUGEINT - (1::HUGEINT << 64) "
        "ELSE _h::HUGEINT END)::BIGINT"
    )
    h = _let(_let(h, "_h", "xor(_h, _h >> 32)"), "_h", signed)
    return _let(byte_list, "_b", _let(words, "_w", h))


def _strip_ws(expr: str) -> str:
    return f"regexp_replace(regexp_replace({expr}, '^\\s+', ''), '\\s+$', '')"


def tokens(expr: str) -> str:
    # mirrors functions/text.py tokens(): strip outer \s, split on \s+ runs
    s = _strip_ws(expr)
    return (
        f"(CASE WHEN {s} = '' THEN []::VARCHAR[] "
        f"ELSE regexp_split_to_array({s}, '\\s+') END)"
    )


def norm(expr: str) -> str:
    return f"trim(regexp_replace(lower({expr}), '\\s+', ' ', 'g'))"


def ratio(num: str, den: str) -> str:
    return f"(CASE WHEN {den} = 0 THEN 0.0 ELSE ({num})::DOUBLE / ({den})::DOUBLE END)"


def round_hu(expr: str, digits: int = 6) -> str:
    """floor(x*10^d + 0.5)/10^d — the DuckDB twin of
    functions/vectors.round_half_up: deterministic cross-engine rounding
    for INEXACT doubles (cosines). Same IEEE op sequence as the Spark
    side, so results are bit-identical."""
    scale = 10 ** digits
    return f"(floor(({expr}) * {scale}.0 + 0.5) / {scale}.0)"


def ratio6(num: str, den: str, digits: int = 6) -> str:
    """round(num/den, digits) via the deterministic floor idiom — the
    DuckDB twin of functions/signals.ratio6: round_hu over the guarded
    quotient, composed from the two shared helpers so the idiom exists
    in exactly one place per engine."""
    return round_hu(ratio(num, den), digits)


_LINES = "string_split(text, chr(10))"

# signal expressions over a relation providing (text, t) where t = tokens
_SIGNALS: dict[str, str] = {
    "number_of_words": "len(t)::BIGINT",
    "number_of_lines": f"len({_LINES})::BIGINT",
    "number_of_characters": "length(text)::BIGINT",
    "mean_word_length": ratio6(
        "list_aggregate(list_transform(t, w -> length(w)), 'sum')", "len(t)"),
    "words_per_line_mean": ratio6("len(t)", f"len({_LINES})"),
    "short_line_ratio": ratio6(
        f"len(list_filter({_LINES}, l -> length(l) < {SHORT_LINE_CHARS}))",
        f"len({_LINES})"),
    "lines_end_in_punctuation": ratio6(
        f"len(list_filter({_LINES}, l -> regexp_matches(l, '[.!?]\\s*$')))",
        f"len({_LINES})"),
    "special_char_ratio": ratio6(
        "length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))",
        "length(text)"),
    "stop_word_fraction": ratio6(
        f"len(list_filter(t, w -> list_contains({sql_list(STOPWORDS)}, lower(w))))",
        "len(t)"),
    "flagged_word_fraction": ratio6(
        f"len(list_filter(t, w -> list_contains({sql_list(FLAGGED_WORDS)}, lower(w))))",
        "len(t)"),
    "char_repetition_5gram": (
        "(CASE WHEN length(text) < 5 THEN 0.0 ELSE "
        + ratio6(
            "(length(text) - 4) - len(list_distinct(list_transform(range(1, length(text)-3), i -> substr(text, i::INT, 5))))",
            "length(text) - 4",
        )
        + " END)"
    ),
    "char_repetition_10gram": (
        "(CASE WHEN length(text) < 10 THEN 0.0 ELSE "
        + ratio6(
            "(length(text) - 9) - len(list_distinct(list_transform(range(1, length(text)-8), i -> substr(text, i::INT, 10))))",
            "length(text) - 9",
        )
        + " END)"
    ),
    "word_repetition_2gram": (
        "(CASE WHEN len(t) < 2 THEN 0.0 ELSE "
        + ratio6(
            "(len(t) - 1) - len(list_distinct(list_transform(range(1, len(t)), i -> t[i::INT] || ' ' || t[(i+1)::INT])))",
            "len(t) - 1",
        )
        + " END)"
    ),
}


def _signals_cte(table: str = "documents", id_col: str = "doc_id",
                 extra_cols: tuple[str, ...] = ()) -> str:
    cols = ",\n      ".join(f"{expr} AS {name}" for name, expr in _SIGNALS.items())
    ex = "".join(f", {c}" for c in extra_cols)
    return f"""
  tk AS (SELECT {id_col}, lang{ex}, text, {tokens('text')} AS t FROM {table}),
  sig AS (
    SELECT {id_col}, lang{ex},
      {cols}
    FROM tk
  )"""


# ---------------------------------------------------------------------------
# Text-analysis queries
# ---------------------------------------------------------------------------


def q_quality_signals() -> str:
    names = ", ".join(_SIGNALS)
    return f"WITH {_signals_cte()} SELECT doc_id, {names} FROM sig"


def q_unigram_entropy() -> str:
    return f"""
WITH tok AS (SELECT doc_id, unnest({tokens('text')}) AS token FROM documents),
c AS (SELECT doc_id, token, count(*) AS c FROM tok GROUP BY 1, 2),
e AS (
  SELECT doc_id,
    {round_hu("ln(sum(c)::DOUBLE)"
              " - (sum(c * CAST(round(ln(c::DOUBLE) * 1e6) AS BIGINT))::DOUBLE"
              " / 1e6) / sum(c)::DOUBLE", 4)} AS unigram_entropy
  FROM c GROUP BY 1
)
SELECT d.doc_id, coalesce(e.unigram_entropy, 0.0)::DOUBLE AS unigram_entropy
FROM documents d LEFT JOIN e USING (doc_id)"""


def q_perplexity() -> str:
    return f"""
WITH tok AS (SELECT doc_id, unnest({tokens('text')}) AS token FROM documents),
cnt AS (SELECT token, count(*) AS c FROM tok GROUP BY 1),
tot AS (SELECT sum(c) AS t FROM cnt),
lp AS (SELECT token, ln(c::DOUBLE / t::DOUBLE) AS logp FROM cnt, tot),
s AS (
  SELECT doc_id,
    exp(-(sum(CAST(round(logp * 1e6) AS BIGINT))::DOUBLE / 1e6)
        / count(*)::DOUBLE) AS p
  FROM tok JOIN lp USING (token) GROUP BY 1)
SELECT d.doc_id, {round_hu("coalesce(s.p, 0.0)", 4)}::DOUBLE AS perplexity
FROM documents d LEFT JOIN s USING (doc_id)"""


def _bigram_ppl_ctes(lam: float = 0.75, table: str = "documents",
                     lang_col: str = "lang") -> str:
    """CTEs ending in scored(doc_id, lang, p): interpolated word-bigram
    LM perplexity per document (round 4, 0.0 for < 2 tokens) — twin of
    functions/perplexity.with_bigram_perplexity. ``table``/``lang_col``
    let the chain train and score over any (doc_id, text, lang) relation
    (the LM trains on the scored corpus itself, so a gated corpus trains
    a gated LM — the CCNet composition depends on this)."""
    return f"""tk AS (SELECT doc_id, {tokens('text')} AS t FROM {table}),
tok AS (SELECT unnest(t) AS w FROM tk),
uni AS (SELECT w, count(*) AS c1 FROM tok GROUP BY 1),
tot AS (SELECT sum(c1) AS t FROM uni),
bg AS (
  SELECT doc_id, t[i.i::INT] AS w1, t[(i.i+1)::INT] AS w2
  FROM tk, LATERAL (SELECT unnest(range(1, len(t))) AS i) i
  WHERE len(t) >= 2),
bi AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY 1, 2),
s AS (
  SELECT bg.doc_id,
    exp(-(sum(CAST(round(ln({lam} * bi.c2::DOUBLE / u1.c1::DOUBLE
                         + {1 - lam} * u2.c1::DOUBLE / tot.t::DOUBLE) * 1e6)
              AS BIGINT))::DOUBLE / 1e6) / count(*)::DOUBLE) AS p
  FROM bg
  JOIN bi ON bi.w1 = bg.w1 AND bi.w2 = bg.w2
  JOIN uni u1 ON u1.w = bg.w1
  JOIN uni u2 ON u2.w = bg.w2, tot
  GROUP BY bg.doc_id),
scored AS (
  SELECT d.doc_id, d.{lang_col} AS lang, {round_hu("coalesce(s.p, 0.0)", 4)}::DOUBLE AS p
  FROM {table} d LEFT JOIN s USING (doc_id))"""


def q_perplexity_ngram(lam: float = 0.75) -> str:
    """Twin of functions/perplexity.with_bigram_perplexity: interpolated
    (Jelinek-Mercer) word-bigram LM trained on the same corpus, identical
    token contract, same 4-decimal rounding."""
    return (f"WITH {_bigram_ppl_ctes(lam)}\n"
            "SELECT doc_id, p AS perplexity_bigram FROM scored")


def q_perplexity_buckets(lam: float = 0.75) -> str:
    """Twin of functions/perplexity.perplexity_buckets: CCNet-style
    head/middle/tail labels from per-language exact terciles
    (quantile_cont == Spark `percentile`, linear interpolation, same
    literal fractions, 6-decimal rounding)."""
    p = 1.0 / 3.0
    return f"""
WITH {_bigram_ppl_ctes(lam)},
th AS (
  SELECT lang, {round_hu(f"quantile_cont(p, {p!r})")}::DOUBLE AS p33,
         {round_hu(f"quantile_cont(p, {2 * p!r})")}::DOUBLE AS p67
  FROM scored GROUP BY lang)
SELECT s.doc_id, s.lang,
  CASE WHEN s.p <= th.p33 THEN 'head'
       WHEN s.p <= th.p67 THEN 'middle'
       ELSE 'tail' END AS ppl_bucket
FROM scored s JOIN th USING (lang)"""


def q_ccnet_pipeline(min_score: float = 0.02, lam: float = 0.75) -> str:
    """Twin of queries.q_ccnet_pipeline — the CCNet corpus construction
    (Wenzek et al. 2020), the recipe that produced the reference's input
    shards (/root/reference/README.md:24-46): langid gate (score >=
    min_score) then per-DETECTED-language bigram-LM perplexity terciles;
    the LM trains on the GATED corpus (the chain's table parameter), as
    CCNet trains its LM on the language-filtered slice."""
    p = 1.0 / 3.0
    return f"""
WITH gated AS MATERIALIZED (
  SELECT d.doc_id, d.text, l.langid
  FROM documents d JOIN ({q_langid()}) l USING (doc_id)
  WHERE l.score >= {min_score}),
{_bigram_ppl_ctes(lam, table="gated", lang_col="langid")},
th AS (
  SELECT lang, {round_hu(f"quantile_cont(p, {p!r})")}::DOUBLE AS p33,
         {round_hu(f"quantile_cont(p, {2 * p!r})")}::DOUBLE AS p67
  FROM scored GROUP BY lang)
SELECT s.doc_id, s.lang AS langid,
  CASE WHEN s.p <= th.p33 THEN 'head'
       WHEN s.p <= th.p67 THEN 'middle'
       ELSE 'tail' END AS ppl_bucket
FROM scored s JOIN th USING (lang)"""


def _dsir_ctes(buckets: int = 64, every: int = 10) -> str:
    """CTEs ending in s(doc_id, lw) — DSIR hashed-ngram importance
    log-weights in integer micro-units; twin of operators/dsir."""
    return f"""tk AS (SELECT doc_id, {tokens('text')} AS t FROM documents),
gr AS (
  SELECT doc_id, ({md5int('g')} % {buckets}) AS bucket
  FROM (
    SELECT doc_id, unnest(t) AS g FROM tk
    UNION ALL
    SELECT doc_id, t[i.i::INT] || ' ' || t[(i.i+1)::INT] AS g
    FROM tk, LATERAL (SELECT unnest(range(1, len(t))) AS i) i
  )),
dg AS (SELECT doc_id, bucket, count(*) AS c FROM gr GROUP BY 1, 2),
qd AS (SELECT b.b AS bucket, coalesce(sum(g2.c), 0) AS n
       FROM range(0, {buckets}) b(b)
       LEFT JOIN dg g2 ON g2.bucket = b.b GROUP BY 1),
pd AS (SELECT b.b AS bucket, coalesce(sum(g2.c), 0) AS n
       FROM range(0, {buckets}) b(b)
       LEFT JOIN (SELECT bucket, c FROM dg WHERE doc_id % {every} = 0) g2
         ON g2.bucket = b.b GROUP BY 1),
tq AS (SELECT sum(n) AS t FROM qd),
tp AS (SELECT sum(n) AS t FROM pd),
ratio AS (
  SELECT qd.bucket,
    round((ln((pd.n + 1)::DOUBLE / (tp.t + {buckets})::DOUBLE)
         - ln((qd.n + 1)::DOUBLE / (tq.t + {buckets})::DOUBLE)) * 1e6)::BIGINT AS r
  FROM qd JOIN pd USING (bucket), tp, tq),
s AS (SELECT dg.doc_id, sum(dg.c * ratio.r) AS lw
      FROM dg JOIN ratio USING (bucket) GROUP BY 1)"""


def q_dsir_weights(buckets: int = 64, every: int = 10) -> str:
    """Twin of operators/dsir.dsir_log_weights with target = every
    ``every``-th document: identical grams, buckets, smoothing and
    micro-unit ratio table."""
    return f"""
WITH {_dsir_ctes(buckets, every)}
SELECT d.doc_id AS id, coalesce(s.lw / 1000000.0, 0.0)::DOUBLE AS log_weight
FROM documents d LEFT JOIN s USING (doc_id)"""


def q_dsir_topk(k: int = 100, buckets: int = 64, every: int = 10) -> str:
    """Twin of operators/dsir.dsir_select: deterministic top-k by
    log-weight, ties to the smallest id."""
    return f"""
WITH {_dsir_ctes(buckets, every)},
w AS (
  SELECT d.doc_id AS id, coalesce(s.lw / 1000000.0, 0.0)::DOUBLE AS log_weight
  FROM documents d LEFT JOIN s USING (doc_id))
SELECT id, log_weight FROM w ORDER BY log_weight DESC, id LIMIT {k}"""


def q_langid() -> str:
    langs = sorted(LANG_MARKERS)
    hit_cols = ",\n    ".join(
        f"len(list_filter(t, w -> list_contains({sql_list(LANG_MARKERS[lg])}, lower(w)))) AS h_{lg}"
        for lg in langs
    )
    best = "greatest(" + ", ".join(f"h_{lg}" for lg in langs) + ")"
    label_cases = " ".join(f"WHEN h_{lg} = best THEN '{lg}'" for lg in langs)
    cjk = ratio("length(regexp_replace(text, '[^一-鿿]', '', 'g'))", "length(text)")
    return f"""
WITH tk AS (SELECT doc_id, text, {tokens('text')} AS t FROM documents),
h AS (SELECT doc_id, text, len(t) AS n,
    {hit_cols}
  FROM tk),
s AS (SELECT *, {best} AS best, {cjk} AS cjk FROM h)
SELECT doc_id,
  CASE WHEN cjk > 0.2 THEN 'zh'
       WHEN best = 0 THEN '{LANGID_DEFAULT}'
       {label_cases}
       ELSE '{LANGID_DEFAULT}' END AS langid,
  CASE WHEN cjk > 0.2
         THEN {ratio6("length(regexp_replace(text, '[^一-鿿]', '', 'g'))",
                      "length(text)")}
       WHEN n = 0 OR best = 0 THEN 0.0
       ELSE {ratio6('best', 'n')} END::DOUBLE AS score
FROM s"""


def _winnow_ctes(k: int = 5, w: int = 4, table: str = "documents") -> str:
    """CTEs ending in wfp(id, fp) — the distinct winnowing fingerprints."""
    return f"""base AS (
  SELECT doc_id AS id, {norm('text')} AS n FROM {table}
  WHERE length({norm('text')}) >= {k}),
g AS (
  SELECT id, i.i AS pos, {md5int(f'substr(n, i.i::INT, {k})')} AS h
  FROM base, LATERAL (SELECT unnest(range(1, length(n) - {k - 2})) AS i) i),
m AS (
  SELECT id, pos,
    min(h) OVER (PARTITION BY id ORDER BY pos
                 ROWS BETWEEN CURRENT ROW AND {w - 1} FOLLOWING) AS fp,
    count(*) OVER (PARTITION BY id) AS cnt
  FROM g),
wfp AS (SELECT DISTINCT id, fp FROM m WHERE pos <= cnt - {w - 1})"""


def q_winnow_fingerprints(k: int = 5, w: int = 4) -> str:
    """Twin of operators/winnow.winnow_fingerprints: same normalized text,
    same md5int k-gram hashes, same full-window sliding minima."""
    return f"WITH {_winnow_ctes(k, w)}\nSELECT id, fp FROM wfp"


def q_winnow_near_dup_pairs(min_shared: int = 2, max_df: int = 10,
                            k: int = 5, w: int = 4) -> str:
    """Twin of operators/winnow.winnow_near_dup_pairs: substring-level
    near-dup pairs over rare shared winnowing fingerprints, with
    containment fractions over each side's total fingerprint count."""
    return f"""
WITH {_winnow_ctes(k, w)},
rare AS (
  SELECT fp FROM wfp GROUP BY fp HAVING count(*) BETWEEN 2 AND {max_df}),
cnt AS (SELECT id, count(*) AS n FROM wfp GROUP BY id),
rf AS (SELECT w.id, w.fp FROM wfp w JOIN rare USING (fp)),
p AS (
  SELECT a.id AS src, b.id AS dst, count(*)::BIGINT AS shared
  FROM rf a JOIN rf b ON a.fp = b.fp AND a.id < b.id
  GROUP BY 1, 2 HAVING count(*) >= {min_shared})
SELECT p.src, p.dst, p.shared,
  {ratio6('p.shared', 'cs.n')}::DOUBLE AS src_containment,
  {ratio6('p.shared', 'cd.n')}::DOUBLE AS dst_containment
FROM p JOIN cnt cs ON cs.id = p.src JOIN cnt cd ON cd.id = p.dst"""


def q_decontaminate_flags(n: int = 13, min_hits: int = 1, every: int = 40,
                          prefix_tokens: int = 20) -> str:
    """Twin of operators/decontaminate.contaminated_ids over the
    corpus-derived synthetic benchmark set (every ``every``-th doc's first
    ``prefix_tokens`` tokens): identical token contract, identical md5int
    hash of the space-joined word n-gram."""
    gram = f"array_to_string(t[i.i::INT:(i.i + {n - 1})::INT], ' ')"
    return f"""
WITH tk AS (SELECT doc_id, {tokens('text')} AS t FROM documents),
bt AS (SELECT t[1:{prefix_tokens}] AS t FROM tk WHERE doc_id % {every} = 0),
bg AS (
  SELECT DISTINCT {md5int(gram)} AS gh
  FROM bt, LATERAL (SELECT unnest(range(1, len(t) - {n - 2})) AS i) i
  WHERE len(t) >= {n}),
dg AS (
  SELECT DISTINCT doc_id, {md5int(gram)} AS gh
  FROM tk, LATERAL (SELECT unnest(range(1, len(t) - {n - 2})) AS i) i
  WHERE len(t) >= {n})
SELECT doc_id, count(*)::BIGINT AS hits
FROM dg JOIN bg USING (gh)
GROUP BY doc_id HAVING count(*) >= {min_hits}"""


def q_contamination_report(n: int = 13, min_hits: int = 1, every: int = 40,
                           prefix_tokens: int = 20) -> str:
    """Twin of operators/decontaminate.contamination_report over the
    same corpus-derived benchmark: per-benchmark contaminated-doc
    counts (grams keep their bench id through the probe)."""
    gram = f"array_to_string(t[i.i::INT:(i.i + {n - 1})::INT], ' ')"
    return f"""
WITH tk AS (SELECT doc_id, {tokens('text')} AS t FROM documents),
bt AS (SELECT doc_id AS bench_id, t[1:{prefix_tokens}] AS t
       FROM tk WHERE doc_id % {every} = 0),
bg AS (
  SELECT DISTINCT bench_id, {md5int(gram)} AS gh
  FROM bt, LATERAL (SELECT unnest(range(1, len(t) - {n - 2})) AS i) i
  WHERE len(t) >= {n}),
dg AS (
  SELECT DISTINCT doc_id, {md5int(gram)} AS gh
  FROM tk, LATERAL (SELECT unnest(range(1, len(t) - {n - 2})) AS i) i
  WHERE len(t) >= {n}),
ph AS (
  SELECT bg.bench_id, dg.doc_id, count(*) AS h
  FROM dg JOIN bg USING (gh)
  GROUP BY 1, 2 HAVING count(*) >= {min_hits})
SELECT bench_id, count(*)::BIGINT AS contaminated_docs
FROM ph GROUP BY bench_id"""


def q_dedup_cluster_sizes() -> str:
    """Twin of operators/minhash_lsh.dedup_cluster_sizes: component-size
    histogram over the oracle minhash profile's star-edge graph."""
    return f"""
WITH RECURSIVE {_minhash_ctes()}, {_edges_cte()},
sym AS MATERIALIZED (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
reach(id, root) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT s.src, r.root FROM sym s JOIN reach r ON s.dst = r.id
),
labels AS (SELECT id, min(root) AS root FROM reach GROUP BY id),
sizes AS (SELECT root, count(*) AS cluster_size FROM labels GROUP BY root)
SELECT cluster_size::BIGINT AS cluster_size, count(*)::BIGINT AS n_clusters
FROM sizes GROUP BY cluster_size"""


def q_chunk_documents(max_tokens: int = 64, overlap: int = 8) -> str:
    """Twin of functions/chunking.chunk_documents: identical integer
    window arithmetic and slicing."""
    stride = max_tokens - overlap
    return f"""
WITH tk AS (
  SELECT doc_id, {tokens('text')} AS t FROM documents),
nz AS (SELECT doc_id, t, len(t) AS n FROM tk WHERE len(t) > 0),
ch AS (
  SELECT doc_id, t,
    i.i AS ci,
    t[((i.i - 1) * {stride} + 1)::INT:((i.i - 1) * {stride} + {max_tokens})::INT] AS c
  FROM nz, LATERAL (
    SELECT unnest(range(1,
      (greatest(n - {overlap}, 1) + {stride - 1}) // {stride} + 1)) AS i) i)
SELECT doc_id, (ci - 1)::BIGINT AS chunk_idx,
  len(c)::BIGINT AS n_tokens,
  array_to_string(c, ' ') AS chunk_text
FROM ch"""


def q_scrub_cc_luhn() -> str:
    """Twin of queries.q_scrub_cc_luhn: same injected candidates, same
    Luhn checksum arithmetic, same fold-of-replace over the distinct
    valid candidates."""
    from .functions.scrub import CC_CANDIDATE

    clean = "regexp_replace(s, '[ \\-]', '', 'g')"
    d = f"(ascii(substr({clean}, length({clean}) - i + 1, 1)) - 48)"
    contrib = (f"CASE WHEN i % 2 = 0 THEN 2 * {d} - "
               f"(CASE WHEN {d} >= 5 THEN 9 ELSE 0 END) ELSE {d} END")
    luhn = (f"length({clean}) >= 13 AND "
            f"list_aggregate(list_transform(range(1, length({clean}) + 1), "
            f"i -> {contrib}), 'sum') % 10 = 0")
    return f"""
WITH shaped AS (
  SELECT doc_id,
    substr(text, 1, 40) || ' pay ' ||
    (CASE doc_id % 5
       WHEN 0 THEN '4242 4242 4242 4242'
       WHEN 1 THEN '4111111111111111'
       WHEN 2 THEN '378282246310005'
       WHEN 3 THEN '4242424242424241'
       ELSE '1234567890123456' END) || ' end' AS text
  FROM documents),
c AS (
  SELECT doc_id, text,
    list_filter(
      list_distinct(list_transform(
        regexp_extract_all(text, '{CC_CANDIDATE}'),
        s -> regexp_replace(s, '[ \\-]+$', ''))),
      s -> {luhn}) AS vs
  FROM shaped)
SELECT doc_id,
  list_reduce(list_prepend(text, vs),
    (acc, cc) -> regexp_replace(
      regexp_replace(acc, '(^|[^0-9])' || cc || '([^0-9]|$)',
                     '\\1<CC>\\2', 'g'),
      '(^|[^0-9])' || cc || '([^0-9]|$)', '\\1<CC>\\2', 'g'))
    AS scrubbed
FROM c"""


def q_token_offsets(eod: int = 1) -> str:
    """Twin of functions/chunking.with_token_offsets: DuckDB expresses
    the same layout as one global window cumsum (the Spark side uses the
    two-level scan; results are identical by construction)."""
    return f"""
WITH tk AS (SELECT doc_id, coalesce(len({tokens('text')}), 0) AS n
            FROM documents)
SELECT doc_id, n::BIGINT AS n_tokens,
  coalesce(sum(n + {eod}) OVER (ORDER BY doc_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
    AS start_offset
FROM tk"""


def q_pack_blocks(block: int = 128, eod: int = 1) -> str:
    """Twin of functions/chunking.pack_blocks."""
    return f"""
WITH tk AS (SELECT doc_id, coalesce(len({tokens('text')}), 0) AS n
            FROM documents),
o AS (
  SELECT doc_id, n,
    coalesce(sum(n + {eod}) OVER (ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS s
  FROM tk)
SELECT b.b::BIGINT AS block_idx, doc_id,
  (b.b * {block})::BIGINT AS block_start_offset
FROM o, LATERAL (
  -- sum() OVER is HUGEINT in DuckDB; range() needs BIGINT
  SELECT unnest(range((s // {block})::BIGINT,
                      ((s + n + {eod} - 1) // {block} + 1)::BIGINT)) AS b) b"""


def q_dup_ngram_fraction(n: int = 13) -> str:
    """Twin of operators/decontaminate.duplicated_ngram_fraction over the
    fragment-augmented corpus: identical token/hash contracts, distinct
    per-doc n-grams, df >= 2 duplicated mass."""
    gram = f"array_to_string(t[i.i::INT:(i.i + {n - 1})::INT], ' ')"
    return f"""
WITH aug AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, substr(text, 1, (length(text) // 2)::INT)
  FROM documents WHERE doc_id % 25 = 0),
tk AS (SELECT doc_id, {tokens('text')} AS t FROM aug),
dg AS (
  SELECT DISTINCT doc_id, {md5int(gram)} AS gh
  FROM tk, LATERAL (SELECT unnest(range(1, len(t) - {n - 2})) AS i) i
  WHERE len(t) >= {n}),
dup AS (SELECT gh FROM dg GROUP BY gh HAVING count(*) >= 2),
nd AS (SELECT doc_id, count(*) AS c FROM dg JOIN dup USING (gh) GROUP BY 1),
nt AS (SELECT doc_id, count(*) AS c FROM dg GROUP BY 1)
SELECT a.doc_id AS id, coalesce(nt.c, 0)::BIGINT AS n_ngrams,
  {ratio6('coalesce(nd.c, 0)', 'coalesce(nt.c, 0)')}::DOUBLE
    AS dup_ngram_fraction
FROM aug a LEFT JOIN nt USING (doc_id) LEFT JOIN nd USING (doc_id)"""


def q_winnow_dedup_keep(min_shared: int = 2, max_df: int = 10,
                        k: int = 20, w: int = 8,
                        min_containment: float = 0.5) -> str:
    """Twin of operators/winnow.winnow_dedup_keep: containment-threshold
    edges over rare shared fingerprints (same 6-decimal rounding as the
    Spark side), recursive CC, min-id keep over ALL documents.

    The random fixture has no organic substring dups (max containment
    ~0.07), so the corpus is augmented with a half-length FRAGMENT of
    every 25th document (id + 1e6) — identical string arithmetic on both
    sides — whose fingerprints are mostly contained in its parent's."""
    return f"""
WITH RECURSIVE aug AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, substr(text, 1, (length(text) // 2)::INT)
  FROM documents WHERE doc_id % 25 = 0),
{_winnow_ctes(k, w, table="aug")},
rare AS (
  SELECT fp FROM wfp GROUP BY fp HAVING count(*) BETWEEN 2 AND {max_df}),
cnt AS (SELECT id, count(*) AS n FROM wfp GROUP BY id),
rf AS (SELECT w.id, w.fp FROM wfp w JOIN rare USING (fp)),
p AS (
  SELECT a.id AS src, b.id AS dst, count(*)::BIGINT AS shared
  FROM rf a JOIN rf b ON a.fp = b.fp AND a.id < b.id
  GROUP BY 1, 2 HAVING count(*) >= {min_shared}),
edges AS (
  SELECT p.src, p.dst
  FROM p JOIN cnt cs ON cs.id = p.src JOIN cnt cd ON cd.id = p.dst
  WHERE greatest({ratio6('p.shared', 'cs.n')},
                 {ratio6('p.shared', 'cd.n')}) >= {min_containment}),
sym AS MATERIALIZED (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
reach(id, root) AS (
  SELECT doc_id, doc_id FROM aug
  UNION
  SELECT s.src, r.root FROM sym s JOIN reach r ON s.dst = r.id
)
SELECT id FROM reach GROUP BY id HAVING min(root) = id"""


def q_gopher_signals() -> str:
    """Twin of functions/signals.gopher_signals: residual Gopher shape
    heuristics — same regexes, same token/line contracts, round 6."""
    t = tokens("text")
    n_sym = ("(length(text) - length(replace(text, '#', ''))"
             " + len(regexp_extract_all(text, '(\\.\\.\\.|…)')))")
    sym = ratio6(n_sym, "len(t)")
    bullet = ratio6(
        "len(list_filter(ls, l -> regexp_matches(l, '^\\s*([-*•])')))",
        "len(ls)")
    ell = ratio6(
        "len(list_filter(ls, l -> regexp_matches(l, '(\\.\\.\\.|…)\\s*$')))",
        "len(ls)")
    alpha = ratio6(
        "len(list_filter(t, w -> regexp_matches(w, '[A-Za-z]')))", "len(t)")
    return f"""
WITH tk0 AS (SELECT doc_id, {tokens('text')} AS t FROM documents),
shaped AS (
  -- coalesce: DuckDB array_to_string of an EMPTY out-of-range slice is
  -- NULL (Spark array_join gives ''), which would NULL the whole concat
  SELECT doc_id,
    (CASE WHEN doc_id % 3 = 0 THEN '- ' ELSE '' END)
      || coalesce(array_to_string(t[1:5], ' '), '') || chr(10)
    || coalesce(array_to_string(t[6:10], ' '), '')
      || (CASE WHEN doc_id % 4 = 0 THEN '...' ELSE '.' END) || chr(10)
    || coalesce(array_to_string(t[11:15], ' '), '') || ' '
      || repeat('#', doc_id % 5) || chr(10)
    || doc_id::VARCHAR || ' 12345 '
      || coalesce(array_to_string(t[16:18], ' '), '')
      AS text
  FROM tk0),
st AS (
  SELECT doc_id AS id, text, {t} AS t,
         string_split(text, chr(10)) AS ls
  FROM shaped)
SELECT id,
  {sym}::DOUBLE AS symbol_word_ratio,
  {bullet}::DOUBLE AS bullet_line_fraction,
  {ell}::DOUBLE AS ellipsis_line_fraction,
  {alpha}::DOUBLE AS alpha_word_fraction
FROM st"""


def q_gopher_filter(
    min_words: int = 10, max_words: int = 100_000,
    min_mwl: float = 3.0, max_mwl: float = 10.0,
    max_symbol_ratio: float = 0.1, max_bullet: float = 0.9,
    max_ellipsis: float = 0.3, min_alpha: float = 0.8,
    min_stop_hits: int = 2,
    max_dup_line: float = 0.3, max_dup_line_char: float = 0.2,
) -> str:
    """Twin of queries.q_gopher_filter: the same shaped pages (gopher
    shaping + duplicated l1/l2 tail on every 6th doc), the same rounded
    shape ratios, Gopher stop-word presence, and the duplicate-line caps
    computed exactly as q_duplicate_line_signals does (non-empty lines)."""
    from .functions.signals import GOPHER_STOPS

    n_sym = ("(length(text) - length(replace(text, '#', ''))"
             " + len(regexp_extract_all(text, '(\\.\\.\\.|…)')))")
    sym = ratio6(n_sym, "len(t)")
    bullet = ratio6(
        "len(list_filter(ls, l -> regexp_matches(l, '^\\s*([-*•])')))",
        "len(ls)")
    ell = ratio6(
        "len(list_filter(ls, l -> regexp_matches(l, '(\\.\\.\\.|…)\\s*$')))",
        "len(ls)")
    alpha = ratio6(
        "len(list_filter(t, w -> regexp_matches(w, '[A-Za-z]')))", "len(t)")
    mwl = ratio6("list_aggregate(list_transform(t, w -> length(w)), 'sum')",
                 "len(t)")
    stops = (f"len(list_filter(t, w -> "
             f"list_contains({sql_list(GOPHER_STOPS)}, lower(w))))")
    return f"""
WITH tk0 AS (SELECT doc_id, {tokens('text')} AS t FROM documents),
parts AS (
  SELECT doc_id,
    (CASE WHEN doc_id % 3 = 0 THEN '- ' ELSE '' END)
      || coalesce(array_to_string(t[1:5], ' '), '') AS l1,
    coalesce(array_to_string(t[6:10], ' '), '')
      || (CASE WHEN doc_id % 4 = 0 THEN '...' ELSE '.' END) AS l2,
    coalesce(array_to_string(t[11:15], ' '), '') || ' '
      || repeat('#', doc_id % 5) AS l3,
    doc_id::VARCHAR || ' 12345 '
      || coalesce(array_to_string(t[16:18], ' '), '') AS l4
  FROM tk0),
shaped AS (
  SELECT doc_id,
    l1 || chr(10) || l2 || chr(10) || l3 || chr(10) || l4
    || (CASE WHEN doc_id % 6 = 0
        THEN chr(10) || l1 || chr(10) || l2 ELSE '' END) AS text
  FROM parts),
st AS (
  SELECT doc_id AS id, text, {tokens('text')} AS t,
         string_split(text, chr(10)) AS ls
  FROM shaped),
per AS (
  SELECT id,
    len(t) AS nw,
    {mwl} AS mwl,
    {stops} AS stops,
    {sym} AS sym,
    {bullet} AS bul,
    {ell} AS ell,
    {alpha} AS alp
  FROM st),
l AS (
  SELECT id, u.line AS line
  FROM st, unnest(ls) AS u(line)
  WHERE u.line != ''),
g AS (SELECT id, line, count(*) AS c, length(line) AS len
      FROM l GROUP BY 1, 2),
a AS (SELECT id,
  sum(c) - count(*) AS dup, sum(c) AS tot,
  sum(len * (c - 1)) AS dchar, sum(len * c) AS tchar
  FROM g GROUP BY 1),
dupf AS (
  SELECT p.id,
    coalesce({ratio6('dup', 'tot')}, 0.0) AS dlf,
    coalesce({ratio6('dchar', 'tchar')}, 0.0) AS dlcf
  FROM per p LEFT JOIN a USING (id))
SELECT p.id,
  (p.nw >= {min_words} AND p.nw <= {max_words}
   AND p.mwl >= {min_mwl} AND p.mwl <= {max_mwl}
   AND p.sym <= {max_symbol_ratio}
   AND p.bul <= {max_bullet}
   AND p.ell <= {max_ellipsis}
   AND p.alp >= {min_alpha}
   AND p.stops >= {min_stop_hits}
   AND d.dlf <= {max_dup_line}
   AND d.dlcf <= {max_dup_line_char}) AS keep
FROM per p JOIN dupf d USING (id)"""


def q_c4_filter(min_line_words: int = 5, min_lines: int = 3) -> str:
    """Twin of queries.q_c4_filter: the same synthesized page-shaped text
    (three punctuated 6-word lines + junk line + rule-triggering
    injections), identical line-retention regex and page rules, retained
    lines rejoined with newline."""
    t = tokens("text")
    return f"""
WITH tk AS (SELECT doc_id, {t} AS t FROM documents),
shaped AS (
  -- coalesce: DuckDB array_to_string of an EMPTY out-of-range slice is
  -- NULL (Spark array_join gives ''), which would NULL the whole concat
  SELECT doc_id,
    coalesce(array_to_string(t[1:6], ' '), '') || '.' || chr(10)
    || coalesce(array_to_string(t[7:12], ' '), '') || '!' || chr(10)
    || 'short line' || chr(10)
    || coalesce(array_to_string(t[13:18], ' '), '') || '?'
    || (CASE WHEN doc_id % 7 = 0 THEN ' {{' ELSE '' END)
    || (CASE WHEN doc_id % 11 = 0
        THEN chr(10) || 'we add lorem ipsum boilerplate here' ELSE '' END)
      AS text
  FROM tk),
st AS (
  SELECT doc_id AS id, text,
    list_filter(string_split(text, chr(10)),
      l -> len({tokens('l')}) >= {min_line_words}
           AND regexp_matches(l, '[.!?"]\\s*$')) AS kept
  FROM shaped)
SELECT id, array_to_string(kept, chr(10)) AS clean_text
FROM st
WHERE len(kept) >= {min_lines}
  AND NOT contains(lower(text), 'lorem ipsum')
  AND NOT contains(text, '{{')"""


def q_dedup_lines() -> str:
    """Twin of queries.q_dedup_lines: same token-derived 5-line page with
    planted repeats, per-(doc, line) min position, first-occurrence-order
    rebuild."""
    return f"""
WITH tk AS (SELECT doc_id, {tokens('text')} AS t FROM documents),
shaped AS (
  SELECT doc_id,
    coalesce(array_to_string(t[1:4], ' '), '') || chr(10)
    || coalesce(array_to_string(t[5:8], ' '), '') || chr(10)
    || coalesce(array_to_string(t[1:4], ' '), '') || chr(10)
    || coalesce(array_to_string(t[9:12], ' '), '') || chr(10)
    || coalesce(array_to_string(t[5:8], ' '), '') AS text
  FROM tk),
lsx AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM shaped),
l AS (
  SELECT doc_id, i.i AS pos, ls[i.i::INT] AS line
  FROM lsx, LATERAL (SELECT unnest(range(1, len(ls) + 1)) AS i) i),
f AS (SELECT doc_id, line, min(pos) AS p FROM l GROUP BY 1, 2),
r AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY p) AS clean_text
      FROM f GROUP BY 1)
SELECT s.doc_id AS id, coalesce(r.clean_text, '') AS clean_text
FROM shaped s LEFT JOIN r USING (doc_id)"""


def q_span_dedup() -> str:
    """Twin of operators/span_dedup.span_dedup over queries.q_span_dedup's
    synthetic pages: 3-line per-language banner (the corpus-duplicated
    span) + 3 unique token lines; duplicate detection groups on the raw
    span string (Spark groups on its md5int — identical partition of the
    span set), first occurrence = min doc id then min position."""
    return f"""
WITH tk AS (SELECT doc_id, lang, {tokens('text')} AS t FROM documents),
shaped AS (
  SELECT doc_id,
    'shared banner one for ' || lang || chr(10) ||
    'shared banner two for ' || lang || chr(10) ||
    'shared banner three for ' || lang || chr(10) ||
    coalesce(array_to_string(t[1:5], ' '), '') || chr(10) ||
    coalesce(array_to_string(t[6:10], ' '), '') || chr(10) ||
    coalesce(array_to_string(t[11:15], ' '), '') AS text
  FROM tk),
lsx AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM shaped),
l AS (
  SELECT doc_id, i.i - 1 AS pos, ls[i.i::INT] AS line
  FROM lsx, LATERAL (SELECT unnest(range(1, len(ls) + 1)) AS i) i),
sp AS (
  SELECT a.doc_id, a.pos AS p,
         a.line || chr(1) || b.line || chr(1) || c.line AS s
  FROM l a
  JOIN l b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
  JOIN l c ON c.doc_id = a.doc_id AND c.pos = a.pos + 2),
dup AS (SELECT s, min(doc_id) AS fid FROM sp GROUP BY 1 HAVING count(*) >= 2),
fp AS (
  SELECT d.s, d.fid, min(sp.p) AS fp
  FROM dup d JOIN sp ON sp.s = d.s AND sp.doc_id = d.fid
  GROUP BY 1, 2),
rem AS (
  SELECT DISTINCT sp.doc_id, sp.p + o.o AS pos
  FROM sp JOIN fp ON sp.s = fp.s,
       LATERAL (SELECT unnest(range(0, 3)) AS o) o
  WHERE NOT (sp.doc_id = fp.fid AND sp.p = fp.fp)),
kept AS (
  SELECT l.doc_id, l.pos, l.line
  FROM l LEFT JOIN rem ON rem.doc_id = l.doc_id AND rem.pos = l.pos
  WHERE rem.doc_id IS NULL),
r AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS clean_text,
             count(*) AS _kept
      FROM kept GROUP BY 1),
tot AS (SELECT doc_id, count(*) AS _all FROM l GROUP BY 1)
SELECT s.doc_id, coalesce(r.clean_text, '') AS clean_text,
       (coalesce(tot._all, 0) - coalesce(r._kept, 0))::BIGINT AS n_removed_lines
FROM shaped s LEFT JOIN r USING (doc_id) LEFT JOIN tot USING (doc_id)"""


def q_substring_dedup(n: int = 25) -> str:
    """Twin of operators/span_dedup.substring_dedup (ExactSubstr at token
    granularity, Lee et al. 2022) directly over documents: duplicate
    detection groups on the raw window string (Spark groups on its md5int
    — identical partition of the window set)."""
    return f"""
WITH tk AS (SELECT doc_id, {tokens('text')} AS t FROM documents),
sp AS (
  SELECT doc_id, i.i - 1 AS p,
         array_to_string(t[i.i::INT:(i.i + {n - 1})::INT], chr(1)) AS s
  FROM tk, LATERAL (SELECT unnest(range(1, len(t) - {n - 2})) AS i) i),
dup AS (SELECT s, min(doc_id) AS fid FROM sp GROUP BY 1 HAVING count(*) >= 2),
fp AS (
  SELECT d.s, d.fid, min(sp.p) AS fp
  FROM dup d JOIN sp ON sp.s = d.s AND sp.doc_id = d.fid
  GROUP BY 1, 2),
rem AS (
  SELECT DISTINCT sp.doc_id, sp.p + o.o AS pos
  FROM sp JOIN fp ON sp.s = fp.s,
       LATERAL (SELECT unnest(range(0, {n})) AS o) o
  WHERE NOT (sp.doc_id = fp.fid AND sp.p = fp.fp)),
l AS (
  SELECT doc_id, i.i - 1 AS pos, t[i.i::INT] AS u
  FROM tk, LATERAL (SELECT unnest(range(1, len(t) + 1)) AS i) i),
kept AS (
  SELECT l.doc_id, l.pos, l.u
  FROM l LEFT JOIN rem ON rem.doc_id = l.doc_id AND rem.pos = l.pos
  WHERE rem.doc_id IS NULL),
r AS (SELECT doc_id, string_agg(u, ' ' ORDER BY pos) AS clean_text,
             count(*) AS _kept
      FROM kept GROUP BY 1),
tot AS (SELECT doc_id, count(*) AS _all FROM l GROUP BY 1)
SELECT d.doc_id, coalesce(r.clean_text, '') AS clean_text,
       (coalesce(tot._all, 0) - coalesce(r._kept, 0))::BIGINT AS n_removed_tokens
FROM documents d LEFT JOIN r USING (doc_id) LEFT JOIN tot USING (doc_id)"""


def q_paragraph_dedup() -> str:
    """Twin of queries.q_paragraph_dedup: span_dedup at n=1 — corpus-wide
    exact duplicated-line removal, global first occurrence (min doc id,
    then min position) kept. Same synthetic page construction as
    q_span_dedup."""
    return f"""
WITH tk AS (SELECT doc_id, lang, {tokens('text')} AS t FROM documents),
shaped AS (
  SELECT doc_id,
    'shared banner one for ' || lang || chr(10) ||
    'shared banner two for ' || lang || chr(10) ||
    'shared banner three for ' || lang || chr(10) ||
    coalesce(array_to_string(t[1:5], ' '), '') || chr(10) ||
    coalesce(array_to_string(t[6:10], ' '), '') || chr(10) ||
    coalesce(array_to_string(t[11:15], ' '), '') AS text
  FROM tk),
lsx AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM shaped),
l AS (
  SELECT doc_id, i.i - 1 AS pos, ls[i.i::INT] AS line
  FROM lsx, LATERAL (SELECT unnest(range(1, len(ls) + 1)) AS i) i),
dup AS (SELECT line, min(doc_id) AS fid FROM l GROUP BY 1 HAVING count(*) >= 2),
fp AS (
  SELECT d.line, d.fid, min(l.pos) AS fp
  FROM dup d JOIN l ON l.line = d.line AND l.doc_id = d.fid
  GROUP BY 1, 2),
rem AS (
  SELECT l.doc_id, l.pos
  FROM l JOIN fp ON l.line = fp.line
  WHERE NOT (l.doc_id = fp.fid AND l.pos = fp.fp)),
kept AS (
  SELECT l.doc_id, l.pos, l.line
  FROM l LEFT JOIN rem ON rem.doc_id = l.doc_id AND rem.pos = l.pos
  WHERE rem.doc_id IS NULL),
r AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS clean_text,
             count(*) AS _kept
      FROM kept GROUP BY 1),
tot AS (SELECT doc_id, count(*) AS _all FROM l GROUP BY 1)
SELECT s.doc_id, coalesce(r.clean_text, '') AS clean_text,
       (coalesce(tot._all, 0) - coalesce(r._kept, 0))::BIGINT AS n_removed_lines
FROM shaped s LEFT JOIN r USING (doc_id) LEFT JOIN tot USING (doc_id)"""


def q_duplicate_line_signals() -> str:
    """Twin of functions/signals.duplicate_line_signals: Gopher-style
    line-repetition fractions over non-empty raw lines."""
    return f"""
WITH l AS (
  SELECT doc_id, t.line AS line
  FROM documents, unnest(string_split(text, chr(10))) AS t(line)
  WHERE t.line != ''),
g AS (SELECT doc_id, line, count(*) AS c, length(line) AS len
      FROM l GROUP BY 1, 2),
a AS (SELECT doc_id,
  sum(c) - count(*) AS dup, sum(c) AS tot,
  sum(len * (c - 1)) AS dchar, sum(len * c) AS tchar
  FROM g GROUP BY 1)
SELECT d.doc_id AS id,
  coalesce({ratio6('dup', 'tot')}, 0.0)::DOUBLE AS dup_line_fraction,
  coalesce({ratio6('dchar', 'tchar')}, 0.0)::DOUBLE AS dup_line_char_fraction
FROM documents d LEFT JOIN a USING (doc_id)"""


def q_langid_confusion() -> str:
    """Twin of queries.q_langid_confusion: reuse the langid oracle as a
    subquery, join truth lang, count per cell."""
    return f"""
SELECT d.lang, l.langid, count(*)::BIGINT AS n
FROM documents d JOIN ({q_langid()}) l ON l.doc_id = d.doc_id
GROUP BY 1, 2"""


def q_token_counts() -> str:
    from .functions.text import SUBWORD_PATTERN

    return f"""
SELECT doc_id,
  len({tokens('text')})::BIGINT AS ws_tokens,
  len(regexp_extract_all(text, '{SUBWORD_PATTERN}'))::BIGINT AS subword_tokens
FROM documents"""


def q_fingerprint() -> str:
    n = norm("text")
    return f"""
SELECT doc_id, md5({n}) AS fp_hex, {md5int(n)} AS fp_int
FROM documents"""


def scrub_sql_expr(expr: str) -> str:
    out = expr
    for pattern, repl in PII_PATTERNS:
        p = pattern.replace("'", "''")
        out = f"regexp_replace({out}, '{p}', '{repl}', 'g')"
    return out


def flag_mask_sql_expr(expr: str) -> str:
    pattern = r"(?i)\b(" + "|".join(FLAGGED_WORDS) + r")\b"
    return f"regexp_replace({expr}, '{pattern}', '<FLAGGED>', 'g')"


AUGMENT_SQL = (
    "text || ' contact user' || doc_id || '@example.com ssn 123-45-6789 "
    "ip 10.0.0.' || (doc_id % 255)"
)


def q_scrub() -> str:
    return f"""
WITH aug AS (SELECT doc_id, {AUGMENT_SQL} AS raw FROM documents)
SELECT doc_id, {scrub_sql_expr('raw')} AS scrubbed, {flag_mask_sql_expr(scrub_sql_expr('raw'))} AS masked
FROM aug"""


# ---------------------------------------------------------------------------
# Quality filter
# ---------------------------------------------------------------------------


def _rule_sql(signal: str, op: str, thr: float) -> str:
    return f"({signal} {op} {thr})"


def q_quality_filter() -> str:
    conds = [(f"{s}_{'min' if op == '>=' else 'max'}", _rule_sql(s, op, t))
             for s, op, t, _ in QUALITY_RULES]
    keep = " AND ".join(c for _, c in conds)
    reason = " ".join(f"WHEN NOT {c} THEN '{n}'" for n, c in conds)
    return f"""
WITH {_signals_cte()}
SELECT doc_id, ({keep}) AS keep,
  CASE {reason} ELSE '' END AS drop_reason
FROM sig"""


def q_source_quality_report() -> str:
    """Twin of operators/quality_filter.source_quality_report: per-source
    doc counts, quality keep rate and mean word count (exact bigint sums,
    one division per group — order-independent)."""
    keep = " AND ".join(_rule_sql(s, op, t) for s, op, t, _ in QUALITY_RULES)
    return f"""
WITH {_signals_cte(extra_cols=("source",))}
SELECT source,
  count(*)::BIGINT AS n_docs,
  sum(CASE WHEN {keep} THEN 1 ELSE 0 END)::BIGINT AS n_keep,
  {ratio6("sum(CASE WHEN " + keep + " THEN 1 ELSE 0 END)", "count(*)")}
    AS keep_rate,
  {ratio6("sum(number_of_words)", "count(*)", 4)} AS mean_words
FROM sig GROUP BY source"""


def q_encoding_noise() -> str:
    """Twin of functions/encoding.with_encoding_noise over documents with
    the deterministic NOISE_PROBE appended to doc_id % 7 rows (the
    synthetic corpus is clean; the probe makes the counters non-trivial
    in BOTH engines identically)."""
    from .functions.encoding import (
        CTRL_RE, MOJIBAKE_RE, NOISE_PROBE, REPLACEMENT_RE,
    )

    cnt = {
        "n_replacement": REPLACEMENT_RE,
        "n_ctrl": CTRL_RE,
        "n_mojibake": MOJIBAKE_RE,
    }
    cols = ",\n  ".join(
        f"coalesce(len(regexp_extract_all(text, '{p}')), 0)::BIGINT AS {n}"
        for n, p in cnt.items()
    )
    total = " + ".join(
        f"coalesce(len(regexp_extract_all(text, '{p}')), 0)" for p in cnt.values()
    )
    return f"""
WITH noisy AS (
  SELECT doc_id,
    CASE WHEN doc_id % 7 = 0 THEN text || '{NOISE_PROBE}' ELSE text END AS text
  FROM documents)
SELECT doc_id,
  {cols},
  {ratio6(total, "greatest(coalesce(length(text), 0), 1)")}
    AS noise_ratio
FROM noisy"""


def q_script_ratios() -> str:
    """Twin of functions/encoding.with_script_ratios."""
    from .functions.encoding import SCRIPT_RANGES

    den = "greatest(coalesce(length(text), 0), 1)"
    cols = ",\n  ".join(
        ratio6(f"coalesce(len(regexp_extract_all(text, '{p}')), 0)", den)
        + f" AS {n}_ratio"
        for n, p in SCRIPT_RANGES.items()
    )
    total = " + ".join(
        f"coalesce(len(regexp_extract_all(text, '{p}')), 0)"
        for p in SCRIPT_RANGES.values()
    )
    return f"""
SELECT doc_id,
  {cols},
  {ratio6(total, den)}
    AS letter_ratio
FROM documents"""


def q_lang_script_mismatch() -> str:
    """Twin of functions/encoding.with_lang_script_check."""
    from .functions.encoding import (
        LANG_SCRIPT, MISMATCH_MIN_RATIO, SCRIPT_RANGES,
    )

    den = "greatest(coalesce(length(text), 0), 1)"
    ratio = {
        name: ratio6(f"coalesce(len(regexp_extract_all(text, '{p}')), 0)", den)
        for name, p in SCRIPT_RANGES.items()
    }
    exp_cases = " ".join(
        f"WHEN lang = '{c}' THEN '{s}'" for c, s in LANG_SCRIPT.items()
    )
    ratio_cases = " ".join(
        f"WHEN expected_script = '{s}' THEN {ratio[s]}"
        for s in sorted(set(LANG_SCRIPT.values()))
    )
    return f"""
WITH base AS (
  SELECT doc_id, lang, text,
    CASE {exp_cases} ELSE 'unknown' END AS expected_script
  FROM documents),
rated AS (
  SELECT doc_id, lang, expected_script,
    (CASE {ratio_cases} ELSE NULL END) AS expected_ratio
  FROM base)
SELECT doc_id, lang, expected_script, expected_ratio,
  coalesce(expected_ratio < {MISMATCH_MIN_RATIO}, FALSE) AS script_mismatch
FROM rated"""


def q_quality_thresholds(cols=("number_of_words", "mean_word_length", "stop_word_fraction"),
                         p_low: float = 0.10, p_high: float = 0.90) -> str:
    aggs = ", ".join(
        f"{round_hu(f'quantile_cont({c}::DOUBLE, {p_low})')}::DOUBLE AS {c}_lo, "
        f"{round_hu(f'quantile_cont({c}::DOUBLE, {p_high})')}::DOUBLE AS {c}_hi"
        for c in cols
    )
    return f"WITH {_signals_cte()} SELECT lang, {aggs} FROM sig GROUP BY lang"


def q_quantile_filter(cols=("number_of_words", "mean_word_length", "stop_word_fraction"),
                      p_low: float = 0.10, p_high: float = 0.90) -> str:
    aggs = ", ".join(
        f"{round_hu(f'quantile_cont({c}::DOUBLE, {p_low})')} AS {c}_lo, "
        f"{round_hu(f'quantile_cont({c}::DOUBLE, {p_high})')} AS {c}_hi"
        for c in cols
    )
    conds = " AND ".join(f"s.{c} >= t.{c}_lo AND s.{c} <= t.{c}_hi" for c in cols)
    return f"""
WITH {_signals_cte()},
th AS (SELECT lang, {aggs} FROM sig GROUP BY lang)
SELECT s.doc_id FROM sig s JOIN th t USING (lang) WHERE {conds}"""


# ---------------------------------------------------------------------------
# Dedup family
# ---------------------------------------------------------------------------


def q_profiled_quantile_filter(
    cols=("number_of_words", "mean_word_length", "stop_word_fraction"),
) -> str:
    """Per-language profile scheme: strict langs use their profile's
    percentiles, everything else the default profile (README.md:95-98)."""
    from .config import DEFAULT_PROFILE, LANG_PROFILE, QUANTILE_PROFILES

    special = sorted(LANG_PROFILE)
    def th_select(p_low, p_high, where):
        aggs = ", ".join(
            f"{round_hu(f'quantile_cont({c}::DOUBLE, {p_low})')} AS {c}_lo, "
            f"{round_hu(f'quantile_cont({c}::DOUBLE, {p_high})')} AS {c}_hi"
            for c in cols
        )
        return f"SELECT lang, {aggs} FROM sig WHERE {where} GROUP BY lang"
    parts = []
    for lang in special:
        lo, hi = QUANTILE_PROFILES[LANG_PROFILE[lang]]
        parts.append(th_select(lo, hi, f"lang = '{lang}'"))
    lo, hi = QUANTILE_PROFILES[DEFAULT_PROFILE]
    not_in = ", ".join(f"'{lg}'" for lg in special)
    parts.append(th_select(lo, hi, f"lang NOT IN ({not_in})"))
    th = "\n  UNION ALL\n  ".join(parts)
    conds = " AND ".join(f"s.{c} >= t.{c}_lo AND s.{c} <= t.{c}_hi" for c in cols)
    return f"""
WITH {_signals_cte()},
th AS (
  {th}
)
SELECT s.doc_id FROM sig s JOIN th t USING (lang) WHERE {conds}"""


def q_exact_dedup_keep() -> str:
    return f"""
SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5({norm('text')})"""


def q_anti_join() -> str:
    return """
SELECT d.doc_id, d.lang FROM documents d
WHERE NOT EXISTS (
  SELECT 1 FROM documents x WHERE x.doc_id % 7 = 0 AND x.doc_id = d.doc_id)"""


def q_semi_join() -> str:
    return """
SELECT d.doc_id, d.n_chars FROM documents d
WHERE EXISTS (
  SELECT 1 FROM documents x WHERE x.doc_id % 3 = 0 AND x.doc_id = d.doc_id)"""


def _minhash_ctes(cfg=ORACLE_MINHASH) -> str:
    """Universal-scheme minhash chain (operators/minhash_lsh.minhash_bands
    portable=True): one md5 base hash per shingle, k integer permutations
    (a_i*h32 + b_i mod P with the same literal coefficients), band hashes
    of the per-perm minima. Relational formulation — see
    _minhash_ctes_universal."""
    return _minhash_ctes_universal(cfg)


def q_minhash_bands() -> str:
    return f"WITH {_minhash_ctes()} SELECT id, band_idx, band_hash FROM bands"


def q_lsh_buckets() -> str:
    return f"""
WITH {_minhash_ctes()}
SELECT band_idx, band_hash, count(*) AS n_docs, min(id) AS min_id
FROM bands GROUP BY 1, 2 HAVING count(*) >= 2"""


def _edges_cte() -> str:
    return """
mn AS (SELECT id, band_idx, band_hash, min(id) OVER (PARTITION BY band_idx, band_hash) AS m FROM bands),
edges AS (SELECT DISTINCT id AS src, m AS dst FROM mn WHERE id <> m)"""


def q_candidate_edges() -> str:
    return f"WITH {_minhash_ctes()}, {_edges_cte()} SELECT src, dst FROM edges"


def q_fuzzy_dedup_keep() -> str:
    return f"""
WITH RECURSIVE {_minhash_ctes()}, {_edges_cte()},
sym AS (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
reach(id, root) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT s.src, r.root FROM sym s JOIN reach r ON s.dst = r.id
)
SELECT id AS doc_id FROM reach GROUP BY id HAVING min(root) = id"""


def q_fuzzy_dedup_keep_longest() -> str:
    """Twin of operators/minhash_lsh.fuzzy_dedup_keep_best with the
    token-count score: same component labels as q_fuzzy_dedup_keep,
    representative = longest member (ties to smaller id)."""
    return f"""
WITH RECURSIVE {_minhash_ctes()}, {_edges_cte()},
sym AS (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
reach(id, root) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT s.src, r.root FROM sym s JOIN reach r ON s.dst = r.id
),
labels AS (SELECT id, min(root) AS root FROM reach GROUP BY id),
sc AS (SELECT doc_id AS id, len({tokens('text')})::BIGINT AS dl FROM documents)
SELECT l.id AS doc_id
FROM labels l JOIN sc USING (id)
QUALIFY row_number() OVER (PARTITION BY root ORDER BY dl DESC, id) = 1"""


def q_bm25_topk(
    query: str = "dup spark merge window",
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
) -> str:
    """Twin of operators/bm25.bm25_topk. Doubles appear only in pure
    per-row expressions with the IDENTICAL operation order as the Spark
    plan (constants injected via repr so both engines parse the same
    decimal); per-(doc, term) contributions round to bigint micro-units
    before the only sum."""
    terms = sorted(set(query.split()))
    vals = ", ".join(f"('{t}')" for t in terms)
    one_plus_k1, one_minus_b = repr(1.0 + k1), repr(1.0 - b)
    return f"""
WITH q(tok) AS (VALUES {vals}),
tk AS (SELECT doc_id AS id, {tokens('text')} AS t FROM documents),
st AS (SELECT count(*)::BIGINT AS n, sum(len(t))::BIGINT AS s FROM tk),
fl AS (SELECT id, len(t)::BIGINT AS dl, unnest(t) AS tok FROM tk),
tf AS (SELECT f.id, f.dl, f.tok, count(*)::BIGINT AS tf
       FROM fl f JOIN q USING (tok) GROUP BY 1, 2, 3),
dfc AS (SELECT tok, count(*)::BIGINT AS df FROM tf GROUP BY tok),
sc AS (SELECT t.id,
  CAST(round(
    (ln(1.0 + (((st.n - d.df)::DOUBLE + 0.5) / (d.df::DOUBLE + 0.5)))
     * ((t.tf::DOUBLE * {one_plus_k1})
        / (t.tf::DOUBLE
           + {k1!r} * ({one_minus_b}
                       + {b!r} * t.dl::DOUBLE * st.n::DOUBLE / st.s::DOUBLE))))
    * 1e6) AS BIGINT) AS c,
  t.tok
  FROM tf t JOIN dfc d USING (tok), st)
SELECT id AS doc_id, sum(c)::BIGINT AS score_micro,
  count(*)::BIGINT AS n_terms
FROM sc GROUP BY id ORDER BY score_micro DESC, doc_id LIMIT {k}"""


def q_vocab_coverage(k: int = 100) -> str:
    """Twin of operators/vocab.vocab_coverage: top-k corpus tokens
    (ties broken by token string) with cumulative coverage of all token
    occurrences. Sums stay exact bigints; one division per output row."""
    cov = ratio6(
        "sum(cnt) OVER (ORDER BY cnt DESC, tok ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)",
        "(SELECT t FROM tot)")
    return f"""
WITH tk AS (SELECT unnest({tokens(norm('text'))}) AS tok FROM documents),
c AS (SELECT tok, count(*)::BIGINT AS cnt FROM tk GROUP BY tok),
tot AS (SELECT sum(cnt) AS t FROM c),
top AS (SELECT tok, cnt FROM c ORDER BY cnt DESC, tok LIMIT {k})
SELECT tok, cnt,
  row_number() OVER (ORDER BY cnt DESC, tok) AS rank,
  {cov} AS coverage
FROM top"""


def q_oov_rate(vocab_size: int = 100) -> str:
    """Twin of operators/vocab.oov_rate."""
    return f"""
WITH tk AS (SELECT unnest({tokens(norm('text'))}) AS tok FROM documents),
c AS (SELECT tok, count(*)::BIGINT AS cnt FROM tk GROUP BY tok),
top AS (SELECT tok, cnt FROM c ORDER BY cnt DESC, tok LIMIT {vocab_size})
SELECT {vocab_size}::BIGINT AS vocab_size,
  (SELECT sum(cnt) FROM c)::BIGINT AS total_tokens,
  ((SELECT sum(cnt) FROM c) - (SELECT sum(cnt) FROM top))::BIGINT AS oov_tokens,
  {ratio6("(SELECT sum(cnt) FROM c) - (SELECT sum(cnt) FROM top)",
          "(SELECT sum(cnt) FROM c)")} AS oov_rate"""


def q_shard_manifest(block: int = 128, eod: int = 1, per_shard: int = 64) -> str:
    """Twin of functions/chunking.shard_manifest."""
    return f"""
WITH pb AS ({q_pack_blocks(block, eod)})
SELECT (block_idx // {per_shard})::BIGINT AS shard_idx,
  count(DISTINCT block_idx)::BIGINT AS n_blocks,
  count(DISTINCT doc_id)::BIGINT AS n_docs,
  min(block_idx)::BIGINT AS first_block,
  max(block_idx)::BIGINT AS last_block
FROM pb GROUP BY 1"""


def q_doc_embeddings(dim: int = 16) -> str:
    """Twin of operators/embeddings.doc_embeddings: hashed TF-IDF with
    signed feature hashing, exact-integer cells, HUGEINT sum of squares
    (Spark: DECIMAL(38,0)) so normalization is order-independent."""
    seeded = md5int("'1:' || t.tok")
    sign = f"(CASE WHEN {seeded} % 2 = 0 THEN 1 ELSE -1 END)"
    return f"""
WITH tk AS (SELECT doc_id, unnest({tokens(norm('text'))}) AS tok FROM documents),
tf AS (SELECT doc_id, tok, count(*) AS tf FROM tk GROUP BY 1, 2),
dfreq AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
nn AS (SELECT count(*) AS n FROM documents),
idf AS (SELECT tok,
          (CAST(round(ln((nn.n + 1)::DOUBLE / (df + 1)) * 1e6) AS BIGINT)
           + 1000000) AS idf_u
        FROM dfreq, nn),
contrib AS (
  SELECT t.doc_id, ({md5int('t.tok')} % {dim}) AS idx,
         sum({sign} * t.tf * i.idf_u)::BIGINT AS s
  FROM tf t JOIN idf i USING (tok) GROUP BY 1, 2),
nrm AS (SELECT doc_id, sum(s::HUGEINT * s)::DOUBLE AS ss FROM contrib GROUP BY 1),
grid AS (SELECT d.doc_id, i.i AS idx
         FROM documents d, (SELECT unnest(range(0, {dim})) AS i) i),
cells AS (
  SELECT g.doc_id, g.idx,
    CASE WHEN coalesce(n.ss, 0) > 0
         THEN {round_hu("coalesce(c.s, 0)::DOUBLE / sqrt(n.ss)")}
         ELSE 0.0 END AS v
  FROM grid g LEFT JOIN contrib c ON c.doc_id = g.doc_id AND c.idx = g.idx
  LEFT JOIN nrm n ON n.doc_id = g.doc_id)
SELECT doc_id, idx::INT AS dim_idx, v AS value FROM cells"""


def q_block_doc_histogram(block: int = 128, eod: int = 1) -> str:
    """Twin of queries.q_block_doc_histogram: distribution of document
    boundaries per training block under the concat-with-EOD layout."""
    return f"""
WITH per AS (
  SELECT block_idx, count(*) AS docs_in_block
  FROM ({q_pack_blocks(block, eod)}) GROUP BY 1)
SELECT docs_in_block::BIGINT AS docs_in_block, count(*)::BIGINT AS n_blocks
FROM per GROUP BY 1"""


def q_incremental_fuzzy_keep() -> str:
    """Twin of operators/minhash_lsh.incremental_fuzzy_keep_ids over the
    doc_id % 4 history/crawl split: new docs sharing any band key with
    history drop; survivors cluster among themselves (star edges + CC)."""
    return f"""
WITH RECURSIVE {_minhash_ctes()},
hist AS (SELECT doc_id AS id FROM documents WHERE doc_id % 4 = 0),
newd AS (SELECT doc_id AS id FROM documents WHERE doc_id % 4 <> 0),
hkeys AS (SELECT DISTINCT b.band_idx, b.band_hash FROM bands b JOIN hist h USING (id)),
nb AS (SELECT b.* FROM bands b JOIN newd n USING (id)),
hit AS (SELECT DISTINCT nb.id FROM nb JOIN hkeys USING (band_idx, band_hash)),
sb AS (SELECT * FROM nb WHERE id NOT IN (SELECT id FROM hit)),
mn AS (SELECT id, min(id) OVER (PARTITION BY band_idx, band_hash) AS m FROM sb),
edges AS (SELECT DISTINCT id AS src, m AS dst FROM mn WHERE id <> m),
sym AS (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
reach(id, root) AS (
  SELECT id, id FROM newd WHERE id NOT IN (SELECT id FROM hit)
  UNION
  SELECT s.src, r.root FROM sym s JOIN reach r ON s.dst = r.id
)
SELECT id AS doc_id FROM reach GROUP BY id HAVING min(root) = id"""


def q_incremental_exact_keep() -> str:
    """Twin of operators/exact_dedup.incremental_exact_keep over the same
    split. Null-text fingerprints are NULL: the equality probe never
    matches them (they skip the history drop) and GROUP BY pools them
    within the crawl — both identical to the Spark side."""
    return f"""
WITH hist AS (SELECT DISTINCT md5({norm('text')}) AS fp
              FROM documents WHERE doc_id % 4 = 0),
newd AS (SELECT doc_id, md5({norm('text')}) AS fp
         FROM documents WHERE doc_id % 4 <> 0),
surv AS (SELECT n.* FROM newd n
         WHERE NOT EXISTS (SELECT 1 FROM hist h WHERE h.fp = n.fp))
SELECT min(doc_id) AS doc_id FROM surv GROUP BY fp"""


def _minhash_ctes_universal(cfg, base: str = "md5") -> str:
    """Production-scheme twin (minhash_bands): one base hash per shingle
    (md5int, or Spark's xxhash64 for ``base='xxhash'``) taken mod 2^32,
    then the universal integer permutation family (a_i*h32 + b_i mod P) —
    identical literal coefficients in both engines
    (functions/hashing.perm_coeffs) — and the same base hash over each
    band's payload."""
    from .functions.hashing import PERM_PRIME, perm_coeffs

    if base == "md5":
        h32, band_hash = f"{md5int('s.s')} % 4294967296", md5int
    else:  # Spark's pmod(xxhash64(s), 2^32)
        h32 = f"({xxhash64('s.s')} % 4294967296 + 4294967296) % 4294967296"
        band_hash = xxhash64

    k, b, r, n = cfg["num_perm"], cfg["bands"], cfg["rows"], cfg["shingle"]
    coeffs = perm_coeffs(k)
    perm_rows = ",\n    ".join(f"({i}, {a}, {bb})" for i, (a, bb) in enumerate(coeffs))
    gram = " || ' ' || ".join(f"t[(i+{j})::INT]" for j in range(n))
    # relational formulation (unnest + cross join the perm table + grouped
    # min): vectorized — nested list lambdas with literal-list indexing
    # rebuild the coefficient lists per element and were ~500x slower
    return f"""
perms(p, a, bc) AS MATERIALIZED (VALUES
    {perm_rows}),
base AS (SELECT doc_id, {norm('text')} AS nrm FROM documents),
tk AS (SELECT doc_id, nrm, {tokens('nrm')} AS t FROM base),
shg AS (
  SELECT doc_id,
    CASE WHEN len(t) < {n}
         THEN (CASE WHEN trim(nrm) = '' THEN []::VARCHAR[] ELSE [nrm] END)
         ELSE list_distinct(list_transform(range(1, len(t) - {n - 2}), i -> {gram}))
    END AS sh
  FROM tk),
shh AS (
  SELECT doc_id, {h32} AS h
  FROM shg, unnest(sh) AS s(s)),
mhf AS (
  SELECT doc_id, p, min((a * h + bc) % {PERM_PRIME}) AS m
  FROM shh CROSS JOIN perms GROUP BY 1, 2),
mh AS (SELECT doc_id, list(m ORDER BY p) AS sig FROM mhf GROUP BY doc_id),
bands AS (
  SELECT doc_id AS id, bb.b AS band_idx,
    {band_hash(f"bb.b::VARCHAR || '#' || array_to_string(sig[(bb.b*{r}+1)::INT:(bb.b*{r}+{r})::INT], '|')")} AS band_hash
  FROM mh, (SELECT unnest(range(0, {b})) AS b) bb)"""


def q_fuzzy_dedup_prod(cfg=None, base: str = "xxhash") -> str:
    """Keep-list of the production fuzzy-dedup plan (117 perms / 9 bands /
    star edges / distributed-CC contract): the deployed xxhash64 base
    hash by default, md5 for fuzzy_dedup_prod_checked. Star edges link
    every bucket member through the bucket min, so one recursive CTE
    yields the same connected components."""
    if cfg is None:
        from .config import PROD_MINHASH as cfg
    return f"""
WITH RECURSIVE {_minhash_ctes_universal(cfg, base)}, {_edges_cte()},
sym AS MATERIALIZED (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
reach(id, root) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT s.src, r.root FROM sym s JOIN reach r ON s.dst = r.id
)
SELECT id AS doc_id FROM reach GROUP BY id HAVING min(root) = id"""


def q_rpv2_pre_banded_keep(n_bands: int = 9) -> str:
    """Twin of queries.q_rpv2_pre_banded_keep: identical synthetic band
    digests (md5 of the same payload string), star edges, recursive CC."""
    return f"""
WITH RECURSIVE k AS (
  SELECT doc_id,
    CASE WHEN doc_id % 5 = 0 THEN 'dup:' || (doc_id % 50)
         ELSE 'solo:' || doc_id END AS key
  FROM documents),
bands AS (
  SELECT doc_id AS id, bb.b AS band_idx,
    md5(bb.b::VARCHAR || '#' || key ||
        (CASE WHEN bb.b >= (doc_id % 7) + 3 THEN ':' || doc_id ELSE '' END))
      AS band_hash
  FROM k, (SELECT unnest(range(0, {n_bands})) AS b) bb),
{_edges_cte()},
sym AS MATERIALIZED (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
reach(id, root) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT s.src, r.root FROM sym s JOIN reach r ON s.dst = r.id
)
SELECT id AS doc_id, id::VARCHAR AS id FROM reach GROUP BY id HAVING min(root) = id"""


def q_wet_ingest() -> str:
    """Twin of queries.q_wet_ingest: the WET roundtrip must reproduce the
    source rows byte-for-byte — url from doc_id, the synthesized
    WARC-Date instant (epoch 1.6e9 + doc_id), md5 of the text bytes."""
    return """
SELECT 'https://example.org/doc/' || doc_id AS url,
       (1600000000 + doc_id)::BIGINT AS ts_unix,
       md5(text) AS text_md5,
       length(text)::BIGINT AS n_chars
FROM documents WHERE text IS NOT NULL"""


def q_rpv2_exact_keep() -> str:
    """Twin of queries.q_rpv2_exact_keep: reference-format composite ids,
    malformed published-duplicates ids repaired by the fix_id rewrite
    ('.json/' -> '.json.gz/'), anti-join keep."""
    return """
WITH ids AS (
  SELECT doc_id,
    '2014-15/' || (doc_id % 10) || '/en_head.json.gz/' || doc_id AS id
  FROM documents),
dups AS (
  SELECT '2014-15/' || (doc_id % 10) || '/en_head.json/' || doc_id AS doc_id
  FROM documents WHERE doc_id % 7 = 0),
fixed AS (SELECT replace(doc_id, '.json/', '.json.gz/') AS id FROM dups)
SELECT i.doc_id, i.id FROM ids i
WHERE NOT EXISTS (SELECT 1 FROM fixed f WHERE f.id = i.id)"""


def q_jaccard_vs_query(query_doc_id: int = 0, min_sim: float = 0.0) -> str:
    return f"""
WITH {_minhash_ctes()},
q AS (SELECT sh AS qs FROM shg WHERE doc_id = {query_doc_id})
SELECT s.doc_id AS id,
  {ratio6("len(list_filter(s.sh, x -> list_contains(q.qs, x)))",
          "len(s.sh) + len(q.qs) - len(list_filter(s.sh, x -> list_contains(q.qs, x)))")}::DOUBLE AS jaccard
FROM shg s, q
WHERE {ratio6("len(list_filter(s.sh, x -> list_contains(q.qs, x)))",
              "len(s.sh) + len(q.qs) - len(list_filter(s.sh, x -> list_contains(q.qs, x)))")} >= {min_sim}"""


def _simhash_ctes(bits: int = SIMHASH_BITS, table: str = "documents") -> str:
    return f"""
tk AS (SELECT doc_id, {tokens(norm('text'))} AS t FROM {table}),
hx AS (SELECT doc_id, {md5int("'0:' || tok")} AS hv FROM (SELECT doc_id, unnest(t) AS tok FROM tk)),
bits AS (
  SELECT doc_id, bb.b AS b,
    sum(CASE WHEN (hv >> bb.b) & 1 = 1 THEN 1 ELSE -1 END) AS v
  FROM hx, (SELECT unnest(range(0, {bits})) AS b) bb
  GROUP BY 1, 2),
sh AS (SELECT doc_id, sum(CASE WHEN v > 0 THEN (1::BIGINT << b) ELSE 0 END)::BIGINT AS simhash
       FROM bits GROUP BY 1),
shall AS (SELECT d.doc_id AS id, coalesce(sh.simhash, 0)::BIGINT AS simhash
          FROM {table} d LEFT JOIN sh USING (doc_id))"""


def q_simhash() -> str:
    return f"WITH {_simhash_ctes()} SELECT id, simhash FROM shall"


def q_simhash_near_pairs(max_hamming: int = 3, band_bits: int = 4,
                         bits: int = SIMHASH_BITS,
                         max_bucket: int | None = None) -> str:
    n_bands = bits // band_bits
    mask = (1 << band_bits) - 1
    join_src = "banded"
    cap_cte = ""
    if max_bucket is not None:
        join_src = "capped"
        cap_cte = f""",
capped AS (
  SELECT id, simhash, band, key FROM (
    SELECT *, row_number() OVER (PARTITION BY band, key ORDER BY id) AS rn
    FROM banded) WHERE rn <= {max_bucket})"""
    return f"""
WITH {_simhash_ctes(bits)},
banded AS (
  SELECT id, simhash, bb.b AS band, (simhash >> (bb.b * {band_bits})) & {mask} AS key
  FROM shall, (SELECT unnest(range(0, {n_bands})) AS b) bb){cap_cte}
SELECT DISTINCT a.id AS src, b.id AS dst, bit_count(xor(a.simhash, b.simhash))::INT AS hamming
FROM {join_src} a JOIN {join_src} b ON a.band = b.band AND a.key = b.key AND a.id < b.id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}"""


# Spark-side twin: queries.q_simhash_capped_near_pairs appends this exact
# flood to the corpus (40 identical boilerplate docs from one hot host)
SIMHASH_FLOOD_TEXT = (
    "boilerplate cookie banner accept all terms privacy policy footer "
    "navigation copyright widget"
)
SIMHASH_FLOOD_DOCS = 40


def q_simhash_capped_near_pairs(max_bucket: int = 8, max_hamming: int = 3,
                                band_bits: int = 4,
                                bits: int = SIMHASH_BITS) -> str:
    """Twin of simhash_near_pairs(max_bucket=...) on a corpus with a
    deliberate boilerplate flood: per-(band, key) bucket width is capped at
    ``max_bucket`` rows in ascending id order (row_number), so the flood
    contributes C(cap,2) pairs instead of C(flood,2) — the approximation's
    semantics, pinned cross-engine."""
    n_bands = bits // band_bits
    mask = (1 << band_bits) - 1
    return f"""
WITH flooded AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, '{SIMHASH_FLOOD_TEXT}'
  FROM documents WHERE doc_id < {SIMHASH_FLOOD_DOCS}),
{_simhash_ctes(bits, table="flooded")},
banded AS (
  SELECT id, simhash, bb.b AS band, (simhash >> (bb.b * {band_bits})) & {mask} AS key
  FROM shall, (SELECT unnest(range(0, {n_bands})) AS b) bb),
capped AS (
  SELECT id, simhash, band, key FROM (
    SELECT *, row_number() OVER (PARTITION BY band, key ORDER BY id) AS rn
    FROM banded) WHERE rn <= {max_bucket})
SELECT DISTINCT a.id AS src, b.id AS dst,
  bit_count(xor(a.simhash, b.simhash))::INT AS hamming
FROM capped a JOIN capped b ON a.band = b.band AND a.key = b.key AND a.id < b.id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}"""


def q_simhash_dedup_keep(max_hamming: int = 3, band_bits: int = 15,
                         bits: int = 60) -> str:
    """Twin of operators/simhash_dedup.simhash_dedup_keep: star edges
    (member -> bucket arg_min, hamming-verified) + recursive CC keep."""
    n_bands = bits // band_bits
    mask = (1 << band_bits) - 1
    return f"""
WITH RECURSIVE {_simhash_ctes(bits)},
banded AS (
  SELECT id, simhash, bb.b AS band, (simhash >> (bb.b * {band_bits})) & {mask} AS key
  FROM shall, (SELECT unnest(range(0, {n_bands})) AS b) bb),
buckets AS (
  SELECT band, key, min(id) AS min_id, arg_min(simhash, id) AS min_sim
  FROM banded GROUP BY band, key),
edges AS (
  SELECT DISTINCT b.id AS src, k.min_id AS dst
  FROM banded b JOIN buckets k USING (band, key)
  WHERE b.id != k.min_id
    AND bit_count(xor(b.simhash, k.min_sim)) <= {max_hamming}),
sym AS MATERIALIZED (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
reach(id, root) AS (
  SELECT id, id FROM shall
  UNION
  SELECT s.src, r.root FROM sym s JOIN reach r ON s.dst = r.id
)
SELECT id AS doc_id FROM reach GROUP BY id HAVING min(root) = id"""


def q_embedding_dedup_star_keep(threshold: float = 0.95, dim: int = 64,
                                nbits: int = 64, band_bits: int = 16) -> str:
    """Twin of operators/ann.embedding_dedup_star_keep: star edges per
    hyperplane band bucket, cosine-verified, recursive CC keep."""
    cos = _pair_cos("ea.embedding", "eb.embedding")
    return f"""
WITH RECURSIVE {_AUG_EMB},
{_hyperplane_band_ctes(dim, nbits, band_bits, table="aug")},
buckets AS (SELECT band, key, min(vec_id) AS min_id FROM bands GROUP BY band, key),
cand AS (
  SELECT DISTINCT b.vec_id AS src, k.min_id AS dst
  FROM bands b JOIN buckets k USING (band, key)
  WHERE b.vec_id != k.min_id),
edges AS (
  SELECT c.src, c.dst
  FROM cand c
  JOIN aug ea ON ea.vec_id = c.src
  JOIN aug eb ON eb.vec_id = c.dst
  WHERE {round_hu(cos, ANN_ROUND)} >= {threshold}),
sym AS MATERIALIZED (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
reach(id, root) AS (
  SELECT vec_id, vec_id FROM aug
  UNION
  SELECT s.src, r.root FROM sym s JOIN reach r ON s.dst = r.id
)
SELECT id AS vec_id FROM reach GROUP BY id HAVING min(root) = id"""


# ---------------------------------------------------------------------------
# Embeddings / ANN
# ---------------------------------------------------------------------------

_COS = """
WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = {qid}),
s AS (
  SELECT e.vec_id,
    list_aggregate(list_transform(range(1, len(e.embedding)+1),
      i -> e.embedding[i::INT]::DOUBLE * q.qe[i::INT]::DOUBLE), 'sum') AS num,
    sqrt(list_aggregate(list_transform(range(1, len(e.embedding)+1),
      i -> e.embedding[i::INT]::DOUBLE * e.embedding[i::INT]::DOUBLE), 'sum')) *
    sqrt(list_aggregate(list_transform(range(1, len(q.qe)+1),
      i -> q.qe[i::INT]::DOUBLE * q.qe[i::INT]::DOUBLE), 'sum')) AS den
  FROM embeddings e, q)
SELECT vec_id, (floor((CASE WHEN den = 0 THEN 0.0 ELSE num / den END) * {scale} + 0.5) / {scale})::DOUBLE AS cos
FROM s ORDER BY cos DESC, vec_id LIMIT {k}"""


def q_ann_cosine_topk(query_vec_id: int = 0, k: int = ANN_TOPK) -> str:
    return _COS.format(qid=query_vec_id, scale=f"{10 ** ANN_ROUND}.0", k=k)


def _hyperplane_sig_ctes(dim: int, nbits: int, table: str = "embeddings") -> str:
    """planes + sig CTEs: identical literal hyperplanes (plane_weights —
    derived once from md5, inlined in both engines), identical bit rule
    (floor-idiom round_hu(dot) > 0). Yields sig(vec_id, bucket)."""
    from .operators.ann import plane_weights

    planes = plane_weights(dim, nbits)
    rows = ",\n    ".join(
        f"({p}, {list(ws)}::DOUBLE[])" for p, ws in enumerate(planes)
    )
    dot = ("list_aggregate(list_transform(range(1, " + str(dim + 1) + "), "
           "i -> e.embedding[i::INT]::DOUBLE * p.w[i::INT]), 'sum')")
    return f"""planes(p, w) AS (VALUES
    {rows}),
sig AS (
  SELECT e.vec_id,
    sum(CASE WHEN {round_hu(dot)} > 0 THEN (1::BIGINT << p.p) ELSE 0 END)::BIGINT
      AS bucket
  FROM {table} e CROSS JOIN planes p GROUP BY e.vec_id)"""


def _hyperplane_band_ctes(dim: int, nbits: int, band_bits: int,
                          table: str = "embeddings") -> str:
    """planes + bands CTEs — twin of operators/ann.banded_keys_frame:
    the nbits-plane signature split into nbits/band_bits bands, band =
    p // band_bits, key bit = p % band_bits, bit rule = INTEGER micro-unit
    dot (sum of round(x*w*1e6) as bigint — order-independent, so the
    engines agree regardless of summation strategy) > 0.
    Yields bands(vec_id, band, key)."""
    from .operators.ann import plane_weights

    planes = plane_weights(dim, nbits)
    rows = ",\n    ".join(
        f"({p}, {list(ws)}::DOUBLE[])" for p, ws in enumerate(planes)
    )
    dot = ("list_aggregate(list_transform(range(1, " + str(dim + 1) + "), "
           "i -> round(e.embedding[i::INT]::DOUBLE * p.w[i::INT] * 1e6)::BIGINT)"
           ", 'sum')")
    return f"""planes(p, w) AS (VALUES
    {rows}),
bands AS (
  SELECT e.vec_id, (p.p // {band_bits})::INT AS band,
    sum(CASE WHEN {dot} > 0
        THEN (1::BIGINT << (p.p % {band_bits})) ELSE 0 END)::BIGINT AS key
  FROM {table} e CROSS JOIN planes p
  WHERE len(e.embedding) = {dim}
  GROUP BY e.vec_id, p.p // {band_bits})"""


def _pair_cos(a: str, b: str) -> str:
    return f"""(
    SELECT CASE WHEN den = 0 THEN 0.0 ELSE num / den END FROM (
      SELECT
        list_aggregate(list_transform(range(1, len({a})+1),
          i -> {a}[i::INT]::DOUBLE * {b}[i::INT]::DOUBLE), 'sum') AS num,
        sqrt(list_aggregate(list_transform(range(1, len({a})+1),
          i -> {a}[i::INT]::DOUBLE * {a}[i::INT]::DOUBLE), 'sum')) *
        sqrt(list_aggregate(list_transform(range(1, len({b})+1),
          i -> {b}[i::INT]::DOUBLE * {b}[i::INT]::DOUBLE), 'sum')) AS den))"""


# the random synthetic embeddings contain no organic near-dups (max
# pairwise cosine ~0.5), so the oracle-checked near-dup queries augment
# the table with perturbed copies of every 25th vector — built with the
# IDENTICAL float arithmetic in both engines (first component * 1.02)
_AUG_EMB = """
aug AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS embedding
  FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000,
    list_concat([embedding[1]::DOUBLE * 1.02],
                list_transform(embedding[2:], x -> x::DOUBLE))
  FROM embeddings WHERE vec_id % 25 = 0)"""


def _near_dup_pairs_ctes(threshold: float, dim: int, nbits: int) -> str:
    cos = _pair_cos("a.embedding", "b.embedding")
    return f"""{_AUG_EMB},
{_hyperplane_sig_ctes(dim, nbits, table="aug")},
v AS (SELECT e.vec_id, e.embedding, s.bucket
      FROM aug e JOIN sig s USING (vec_id)),
pairs AS (
  SELECT a.vec_id AS src, b.vec_id AS dst,
    {round_hu(cos, ANN_ROUND)}::DOUBLE AS cos
  FROM v a JOIN v b ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
nd AS (SELECT src, dst, cos FROM pairs WHERE cos >= {threshold})"""


def q_embedding_near_dup_pairs(threshold: float = 0.95, dim: int = 64,
                               nbits: int = 8) -> str:
    return f"WITH {_near_dup_pairs_ctes(threshold, dim, nbits)}\nSELECT src, dst, cos FROM nd"


def _banded_near_dup_ctes(threshold: float, dim: int, nbits: int,
                          band_bits: int,
                          max_bucket: int | None = None) -> str:
    """Twin of the banded production path: distinct candidate pairs from
    the union of per-band bucket joins (each bucket capped at its
    ``max_bucket`` smallest ids when set), cosine verify on the deduped
    set."""
    cos = _pair_cos("ea.embedding", "eb.embedding")
    join_src = "bands"
    cap_cte = ""
    if max_bucket is not None:
        join_src = "capped"
        cap_cte = f"""
capped AS (
  SELECT vec_id, band, key FROM (
    SELECT vec_id, band, key,
      row_number() OVER (PARTITION BY band, key ORDER BY vec_id) AS rn
    FROM bands) WHERE rn <= {max_bucket}),"""
    return f"""{_AUG_EMB},
{_hyperplane_band_ctes(dim, nbits, band_bits, table="aug")},{cap_cte}
cand AS (
  SELECT DISTINCT a.vec_id AS src, b.vec_id AS dst
  FROM {join_src} a JOIN {join_src} b
    ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id),
nd AS (
  SELECT c.src, c.dst, {round_hu(cos, ANN_ROUND)}::DOUBLE AS cos
  FROM cand c
  JOIN aug ea ON ea.vec_id = c.src
  JOIN aug eb ON eb.vec_id = c.dst
  WHERE {round_hu(cos, ANN_ROUND)} >= {threshold})"""


def q_embedding_near_dup_prod_pairs(threshold: float = 0.95, dim: int = 64,
                                    nbits: int = 64, band_bits: int = 16,
                                    max_bucket: int | None = None) -> str:
    return (f"WITH {_banded_near_dup_ctes(threshold, dim, nbits, band_bits, max_bucket)}\n"
            "SELECT src, dst, cos FROM nd")


def q_embedding_dedup_prod_keep(threshold: float = 0.95, dim: int = 64,
                                nbits: int = 64, band_bits: int = 16,
                                max_bucket: int | None = None) -> str:
    return f"""
WITH RECURSIVE {_banded_near_dup_ctes(threshold, dim, nbits, band_bits, max_bucket)},
sym AS MATERIALIZED (SELECT src, dst FROM nd UNION SELECT dst, src FROM nd),
reach(id, root) AS (
  SELECT vec_id, vec_id FROM aug
  UNION
  SELECT s.src, r.root FROM sym s JOIN reach r ON s.dst = r.id
)
SELECT id AS vec_id FROM reach GROUP BY id HAVING min(root) = id"""


def q_embedding_dedup_keep(threshold: float = 0.95, dim: int = 64,
                           nbits: int = 8) -> str:
    return f"""
WITH RECURSIVE {_near_dup_pairs_ctes(threshold, dim, nbits)},
sym AS MATERIALIZED (SELECT src, dst FROM nd UNION SELECT dst, src FROM nd),
reach(id, root) AS (
  SELECT vec_id, vec_id FROM aug
  UNION
  SELECT s.src, r.root FROM sym s JOIN reach r ON s.dst = r.id
)
SELECT id AS vec_id FROM reach GROUP BY id HAVING min(root) = id"""


def q_ann_lsh_topk(query_vec_id: int = 0, dim: int = 64, nbits: int = 8,
                   k: int = ANN_TOPK) -> str:
    """Twin of operators/ann.ann_lsh_topk: bucket-filtered exact rerank
    over the shared literal-hyperplane signature CTE."""
    return f"""
WITH {_hyperplane_sig_ctes(dim, nbits)},
q AS (
  SELECT s.bucket AS qb, e.embedding AS qe
  FROM sig s JOIN embeddings e USING (vec_id) WHERE s.vec_id = {query_vec_id}),
cand AS (
  SELECT e.vec_id, e.embedding FROM embeddings e JOIN sig s USING (vec_id), q
  WHERE s.bucket = q.qb),
c AS (
  SELECT e.vec_id,
    list_aggregate(list_transform(range(1, len(e.embedding)+1),
      i -> e.embedding[i::INT]::DOUBLE * q.qe[i::INT]::DOUBLE), 'sum') AS num,
    sqrt(list_aggregate(list_transform(range(1, len(e.embedding)+1),
      i -> e.embedding[i::INT]::DOUBLE * e.embedding[i::INT]::DOUBLE), 'sum')) *
    sqrt(list_aggregate(list_transform(range(1, len(q.qe)+1),
      i -> q.qe[i::INT]::DOUBLE * q.qe[i::INT]::DOUBLE), 'sum')) AS den
  FROM cand e, q)
SELECT vec_id,
  {round_hu('CASE WHEN den = 0 THEN 0.0 ELSE num / den END', ANN_ROUND)}::DOUBLE AS cos
FROM c ORDER BY cos DESC, vec_id LIMIT {k}"""


def q_ann_multiprobe_lsh_topk(query_vec_id: int = 0, dim: int = 64,
                              nbits: int = 8, k: int = ANN_TOPK) -> str:
    """Twin of operators/ann.ann_multiprobe_lsh_topk: query bucket plus
    all nbits Hamming-1 neighbor buckets, exact rerank."""
    return f"""
WITH {_hyperplane_sig_ctes(dim, nbits)},
q AS (
  SELECT s.bucket AS qb, e.embedding AS qe
  FROM sig s JOIN embeddings e USING (vec_id) WHERE s.vec_id = {query_vec_id}),
probes AS (
  SELECT qb AS pb FROM q
  UNION ALL
  SELECT xor(qb, 1::BIGINT << p.p) FROM q, (SELECT unnest(range(0, {nbits})) AS p) p),
cand AS (
  SELECT DISTINCT e.vec_id, e.embedding
  FROM embeddings e JOIN sig s USING (vec_id) JOIN probes ON s.bucket = probes.pb),
c AS (
  SELECT e.vec_id,
    list_aggregate(list_transform(range(1, len(e.embedding)+1),
      i -> e.embedding[i::INT]::DOUBLE * q.qe[i::INT]::DOUBLE), 'sum') AS num,
    sqrt(list_aggregate(list_transform(range(1, len(e.embedding)+1),
      i -> e.embedding[i::INT]::DOUBLE * e.embedding[i::INT]::DOUBLE), 'sum')) *
    sqrt(list_aggregate(list_transform(range(1, len(q.qe)+1),
      i -> q.qe[i::INT]::DOUBLE * q.qe[i::INT]::DOUBLE), 'sum')) AS den
  FROM cand e, q)
SELECT vec_id,
  {round_hu('CASE WHEN den = 0 THEN 0.0 ELSE num / den END', ANN_ROUND)}::DOUBLE AS cos
FROM c ORDER BY cos DESC, vec_id LIMIT {k}"""


def q_cube_counts() -> str:
    return """
SELECT coalesce(lang, 'ALL') AS lang, coalesce(source, 'ALL') AS source,
  count(*)::BIGINT AS n, sum(n_chars)::BIGINT AS chars
FROM documents GROUP BY CUBE (lang, source)"""


def q_top_docs_per_lang(k: int = 3) -> str:
    return f"""
SELECT lang, doc_id, n_chars, rk::BIGINT AS rk FROM (
  SELECT lang, doc_id, n_chars,
    row_number() OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id) AS rk
  FROM documents) WHERE rk <= {k}"""


def q_multimodal_meta() -> str:
    """Twin of operators/multimodal.decode_media_meta over the synthetic
    MM1 payloads built by queries.q_multimodal_meta: reconstruct the same
    'MM1|kind|w|h|body' header and parse it back (all payloads are
    well-formed, so ok is always true); n_bytes = UTF-8 octet length."""
    return """
WITH b AS (
  SELECT doc_id AS id,
    CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'video' ELSE 'audio' END AS kind,
    doc_id % 640 AS w, doc_id % 480 AS h,
    substr(text, 1, 20) AS body
  FROM documents)
SELECT id, kind, w::INT AS width, h::INT AS height,
  octet_length(encode('MM1|' || kind || '|' || w || '|' || h || '|' || body))::BIGINT
    AS n_bytes,
  true AS ok
FROM b"""


def q_image_meta() -> str:
    """Oracle for the REAL image decode: the Spark side PARSES generated
    PNG/GIF/JPEG bytes; this side predicts the result from the generator's
    dimension formula (operators/multimodal.with_synth_images). A parser
    bug on any byte layout breaks the hash match."""
    return """
SELECT doc_id AS id,
  CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'gif' ELSE 'jpeg' END AS kind,
  (doc_id % 64 + 1)::INT AS width,
  (doc_id % 48 + 1)::INT AS height,
  true AS ok
FROM documents"""


def q_image_pixels() -> str:
    """Oracle for the deep PNG pixel decode: the Spark side inflates and
    unfilters the ACTUAL gray8 PNG byte stream (png_gray8_pixels); this
    side recomputes the pixel stats straight from the generator's pixel
    formula p(x, y) = (x*7 + y) % 256 over the id-derived dimensions. Any
    bug in chunk walking, CRC handling, inflation, or filter
    reconstruction breaks the value hash."""
    return f"""
WITH ids AS (
  SELECT doc_id AS id, (doc_id % 64 + 1) AS w, (doc_id % 48 + 1) AS h
  FROM documents WHERE doc_id % 3 = 0),
px AS (
  SELECT id, w, h, ((xx.x * 7 + yy.y) % 256)::BIGINT AS p
  FROM ids,
  LATERAL (SELECT unnest(range(0, w)) AS x) xx,
  LATERAL (SELECT unnest(range(0, h)) AS y) yy)
SELECT id, w::INT AS width, h::INT AS height,
  count(*)::BIGINT AS n_pixels, sum(p)::BIGINT AS pixel_sum,
  min(p)::INT AS pixel_min, max(p)::INT AS pixel_max,
  {ratio6('sum(p)', 'count(*)')}::DOUBLE AS pixel_mean,
  true AS ok
FROM px GROUP BY id, w, h"""


def _cos_expr(a: str, b: str) -> str:
    """Inline (subquery-free) cosine — usable inside window ORDER BY.

    Uses DuckDB's native ``list_dot_product`` (vectorized C++): a
    sequential left-to-right sum, the SAME addition order as Spark's
    ``F.aggregate`` fold and as the list-lambda formulation this
    replaces (verified by a catastrophic-cancellation probe — both give
    0.0 on [1e16, 1, -1e16]·[1,1,1] — and by value-hash equality against
    Spark on every fixture). The lambda form evaluated ~100x slower,
    which made certification at the 50k-vector scale impractical."""
    cast_a, cast_b = f"CAST({a} AS DOUBLE[])", f"CAST({b} AS DOUBLE[])"
    num = f"list_dot_product({cast_a}, {cast_b})"
    den = (f"(sqrt(list_dot_product({cast_a}, {cast_a})) * "
           f"sqrt(list_dot_product({cast_b}, {cast_b})))")
    return f"(CASE WHEN {den} = 0 THEN 0.0 ELSE ({num}) / {den} END)"


def q_audio_pcm_stats() -> str:
    """Oracle for the deep WAV decode: the Spark side walks the RIFF
    chunks of ACTUAL PCM16 bytes and unpacks the sample stream
    (parse_wav_pcm); this side recomputes the stats straight from the
    generator's sample formula s(i) = ((i*37) % 20001) - 10000 over the
    id-derived rate/length. Any bug in chunk walking, alignment, or
    sample unpacking breaks the value hash."""
    return """
WITH ids AS (
  SELECT doc_id AS id, (8000 + (doc_id % 8) * 1000) AS rate,
         (doc_id % 500 + 50) AS n
  FROM documents WHERE doc_id % 3 = 2),
s AS (
  SELECT id, rate, ((i.i * 37) % 20001 - 10000)::BIGINT AS amp
  FROM ids, LATERAL (SELECT unnest(range(0, n)) AS i) i)
SELECT id, rate::INT AS sample_rate, count(*)::BIGINT AS n_samples,
  min(amp)::INT AS amp_min, max(amp)::INT AS amp_max,
  sum(amp)::BIGINT AS amp_sum, true AS ok
FROM s GROUP BY id, rate"""


def q_video_frames(every_n: int = 5) -> str:
    """Oracle for the deep AVI decode: the Spark side walks the RIFF/AVI
    container of ACTUAL bytes (LIST hdrl/avih header, LIST movi frame
    chunks) and samples every ``every_n``-th frame; this side recomputes
    the sampled frames' byte sums straight from the generator's pixel
    formula p(f, j) = (f*31 + j) % 256 over the id-derived dims."""
    return f"""
WITH ids AS (
  SELECT doc_id AS id, (doc_id % 16 + 4) AS w, (doc_id % 12 + 4) AS h,
         (doc_id % 20 + 1) AS n
  FROM documents WHERE doc_id % 3 = 1),
fr AS (
  SELECT id, w, h, f.f AS frame_idx
  FROM ids, LATERAL (SELECT unnest(range(0, n, {every_n})) AS f) f),
px AS (
  SELECT id, w, h, frame_idx, ((frame_idx * 31 + j.j) % 256)::BIGINT AS b
  FROM fr, LATERAL (SELECT unnest(range(0, w * h)) AS j) j)
SELECT id, frame_idx::INT AS frame_idx, w::INT AS width, h::INT AS height,
  sum(b)::BIGINT AS byte_sum, true AS ok
FROM px GROUP BY id, frame_idx, w, h"""


def q_ann_ivf_topk(query_vec_id: int = 0, dim: int = 64, n_probe: int = 3,
                   k: int = ANN_TOPK) -> str:
    """Twin of operators/ann.ann_ivf_topk: rounded per-label centroid
    vectors, nearest-cell assignment (window argmin), probe the query's
    n_probe cells, exact rerank."""
    ccos = round_hu(_cos_expr('e.embedding', 'v.cv'), ANN_ROUND)
    qcos = round_hu(_cos_expr('q.qe', 'v.cv'), ANN_ROUND)
    rcos = round_hu(_cos_expr('c.embedding', 'q.qe'), ANN_ROUND)
    return f"""
WITH cent AS (
  SELECT label, (i.i - 1) AS pos,
    ({_exact_mean4('embedding[i.i::INT]::DOUBLE')} + 0.0) AS c
  FROM embeddings, (SELECT unnest(range(1, {dim + 1})) AS i) i
  GROUP BY 1, 2),
centv AS (SELECT label, list(c ORDER BY pos) AS cv FROM cent GROUP BY label),
q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = {query_vec_id}),
probe AS (
  SELECT v.label FROM centv v, q
  ORDER BY {qcos} DESC, v.label LIMIT {n_probe}),
assign AS (
  SELECT vec_id, label FROM (
    SELECT e.vec_id, v.label,
      row_number() OVER (PARTITION BY e.vec_id ORDER BY {ccos} DESC, v.label) AS rn
    FROM embeddings e CROSS JOIN centv v) WHERE rn = 1),
cand AS (
  SELECT e.vec_id, e.embedding
  FROM embeddings e
  JOIN assign a ON e.vec_id = a.vec_id
  JOIN probe p ON a.label = p.label)
SELECT c.vec_id, {rcos}::DOUBLE AS cos
FROM cand c, q ORDER BY cos DESC, c.vec_id LIMIT {k}"""


def _exact_mean4(expr: str) -> str:
    """Twin of operators/ann.exact_mean4: order-independent integer-exact
    4-decimal mean (micro-unit sums + integer HALF-toward-+inf quotient)."""
    return (
        f"(floor((sum(round({expr} * 1e6)::BIGINT) * 2 + count(*) * 100) "
        f"/ (count(*) * 200))::BIGINT / 10000.0)"
    )


def _kmeans_ctes(k: int | str = 8, iters: int = 3, dim: int = 64,
                 table: str = "embeddings") -> list[str]:
    """CTE chain for deterministic spherical k-means, ending in
    c{iters}(cid, cv) and m{iters}(cid, pos, c). ``table`` lets the chain
    train over any (vec_id, embedding) relation (e.g. the augmented
    embeddings in the SemDeDup twin). ``k`` may be an int or a SQL
    scalar-subquery string (e.g. ``"(SELECT kk FROM kcount)"``) for
    corpus-derived cell counts — only the init LIMIT depends on k; the
    Lloyd chain itself is k-agnostic."""
    cos = _cos_expr("e.v", "c.cv")
    ctes = [
        f"e AS MATERIALIZED (SELECT vec_id AS id, list_transform(embedding, x -> x::DOUBLE) AS v FROM {table})",
        f"""c0 AS (
  SELECT vec_id AS cid, list_transform(embedding, x -> x::DOUBLE) AS cv
  FROM {table} ORDER BY vec_id LIMIT {k})""",
    ]
    for t in range(1, iters + 1):
        ctes.append(f"""a{t} AS MATERIALIZED (
  SELECT id, cid FROM (
    SELECT e.id, c.cid,
      row_number() OVER (PARTITION BY e.id
        ORDER BY {round_hu(cos, ANN_ROUND)} DESC, c.cid) AS rn
    FROM e CROSS JOIN c{t - 1} c) WHERE rn = 1)""")
        ctes.append(f"""m{t} AS MATERIALIZED (
  SELECT a.cid, (i.i - 1) AS pos, ({_exact_mean4('e.v[i.i::INT]')} + 0.0) AS c
  FROM e JOIN a{t} a USING (id), (SELECT unnest(range(1, {dim + 1})) AS i) i
  GROUP BY 1, 2)""")
        ctes.append(
            f"c{t} AS MATERIALIZED (SELECT cid, list(c ORDER BY pos) AS cv FROM m{t} GROUP BY cid)"
        )
    return ctes


def q_kmeans_cells(k: int = 8, iters: int = 3, dim: int = 64) -> str:
    """Twin of operators/ann.kmeans_cells: the SAME deterministic Lloyd
    iterations, unrolled as a CTE chain (init = k smallest ids, rounded-
    cosine argmax assignment with ties to the smallest cid, exact_mean4
    component updates)."""
    body = ",\n".join(_kmeans_ctes(k, iters, dim))
    return (f"WITH {body}\n"
            f"SELECT cid::BIGINT AS cid, pos::BIGINT AS pos, c::DOUBLE AS centroid "
            f"FROM m{iters}")


def q_semdedup_keep(threshold: float = 0.95, k_cells: int | None = None,
                    iters: int = 3, dim: int = 64,
                    target_cell_width: int = 10_000) -> str:
    """Twin of operators/semdedup.semdedup_keep over the augmented
    embeddings: the SAME deterministic Lloyd chain (trained on aug),
    rounded-cosine argmax assignment carrying the centroid cosine,
    within-cell pairs verified at the rounded threshold, recursive-CTE
    connected components, and the paper's keep rule — per duplicate
    group the member with the LOWEST centroid cosine (ties to min id).

    ``k_cells=None`` derives k in SQL exactly as the Spark side's
    derive_k_cells: greatest(8, ceil(n / target_cell_width)) over the
    well-formed vectors — so the twin stays correct at ANY fixture scale
    (8 cells at the 500-2000-vector driver fixtures, 52 at the
    50k-vector certification fixture)."""
    last = f"c{iters}"
    ccos = round_hu(_cos_expr('e.v', 'c.cv'), ANN_ROUND)
    if k_cells is None:
        k_sql: int | str = "(SELECT kk FROM kcount)"
        kcount = (f"kcount AS (SELECT greatest(8, ceil(count(*)::DOUBLE "
                  f"/ {target_cell_width})::BIGINT) AS kk FROM aug_ok),\n")
    else:
        k_sql, kcount = k_cells, ""
    body = ",\n".join(_kmeans_ctes(k_sql, iters, dim, table="aug_ok"))
    return f"""
WITH RECURSIVE {_AUG_EMB},
aug_ok AS (SELECT * FROM aug WHERE len(embedding) = {dim}),
{kcount}{body},
assign AS MATERIALIZED (
  SELECT id, cid, ccos FROM (
    SELECT e.id, c.cid, {ccos} AS ccos,
      row_number() OVER (PARTITION BY e.id ORDER BY {ccos} DESC, c.cid) AS rn
    FROM e CROSS JOIN {last} c) WHERE rn = 1),
pairs AS (
  SELECT a.id AS src, b.id AS dst
  FROM assign a JOIN assign b ON a.cid = b.cid AND a.id < b.id),
vn AS MATERIALIZED (
  SELECT id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
edges AS MATERIALIZED (
  -- norms precomputed per VECTOR (identical float product to the inline
  -- norm(a)*norm(b)); only the dot runs per PAIR — the Spark side uses
  -- the same decomposition (operators/semdedup.py pair verify).
  -- list_dot_product is DuckDB's native sequential left-to-right sum —
  -- the same addition order as Spark's F.aggregate fold (verified by a
  -- catastrophic-cancellation probe and by keep-list hash equality on
  -- every fixture); the interpreted list-lambda twin formulation was
  -- ~100x slower and made 50k-scale certification impractical
  SELECT p.src, p.dst FROM pairs p
  JOIN vn x ON x.id = p.src JOIN vn y ON y.id = p.dst
  WHERE {round_hu("CASE WHEN x.nrm * y.nrm = 0 THEN 0.0 ELSE list_dot_product(x.v, y.v) / (x.nrm * y.nrm) END", ANN_ROUND)} >= {threshold}),
sym AS MATERIALIZED (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
reach(id, root) AS (
  SELECT id, id FROM e
  UNION
  SELECT s.src, r.root FROM sym s JOIN reach r ON s.dst = r.id
),
labels AS (SELECT id, min(root) AS root FROM reach GROUP BY id)
SELECT id AS vec_id FROM (
  SELECT l.id,
    row_number() OVER (PARTITION BY l.root ORDER BY a.ccos ASC, l.id ASC) AS rn
  FROM labels l JOIN assign a USING (id)) WHERE rn = 1
UNION ALL
SELECT vec_id FROM aug
WHERE vec_id NOT IN (SELECT id FROM assign)"""


def _jaccard_ctes(n: int = 3, max_df: int = 10) -> str:
    """Shingle -> inverted-index -> exact-Jaccard CTE chain, ending in
    jac(src, dst, jaccard). Shingle construction is byte-identical to the
    minhash chain's (same gram join, same whole-text fallback)."""
    gram = " || ' ' || ".join(f"t[(i+{j})::INT]" for j in range(n))
    return f"""
base AS (SELECT doc_id, {norm('text')} AS nrm FROM documents),
tk AS (SELECT doc_id, nrm, {tokens('nrm')} AS t FROM base),
shg AS (
  SELECT doc_id,
    CASE WHEN len(t) < {n}
         THEN (CASE WHEN trim(nrm) = '' THEN []::VARCHAR[] ELSE [nrm] END)
         ELSE list_distinct(list_transform(range(1, len(t) - {n - 2}), i -> {gram}))
    END AS sh
  FROM tk),
flat AS MATERIALIZED (SELECT doc_id AS id, s.s AS g FROM shg, unnest(sh) AS s(s)),
sizes AS (SELECT id, count(*) AS sz FROM flat GROUP BY id),
rare AS (
  SELECT id, g FROM flat
  WHERE g IN (SELECT g FROM flat GROUP BY g HAVING count(*) <= {max_df})),
cand AS (
  SELECT DISTINCT a.id AS src, b.id AS dst
  FROM rare a JOIN rare b ON a.g = b.g AND a.id < b.id),
inter AS (
  SELECT c.src, c.dst, count(*) AS i
  FROM cand c
  JOIN flat fa ON fa.id = c.src
  JOIN flat fb ON fb.id = c.dst AND fb.g = fa.g
  GROUP BY 1, 2),
jac AS (
  SELECT i.src, i.dst,
    {ratio6('i.i', 'sa.sz + sb.sz - i.i')}::DOUBLE AS jaccard
  FROM inter i
  JOIN sizes sa ON sa.id = i.src
  JOIN sizes sb ON sb.id = i.dst)"""


def q_ngram_jaccard_pairs(n: int = 3, threshold: float = 0.6,
                          max_df: int = 10) -> str:
    """Twin of operators/jaccard_dedup.ngram_jaccard_pairs."""
    return (f"WITH {_jaccard_ctes(n, max_df)}\n"
            f"SELECT src, dst, jaccard FROM jac WHERE jaccard >= {threshold}")


def q_source_overlap() -> str:
    """Twin of queries.q_source_overlap (distinct fingerprint x source,
    self-join on the fingerprint; null fingerprints never join)."""
    return f"""
WITH d AS (SELECT DISTINCT md5({norm('text')}) AS f, source FROM documents)
SELECT a.source AS src_a, b.source AS src_b, count(*)::BIGINT AS shared_docs
FROM d a JOIN d b ON a.f = b.f AND a.source < b.source
GROUP BY 1, 2"""


def q_jaccard_sim_histogram(n: int = 3, max_df: int = 10) -> str:
    """Twin of queries.q_jaccard_sim_histogram: candidate-pair exact
    similarities bucketed to 5-percent bins (round-then-int keeps the
    bin cut integer-exact in both engines)."""
    return f"""
WITH {_jaccard_ctes(n, max_df)}
SELECT ((round(jaccard * 100)::INT // 5) * 5) AS sim_pct_bucket,
       count(*)::BIGINT AS n_pairs
FROM jac GROUP BY 1"""


def q_ngram_jaccard_dedup_keep(n: int = 3, threshold: float = 0.6,
                               max_df: int = 10) -> str:
    """Twin of operators/jaccard_dedup.ngram_jaccard_dedup_keep:
    recursive-CTE connected components over the exact-Jaccard edge set,
    min-id keep, singletons (incl. unsignable docs) kept."""
    return f"""
WITH RECURSIVE {_jaccard_ctes(n, max_df)},
edges AS MATERIALIZED (SELECT src, dst FROM jac WHERE jaccard >= {threshold}),
sym AS MATERIALIZED (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
reach(id, root) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT s.src, r.root FROM sym s JOIN reach r ON s.dst = r.id
)
SELECT id AS doc_id FROM reach GROUP BY id HAVING min(root) = id"""


def q_ann_ivf_trained_topk(query_vec_id: int = 0, k_cells: int = 8,
                           iters: int = 3, dim: int = 64, n_probe: int = 3,
                           k: int = ANN_TOPK) -> str:
    """Twin of operators/ann.ann_ivf_trained_topk: IVF probe/rerank over
    the k-means-trained cells (same CTE chain as q_kmeans_cells)."""
    last = f"c{iters}"
    ccos = round_hu(_cos_expr('e.v', 'v.cv'), ANN_ROUND)
    qcos = round_hu(_cos_expr('q.qe', 'v.cv'), ANN_ROUND)
    rcos = round_hu(_cos_expr('c.v', 'q.qe'), ANN_ROUND)
    body = ",\n".join(_kmeans_ctes(k_cells, iters, dim))
    return f"""
WITH {body},
q AS (SELECT list_transform(embedding, x -> x::DOUBLE) AS qe
      FROM embeddings WHERE vec_id = {query_vec_id}),
probe AS (
  SELECT v.cid FROM {last} v, q
  ORDER BY {qcos} DESC, v.cid LIMIT {n_probe}),
assign AS (
  SELECT id, cid FROM (
    SELECT e.id, v.cid,
      row_number() OVER (PARTITION BY e.id ORDER BY {ccos} DESC, v.cid) AS rn
    FROM e CROSS JOIN {last} v) WHERE rn = 1),
cand AS (
  SELECT e.id, e.v FROM e
  JOIN assign a USING (id)
  JOIN probe p ON a.cid = p.cid)
SELECT c.id AS vec_id, {rcos}::DOUBLE AS cos
FROM cand c, q ORDER BY cos DESC, c.id LIMIT {k}"""


def _pq_ctes(m: int = 4, k_codes: int = 16, iters: int = 2,
             dim: int = 64, table: str = "embeddings",
             id_col: str = "vec_id", vec_col: str = "embedding") -> list[str]:
    """CTE chain for deterministic per-subspace PQ training — twin of
    operators/pq.pq_codebooks. Ends in pc{iters}(sub, cid, cv) and
    pm{iters}(sub, cid, pos, c). All distances are integer micro-unit
    sums (round(x*1e6) BEFORE arithmetic), so assignment is exact.
    ``table``/``id_col``/``vec_col`` let the chain train over any
    relation (e.g. the residual frame in the IVF-PQ-residual twin)."""
    d = dim // m
    l2 = (f"list_aggregate(list_transform(range(1, {d + 1}), i -> "
          f"(round(e.sv[i::INT]*1e6)::BIGINT - round(c.cv[i::INT]*1e6)::BIGINT) * "
          f"(round(e.sv[i::INT]*1e6)::BIGINT - round(c.cv[i::INT]*1e6)::BIGINT)), "
          f"'sum')")
    ctes = [
        f"""sv AS MATERIALIZED (
  SELECT {id_col} AS id, s.s AS sub,
    list_transform({vec_col}[(s.s*{d}+1)::INT:((s.s+1)*{d})::INT],
                   x -> x::DOUBLE) AS sv
  FROM {table}, (SELECT unnest(range(0, {m})) AS s) s)""",
        f"""pc0 AS MATERIALIZED (
  SELECT sub, id AS cid, sv AS cv FROM sv
  WHERE id IN (SELECT {id_col} FROM {table} ORDER BY {id_col} LIMIT {k_codes}))""",
    ]
    for t in range(1, iters + 1):
        ctes.append(f"""pa{t} AS MATERIALIZED (
  SELECT id, sub, cid FROM (
    SELECT e.id, e.sub, c.cid,
      row_number() OVER (PARTITION BY e.id, e.sub
        ORDER BY {l2} ASC, c.cid) AS rn
    FROM sv e JOIN pc{t - 1} c USING (sub)) WHERE rn = 1)""")
        ctes.append(f"""pm{t} AS MATERIALIZED (
  SELECT a.sub, a.cid, (i.i - 1) AS pos,
    ({_exact_mean4('e.sv[i.i::INT]')} + 0.0) AS c
  FROM sv e JOIN pa{t} a USING (id, sub),
       (SELECT unnest(range(1, {d + 1})) AS i) i
  GROUP BY 1, 2, 3)""")
        ctes.append(
            f"pc{t} AS MATERIALIZED (SELECT sub, cid, list(c ORDER BY pos) AS cv "
            f"FROM pm{t} GROUP BY 1, 2)"
        )
    return ctes


def q_pq_codebooks(m: int = 4, k_codes: int = 16, iters: int = 2,
                   dim: int = 64) -> str:
    """Twin of operators/pq.pq_codebooks (exploded to one row per
    centroid component)."""
    body = ",\n".join(_pq_ctes(m, k_codes, iters, dim))
    return (f"WITH {body}\n"
            f"SELECT sub::BIGINT AS sub, cid::BIGINT AS cid, "
            f"pos::BIGINT AS pos, c::DOUBLE AS centroid FROM pm{iters}")


def q_ann_pq_topk(query_vec_id: int = 0, m: int = 4, k_codes: int = 16,
                  iters: int = 2, dim: int = 64, k: int = ANN_TOPK) -> str:
    """Twin of operators/pq.ann_pq_topk: encode against the FINAL
    codebooks, ADC score = integer micro-unit^2 dot sums divided once."""
    d = dim // m
    l2 = (f"list_aggregate(list_transform(range(1, {d + 1}), i -> "
          f"(round(e.sv[i::INT]*1e6)::BIGINT - round(c.cv[i::INT]*1e6)::BIGINT) * "
          f"(round(e.sv[i::INT]*1e6)::BIGINT - round(c.cv[i::INT]*1e6)::BIGINT)), "
          f"'sum')")
    body = ",\n".join(_pq_ctes(m, k_codes, iters, dim))
    return f"""
WITH {body},
q AS (SELECT list_transform(embedding, x -> x::DOUBLE) AS qe
      FROM embeddings WHERE vec_id = {query_vec_id}),
enc AS (
  SELECT id, sub, cid FROM (
    SELECT e.id, e.sub, c.cid,
      row_number() OVER (PARTITION BY e.id, e.sub
        ORDER BY {l2} ASC, c.cid) AS rn
    FROM sv e JOIN pc{iters} c USING (sub)) WHERE rn = 1),
lut AS (
  SELECT c.sub, c.cid,
    list_aggregate(list_transform(range(1, {d + 1}), i ->
      round(q.qe[(c.sub*{d} + i)::INT]*1e6)::BIGINT *
      round(c.cv[i::INT]*1e6)::BIGINT), 'sum') AS qd
  FROM pc{iters} c, q)
SELECT e.id AS vec_id, (sum(l.qd) / 1000000000000.0)::DOUBLE AS score
FROM enc e JOIN lut l USING (sub, cid)
GROUP BY e.id ORDER BY score DESC, vec_id LIMIT {k}"""


def q_ann_ivf_pq_topk(query_vec_id: int = 0, k_cells: int = 8,
                      cell_iters: int = 3, m: int = 4, k_codes: int = 16,
                      pq_iters: int = 2, n_probe: int = 3, dim: int = 64,
                      k: int = ANN_TOPK) -> str:
    """Twin of operators/pq.ann_ivf_pq_topk: IVF probe over the trained
    coarse cells (same CTE chain as q_ann_ivf_trained_topk), ADC over PQ
    codes for the probed cells' vectors only."""
    d = dim // m
    last = f"c{cell_iters}"
    ccos = round_hu(_cos_expr('e.v', 'v.cv'), ANN_ROUND)
    qcos = round_hu(_cos_expr('q.qe', 'v.cv'), ANN_ROUND)
    l2 = (f"list_aggregate(list_transform(range(1, {d + 1}), i -> "
          f"(round(e.sv[i::INT]*1e6)::BIGINT - round(c.cv[i::INT]*1e6)::BIGINT) * "
          f"(round(e.sv[i::INT]*1e6)::BIGINT - round(c.cv[i::INT]*1e6)::BIGINT)), "
          f"'sum')")
    body = ",\n".join(
        _kmeans_ctes(k_cells, cell_iters, dim)
        + _pq_ctes(m, k_codes, pq_iters, dim)
    )
    return f"""
WITH {body},
q AS (SELECT list_transform(embedding, x -> x::DOUBLE) AS qe
      FROM embeddings WHERE vec_id = {query_vec_id}),
probe AS (
  SELECT v.cid FROM {last} v, q
  ORDER BY {qcos} DESC, v.cid LIMIT {n_probe}),
assign AS (
  SELECT id, cid FROM (
    SELECT e.id, v.cid,
      row_number() OVER (PARTITION BY e.id ORDER BY {ccos} DESC, v.cid) AS rn
    FROM e CROSS JOIN {last} v) WHERE rn = 1),
cand AS (SELECT a.id FROM assign a JOIN probe p USING (cid)),
enc AS (
  SELECT id, sub, cid FROM (
    SELECT e.id, e.sub, c.cid,
      row_number() OVER (PARTITION BY e.id, e.sub
        ORDER BY {l2} ASC, c.cid) AS rn
    FROM sv e JOIN pc{pq_iters} c USING (sub)) WHERE rn = 1),
lut AS (
  SELECT c.sub, c.cid,
    list_aggregate(list_transform(range(1, {d + 1}), i ->
      round(q.qe[(c.sub*{d} + i)::INT]*1e6)::BIGINT *
      round(c.cv[i::INT]*1e6)::BIGINT), 'sum') AS qd
  FROM pc{pq_iters} c, q)
SELECT e.id AS vec_id, (sum(l.qd) / 1000000000000.0)::DOUBLE AS score
FROM enc e JOIN cand USING (id) JOIN lut l USING (sub, cid)
GROUP BY e.id ORDER BY score DESC, vec_id LIMIT {k}"""


def q_ann_ivf_pq_residual_topk(query_vec_id: int = 0, k_cells: int = 8,
                               cell_iters: int = 3, m: int = 4,
                               k_codes: int = 16, pq_iters: int = 2,
                               n_probe: int = 3, dim: int = 64,
                               k: int = ANN_TOPK) -> str:
    """Twin of operators/pq.ann_ivf_pq_residual_topk: coarse cells from
    the kmeans chain, PQ trained on micro-unit residuals, ADC = per-cell
    query dot constant + residual lookup sums."""
    d = dim // m
    last = f"c{cell_iters}"
    ccos = round_hu(_cos_expr('e.v', 'v.cv'), ANN_ROUND)
    qcos = round_hu(_cos_expr('q.qe', 'v.cv'), ANN_ROUND)
    l2 = (f"list_aggregate(list_transform(range(1, {d + 1}), i -> "
          f"(round(e.sv[i::INT]*1e6)::BIGINT - round(c.cv[i::INT]*1e6)::BIGINT) * "
          f"(round(e.sv[i::INT]*1e6)::BIGINT - round(c.cv[i::INT]*1e6)::BIGINT)), "
          f"'sum')")
    qdotc = (f"list_aggregate(list_transform(range(1, {dim + 1}), i -> "
             f"round(q.qe[i::INT]*1e6)::BIGINT * round(v.cv[i::INT]*1e6)::BIGINT), "
             f"'sum')")
    body = ",\n".join(
        _kmeans_ctes(k_cells, cell_iters, dim)
        + [
            f"""rassign AS MATERIALIZED (
  SELECT id, cid FROM (
    SELECT e.id, v.cid,
      row_number() OVER (PARTITION BY e.id ORDER BY {ccos} DESC, v.cid) AS rn
    FROM e CROSS JOIN {last} v) WHERE rn = 1)""",
            f"""resid AS MATERIALIZED (
  SELECT e.id AS vec_id, a.cid AS cell,
    list_transform(range(1, {dim + 1}), i ->
      (round(e.v[i::INT]*1e6)::BIGINT - round(v.cv[i::INT]*1e6)::BIGINT)::DOUBLE
        / 1e6) AS r
  FROM e JOIN rassign a USING (id) JOIN {last} v ON v.cid = a.cid)""",
        ]
        + _pq_ctes(m, k_codes, pq_iters, dim,
                   table="resid", id_col="vec_id", vec_col="r")
    )
    return f"""
WITH {body},
q AS (SELECT list_transform(embedding, x -> x::DOUBLE) AS qe
      FROM embeddings WHERE vec_id = {query_vec_id}),
probe AS (
  SELECT v.cid FROM {last} v, q
  ORDER BY {qcos} DESC, v.cid LIMIT {n_probe}),
celld AS (SELECT v.cid, {qdotc} AS cd FROM {last} v, q),
enc AS (
  SELECT id, sub, cid FROM (
    SELECT e.id, e.sub, c.cid,
      row_number() OVER (PARTITION BY e.id, e.sub
        ORDER BY {l2} ASC, c.cid) AS rn
    FROM sv e JOIN pc{pq_iters} c USING (sub)) WHERE rn = 1),
lut AS (
  SELECT c.sub, c.cid,
    list_aggregate(list_transform(range(1, {d + 1}), i ->
      round(q.qe[(c.sub*{d} + i)::INT]*1e6)::BIGINT *
      round(c.cv[i::INT]*1e6)::BIGINT), 'sum') AS qd
  FROM pc{pq_iters} c, q)
SELECT r.vec_id, ((sum(l.qd) + cd.cd) / 1000000000000.0)::DOUBLE AS score
FROM enc e
JOIN resid r ON r.vec_id = e.id
JOIN probe p ON r.cell = p.cid
JOIN celld cd ON cd.cid = r.cell
JOIN lut l ON l.sub = e.sub AND l.cid = e.cid
GROUP BY r.vec_id, cd.cd
ORDER BY score DESC, r.vec_id LIMIT {k}"""


def q_label_centroids(dim: int = 64) -> str:
    return f"""
SELECT label, (i.i - 1)::BIGINT AS pos,
  ({_exact_mean4('embedding[i.i::INT]::DOUBLE')} + 0.0)::DOUBLE AS centroid
FROM embeddings, (SELECT unnest(range(1, {dim + 1})) AS i) i
GROUP BY 1, 2"""


# ---------------------------------------------------------------------------
# Events
# ---------------------------------------------------------------------------


def q_events_hourly() -> str:
    return """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
  event_type, count(*) AS n_events,
  (floor((sum(round(value * 1e6)::BIGINT) * 2 + count(*) * 100)
         / (count(*) * 200))::BIGINT / 10000.0)::DOUBLE AS avg_value
FROM events GROUP BY 1, 2"""


def q_events_sliding(window_s: int = 3600, slide_s: int = 1800) -> str:
    """Twin of operators/sessionize.sliding_counts: each event belongs to
    window/slide overlapping epoch-aligned windows — materialized by
    unnesting the slide offsets (independent formulation of what Spark's
    native F.window computes)."""
    n = window_s // slide_s
    return f"""
WITH ex AS (
  SELECT event_type, value,
    TIMESTAMP '1970-01-01'
      + ((floor(epoch(ts) / {slide_s}) * {slide_s})::BIGINT - k.k * {slide_s})
        * INTERVAL 1 SECOND AS wstart
  FROM events, (SELECT unnest(range(0, {n})) AS k) k)
SELECT strftime(wstart, '%Y-%m-%d %H:%M:%S') AS window_start, event_type,
  count(*)::BIGINT AS n_events,
  (floor((sum(round(value * 1e6)::BIGINT) * 2 + count(*) * 100)
         / (count(*) * 200))::BIGINT / 10000.0)::DOUBLE AS avg_value
FROM ex GROUP BY 1, 2"""


def q_session_window_counts(gap_minutes: int = SESSION_GAP_MINUTES) -> str:
    """Twin of operators/sessionize.session_window_counts: classic
    gaps-and-islands (break when the gap is REACHED — Spark's session
    window is the half-open [start, last+gap)), session identity = min ts."""
    return f"""
WITH x AS (
  SELECT user_id, ts,
    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events),
y AS (
  SELECT user_id, ts,
    CASE WHEN prev IS NULL OR ts >= prev + INTERVAL {gap_minutes} MINUTE
         THEN 1 ELSE 0 END AS brk
  FROM x),
z AS (
  SELECT user_id, ts,
    sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                   ROWS UNBOUNDED PRECEDING) AS sid
  FROM y)
SELECT user_id,
  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
  count(*)::BIGINT AS n_events
FROM z GROUP BY user_id, sid"""


def q_events_sessions() -> str:
    gap = SESSION_GAP_MINUTES * 60
    return f"""
WITH x AS (
  SELECT user_id, event_id, ts,
    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events),
y AS (
  SELECT user_id,
    CASE WHEN prev_ts IS NULL OR epoch(ts) - epoch(prev_ts) > {gap} THEN 1 ELSE 0 END AS nw,
    ts, event_id
  FROM x),
z AS (
  SELECT user_id, sum(nw) OVER (PARTITION BY user_id ORDER BY ts, event_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
  FROM y)
SELECT user_id, max(session_idx)::BIGINT AS n_sessions, count(*) AS n_events
FROM z GROUP BY 1"""


# ---------------------------------------------------------------------------
# Sampling / skew / relational
# ---------------------------------------------------------------------------


def _classifier_ctes(
    n_buckets: int = 64, n_iters: int = 3, lr_x100: int = 50,
    label_expr: str = "CASE WHEN lang = 'en' THEN 1 ELSE 0 END",
) -> str:
    """CTE chain training the hashed logistic-regression quality
    classifier (operators/quality_classifier.py contract): exact
    integer micro-unit weights, 4-decimal rounded sigmoid as the only
    float step, trunc-division update written as (a - a%n)//n so the
    exact division agrees with Spark's truncating div for negative
    gradients. Ends with w{n_iters}(j, w)."""
    p4 = ("floor(1.0/(1.0 + exp(-(m.m::DOUBLE/1e6))) * 1e4 + 0.5)"
          "::BIGINT")
    ctes = [
        f"""f AS MATERIALIZED (
  SELECT id, j, x FROM (
    SELECT doc_id AS id, {md5int('t')} % {n_buckets} AS j, count(*)::BIGINT AS x
    FROM (SELECT doc_id, unnest({tokens('text')}) AS t FROM documents)
    GROUP BY 1, 2
    UNION ALL
    SELECT doc_id, {n_buckets}, 1::BIGINT FROM documents))""",
        f"""lab AS (SELECT doc_id AS id, ({label_expr})::BIGINT AS y
  FROM documents)""",
        "nn AS (SELECT count(*)::BIGINT AS n FROM lab)",
        f"w0 AS (SELECT j::INT AS j, 0::BIGINT AS w FROM range(0, {n_buckets + 1}) t(j))",
    ]
    for t in range(1, n_iters + 1):
        ctes.append(f"""m{t} AS MATERIALIZED (
  SELECT f.id, sum(w.w * f.x)::BIGINT AS m
  FROM f JOIN w{t - 1} w USING (j) GROUP BY 1)""")
        ctes.append(f"""r{t} AS (
  SELECT m.id, ({p4} - lab.y * 10000) AS r
  FROM m{t} m JOIN lab USING (id))""")
        ctes.append(f"""g{t} AS (
  SELECT f.j, sum(r.r * f.x)::BIGINT AS g
  FROM f JOIN r{t} r USING (id) GROUP BY 1)""")
        ctes.append(f"""w{t} AS (
  SELECT w.j,
    w.w - ((({lr_x100} * coalesce(g.g, 0)) - (({lr_x100} * coalesce(g.g, 0)) % nn.n)) // nn.n) AS w
  FROM w{t - 1} w LEFT JOIN g{t} g USING (j), nn)""")
    return ",\n".join(ctes)


def q_quality_classifier_weights(n_iters: int = 3) -> str:
    """Twin of queries.q_quality_classifier_weights."""
    return f"""
WITH {_classifier_ctes(n_iters=n_iters)}
SELECT j, w AS w_micro FROM w{n_iters}"""


def q_quality_classifier_scores(n_iters: int = 3) -> str:
    """Twin of queries.q_quality_classifier_scores: score every doc with
    the trained weights (4-decimal sigmoid, rounded-float contract)."""
    return f"""
WITH {_classifier_ctes(n_iters=n_iters)},
fm AS (
  SELECT f.id, sum(w.w * f.x)::BIGINT AS margin_micro
  FROM f JOIN w{n_iters} w USING (j) GROUP BY 1)
SELECT id AS doc_id, margin_micro,
  {round_hu('1.0/(1.0 + exp(-(margin_micro::DOUBLE/1e6)))', 4)} AS score4,
  ({round_hu('1.0/(1.0 + exp(-(margin_micro::DOUBLE/1e6)))', 4)} >= 0.5) AS pred
FROM fm"""


def q_token_budget_mix(
    budgets=(("src0", 300), ("src1", 700), ("src2", 3500), ("src3", 1400)),
    salt: str = "mix",
    denom: int = 1_000_000,
) -> str:
    """Twin of operators/sampling.token_budget_mix: per-source micro-unit
    rate floor(budget*denom/T_s); r<1 hash-downsample, r>=1 epoch
    oversample (floor(r) copies + fractional extra by hash), unlisted
    sources pass through at epoch 0."""
    vals = ", ".join(f"('{s}', {b})" for s, b in budgets)
    h = md5int(f"'{salt}:' || base.id::VARCHAR")
    return f"""
WITH b(source, budget) AS (VALUES {vals}),
base AS (SELECT doc_id AS id, source, len({tokens('text')}) AS n_tokens
         FROM documents),
tot AS (SELECT source, sum(n_tokens)::BIGINT AS t FROM base GROUP BY 1),
rate AS (
  SELECT tot.source,
    CASE WHEN b.budget IS NULL THEN NULL
         ELSE (b.budget::BIGINT * {denom}) // greatest(t, 1) END AS r
  FROM tot LEFT JOIN b USING (source)),
c AS (
  SELECT base.id, base.source, base.n_tokens,
    CASE WHEN r IS NULL THEN 1
         ELSE r // {denom} +
              CASE WHEN {h} % {denom} < r % {denom} THEN 1 ELSE 0 END
    END AS n_copies
  FROM base JOIN rate USING (source))
SELECT id AS doc_id, source, n_tokens, e.e::BIGINT AS epoch
FROM c, LATERAL (SELECT unnest(range(0, n_copies)) AS e) e
WHERE n_copies > 0"""


def q_temperature_mix(alpha: float = 0.7, total_budget: int = 30_000,
                      salt: str = "tmix", denom: int = 1_000_000) -> str:
    """Twin of operators/sampling.temperature_token_mix: micro-unit
    weights round(exp(alpha*ln(T_s))*1e6) summed as exact bigints, the
    SAME fixed-order double rate expression, same hash/epoch tail."""
    h = md5int(f"'{salt}:' || base.id::VARCHAR")
    return f"""
WITH base AS (SELECT doc_id AS id, source, len({tokens('text')}) AS n_tokens
              FROM documents),
tot AS (SELECT source, sum(n_tokens)::BIGINT AS t FROM base GROUP BY 1),
w AS (SELECT source, t,
        round(exp({alpha} * ln(t::DOUBLE)) * 1e6)::BIGINT AS wm FROM tot),
sw AS (SELECT sum(wm)::BIGINT AS swm FROM w),
rate AS (
  SELECT source,
    floor({total_budget}::DOUBLE * wm::DOUBLE * {denom}::DOUBLE
          / (swm::DOUBLE * t::DOUBLE))::BIGINT AS r
  FROM w, sw),
c AS (
  SELECT base.id, base.source, base.n_tokens,
    r // {denom} +
      CASE WHEN {h} % {denom} < r % {denom} THEN 1 ELSE 0 END AS n_copies
  FROM base JOIN rate USING (source))
SELECT id AS doc_id, source, n_tokens, e.e::BIGINT AS epoch
FROM c, LATERAL (SELECT unnest(range(0, n_copies)) AS e) e
WHERE n_copies > 0"""


_URL_TRACKING_KEYS = (
    "fbclid", "gclid", "msclkid", "dclid", "igshid",
    "mc_cid", "mc_eid", "ref", "ref_src", "spm",
)

_SYNTH_URL_SQL = """
SELECT doc_id,
  CASE doc_id % 6
    WHEN 0 THEN 'http://' || h || p
    WHEN 1 THEN 'HTTP://WWW.' || upper(h) || ':80' || p || '/'
    WHEN 2 THEN 'http://' || h || p || '?utm_source=feed&b=2&a=1'
    WHEN 3 THEN 'http://crawler:pw@' || h || p || '?a=1&b=2#frag'
    WHEN 4 THEN 'https://' || h || ':443' || p || '?fbclid=x1y&a=1&b=2'
    ELSE 'http://' || h || p || '?b=2&a=1&utm_campaign=z#top'
  END AS url
FROM (SELECT doc_id, 'news-' || ((doc_id // 7) % 5)::VARCHAR || '.example.com' AS h,
             '/Articles/' || (doc_id // 7)::VARCHAR AS p
      FROM documents)"""


def _url_canon_ctes(src: str = "u") -> str:
    """CTE chain computing curl from ``{src}(doc_id, url)`` per the
    functions/url.py contract (same regexes, same tracking set, same
    lexicographic param sort)."""
    tk = ", ".join(f"'{k}'" for k in _URL_TRACKING_KEYS)
    return f"""
s1 AS (SELECT doc_id, url, regexp_replace(trim(url), '#.*$', '') AS u0 FROM {src}),
s2 AS (
  SELECT doc_id, url, u0,
    lower(regexp_extract(u0, '^([A-Za-z][A-Za-z0-9+.\\-]*)://', 1)) AS scheme,
    regexp_replace(u0, '^[A-Za-z][A-Za-z0-9+.\\-]*://', '') AS rest
  FROM s1),
s3 AS (
  SELECT doc_id, url, u0, scheme, rest,
    lower(regexp_replace(regexp_extract(rest, '^([^/?]*)', 1), '^[^@]*@', '')) AS h0,
    regexp_replace(rest, '^[^/?]*', '') AS pathq
  FROM s2),
s4 AS (
  SELECT doc_id, url, u0, scheme, pathq,
    regexp_replace(
      CASE scheme WHEN 'http' THEN regexp_replace(h0, ':80$', '')
                  WHEN 'https' THEN regexp_replace(h0, ':443$', '')
                  ELSE h0 END,
      '^www\\.', '') AS host,
    regexp_replace(regexp_extract(pathq, '^([^?]*)', 1), '/+$', '') AS p0,
    CASE WHEN position('?' IN pathq) > 0
         THEN regexp_replace(pathq, '^[^?]*\\?', '') ELSE '' END AS q0
  FROM s3),
s5 AS (
  SELECT doc_id, url, u0, scheme, host,
    CASE WHEN p0 = '' THEN '/' ELSE p0 END AS path,
    -- array_to_string of an EMPTY list is NULL in DuckDB (array_join in
    -- Spark yields '') — coalesce to keep the twins identical
    coalesce(array_to_string(list_sort(list_filter(string_split(q0, '&'),
      x -> x <> ''
       AND NOT starts_with(regexp_extract(x, '^([^=]*)', 1), 'utm_')
       AND NOT list_contains([{tk}], regexp_extract(x, '^([^=]*)', 1))
    )), '&'), '') AS qc
  FROM s4),
canon AS (
  SELECT doc_id, url,
    CASE WHEN scheme = '' THEN u0
         ELSE scheme || '://' || host || path ||
              CASE WHEN qc = '' THEN '' ELSE '?' || qc END
    END AS curl
  FROM s5)"""


def q_url_canonicalize() -> str:
    """Twin of queries.q_url_canonicalize: six-variant messy recrawl URL
    synthesis + the functions/url.py canonical rule."""
    return f"""
WITH u AS ({_SYNTH_URL_SQL}),
{_url_canon_ctes()}
SELECT doc_id, url, curl FROM canon"""


def q_fineweb_filter() -> str:
    """Twin of queries.q_fineweb_filter: FineWeb punct/short/dup-mass
    fractions + composite keep over the same synthesized 6-line pages
    (terminal '.' on line i iff i < doc_id % 6; lines split INCLUDING
    empties; dup mass = ALL occurrences of repeated lines)."""
    mk = []
    for i, base in enumerate([
        "'shared banner one for ' || lang",
        "'shared banner two for ' || lang",
        "'shared banner three for ' || lang",
        "coalesce(array_to_string(t[1:10], ' '), '')",
        "coalesce(array_to_string(t[11:20], ' '), '')",
        "coalesce(array_to_string(t[21:30], ' '), '')",
    ]):
        mk.append(f"CASE WHEN doc_id % 6 > {i} THEN {base} || '.' ELSE {base} END")
    joined = " || chr(10) || ".join(mk)
    return f"""
WITH tk AS (SELECT doc_id, lang, {tokens('text')} AS t FROM documents),
shaped AS (SELECT doc_id, {joined} AS text FROM tk),
lsx AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM shaped),
l AS (
  SELECT doc_id, ls[i.i::INT] AS line
  FROM lsx, LATERAL (SELECT unnest(range(1, len(ls) + 1)) AS i) i),
g AS (
  SELECT doc_id, line, count(*) AS c, len(line) AS ln,
    max(CASE WHEN regexp_matches(line, '[.!?"]\\s*$') THEN 1 ELSE 0 END) AS p
  FROM l GROUP BY 1, 2),
a AS (
  SELECT doc_id,
    sum(c) AS n, sum(c * p) AS np,
    sum(c * CASE WHEN ln < 30 THEN 1 ELSE 0 END) AS ns,
    sum(ln * c) AS tchar,
    sum(CASE WHEN c > 1 THEN ln * c ELSE 0 END) AS dchar
  FROM g GROUP BY 1),
s AS (
  SELECT doc_id,
    {ratio6('np', 'n')} AS punct_line_frac,
    {ratio6('ns', 'n')} AS short_line_frac,
    {ratio6('dchar', 'tchar')} AS dup_line_char_frac
  FROM a)
SELECT d.doc_id,
  coalesce(s.punct_line_frac, 0.0) AS punct_line_frac,
  coalesce(s.short_line_frac, 0.0) AS short_line_frac,
  coalesce(s.dup_line_char_frac, 0.0) AS dup_line_char_frac,
  (coalesce(s.punct_line_frac, 0.0) >= 0.12
   AND coalesce(s.dup_line_char_frac, 0.0) <= 0.10
   AND coalesce(s.short_line_frac, 0.0) < 0.67) AS keep
FROM documents d LEFT JOIN s USING (doc_id)"""


def q_url_blocklist(
    patterns=(r"news-3\.example\.com", r"/Articles/1[0-9]($|[?/])"),
) -> str:
    """Twin of queries.q_url_blocklist: single-alternation regex drop."""
    alternation = "|".join(f"(?:{p})" for p in patterns)
    return f"""
WITH u AS ({_SYNTH_URL_SQL})
SELECT doc_id, url FROM u
WHERE NOT regexp_matches(url, '{alternation}')"""


def q_url_dedup_keep() -> str:
    """Twin of queries.q_url_dedup_keep: min doc_id per canonical URL."""
    return f"""
WITH u AS ({_SYNTH_URL_SQL}),
{_url_canon_ctes()}
SELECT min(doc_id) AS doc_id FROM canon GROUP BY curl"""


def q_domain_cap(cap: int = 15, blocked=("src3", "src7")) -> str:
    """Twin of queries.q_domain_cap: blocklist anti-filter, then keep the
    ``cap`` smallest doc_ids per source."""
    bl = ", ".join(f"'{b}'" for b in blocked)
    return f"""
SELECT doc_id, source FROM (
  SELECT doc_id, source,
    row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rk
  FROM documents WHERE source NOT IN ({bl}))
WHERE rk <= {cap}"""


def q_hash_sample(one_in: int = 10, salt: str = "s") -> str:
    h = md5int(f"'{salt}:' || doc_id::VARCHAR")
    return f"SELECT doc_id FROM documents WHERE {h} % {one_in} = 0"


def q_lang_downsample(salt: str = "ds", denom: int = 1_000_000) -> str:
    from .config import DOWNSAMPLE_DEFAULT_RATIO, LANG_DOWNSAMPLE_RATIOS

    cases = " ".join(
        f"WHEN '{lang}' THEN {int(round(r * denom))}"
        for lang, r in sorted(LANG_DOWNSAMPLE_RATIOS.items())
    )
    default = int(round(DOWNSAMPLE_DEFAULT_RATIO * denom))
    h = md5int(f"'{salt}:' || doc_id::VARCHAR")
    return f"""
SELECT doc_id, lang FROM documents
WHERE {h} % {denom} < CASE lang {cases} ELSE {default} END"""


def q_salted_count() -> str:
    return "SELECT source, count(*) AS n FROM documents GROUP BY source"


def q_top_sources(k: int = 10) -> str:
    return f"""
SELECT source, count(*) AS n FROM documents
GROUP BY source ORDER BY n DESC, source LIMIT {k}"""


def q_pricing_summary() -> str:
    return """
SELECT l_returnflag, l_linestatus,
  cast(round(sum(cast(l_quantity AS DECIMAL(28,6))), 2) AS DOUBLE) AS sum_qty,
  cast(round(sum(cast(l_extendedprice AS DECIMAL(28,6))), 2) AS DOUBLE) AS sum_base,
  cast(round(sum(cast(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))), 2) AS DOUBLE) AS sum_disc,
  count(*) AS n_rows
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
GROUP BY l_returnflag, l_linestatus"""


def q_segment_revenue() -> str:
    return """
SELECT c_mktsegment,
  cast(round(sum(cast(o_totalprice AS DECIMAL(28,6))), 2) AS DOUBLE) AS revenue,
  count(*) AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment"""


def q_fix_id() -> str:
    """The reference's malformed-id rewrite (src/filter_exact_duplicates.py:69-79)
    as one regexp: '...json/N' -> '...json.gz/N'. Synthetic ids derived from
    doc_id so both engines build identical inputs."""
    return r"""
WITH ids AS (
  SELECT doc_id,
    'crawl-2014/' || (doc_id % 10) || '/en_head.json' ||
    (CASE WHEN doc_id % 3 = 0 THEN '' ELSE '.gz' END) || '/' || doc_id AS id
  FROM documents)
SELECT doc_id, regexp_replace(id, '\.json/', '.json.gz/', 'g') AS fixed_id FROM ids"""


def q_row_number_ids() -> str:
    """Reference-style id synthesis (src/add_document_ids.py:64):
    per-source row index via a window."""
    return """
SELECT doc_id,
  source || '/' || (row_number() OVER (PARTITION BY source ORDER BY doc_id) - 1)
    AS synth_id
FROM documents"""


def q_set_ops() -> str:
    return """
SELECT doc_id FROM (
  SELECT doc_id FROM (
    SELECT doc_id FROM documents WHERE lang = 'en'
    UNION
    SELECT doc_id FROM documents WHERE doc_id % 5 = 0)
  EXCEPT
  SELECT doc_id FROM documents WHERE doc_id % 7 = 0)
INTERSECT
SELECT doc_id FROM documents WHERE doc_id % 2 = 0"""


def q_rollup_counts() -> str:
    return """
SELECT coalesce(lang, 'ALL') AS lang, coalesce(source, 'ALL') AS source,
  count(*) AS n, sum(n_chars)::BIGINT AS chars
FROM documents GROUP BY ROLLUP (lang, source)"""


def q_region_customers() -> str:
    return """
SELECT r_name, count(*) AS n_customers
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name"""
