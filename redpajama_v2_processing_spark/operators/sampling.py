"""Sampling and mixing utilities.

The reference downsamples with python `random.sample` over row-group
slices (src/downsample_parquet.py:15-47). Spark-side, every operator here
is deterministic (key hashes and id order instead of RNG state):

* ``hash_sample`` — engine-portable sampling by hash-mod on a key (used by
  oracle-checked queries and for reproducible threshold sampling);
* ``lang_ratio_downsample`` — the reference's per-language ratios;
* ``domain_cap`` / ``domain_blocklist_filter`` — per-host controls;
* ``token_budget_mix`` / ``temperature_token_mix`` — per-source token
  budgets (downsample or epoch-oversample).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import md5int


def hash_sample(df: DataFrame, key_col: str, one_in: int, salt: str = "s") -> DataFrame:
    """Keep rows where md5int(salt || key) % one_in == 0 (deterministic)."""
    h = md5int(F.concat(F.lit(salt), F.lit(":"), F.col(key_col).cast("string")))
    return df.where(F.pmod(h, F.lit(one_in)) == 0)


def lang_ratio_downsample(
    df: DataFrame,
    ratios: dict[str, float] | None = None,
    key_col: str = "doc_id",
    lang_col: str = "lang",
    salt: str = "ds",
    default_ratio: float | None = None,
    denom: int = 1_000_000,
) -> DataFrame:
    """Per-language ratio downsample (the reference's per-lang seeded
    random.sample, src/downsample_parquet.py:16-20,40) — deterministic by
    key hash instead of RNG state: keep iff hash(key) mod denom falls below
    ratio*denom for the row's language. Engine-portable, shard-count
    independent, and resumable (re-runs keep the identical rows).
    """
    from ..config import DOWNSAMPLE_DEFAULT_RATIO, LANG_DOWNSAMPLE_RATIOS

    if ratios is None:
        ratios = LANG_DOWNSAMPLE_RATIOS
    if default_ratio is None:
        default_ratio = DOWNSAMPLE_DEFAULT_RATIO
    h = F.pmod(
        md5int(F.concat(F.lit(salt), F.lit(":"), F.col(key_col).cast("string"))),
        F.lit(denom),
    )
    thr = F.lit(int(round(default_ratio * denom)))
    for lang, r in sorted(ratios.items()):
        thr = F.when(F.col(lang_col) == lang, F.lit(int(round(r * denom)))).otherwise(thr)
    return df.where(h < thr)


def domain_cap(
    df: DataFrame,
    id_col: str,
    domain_col: str = "source",
    cap: int = 40,
    n_salts: int = 32,
) -> DataFrame:
    """Keep at most ``cap`` documents per domain (smallest ids win) —
    the crawl-bias control that stops one hot host from dominating a
    training mix.

    Skew-safe plan (no full-row window over the domain key, which would
    push every row of the hottest host through one reducer):

    1. pre-aggregate per-domain counts; the over-cap domain list is tiny
       (bounded by distinct hosts / cap) and BROADCASTS;
    2. rows of under-cap domains pass through untouched (broadcast
       anti-join — the bulk of a web corpus, zero shuffle);
    3. over-cap rows rank inside (domain, hash-salt) groups — ``n_salts``
       parallel reducers per hot domain, each emitting at most ``cap``
       survivors (the global top-cap is a subset of the union of per-salt
       top-caps, so this prune is exact);
    4. the final window ranks <= n_salts * cap rows per domain — constant
       work regardless of how hot the domain is.

    Result is identical to the naive single-window formulation (rank by
    id is deterministic); only the physical plan differs.
    """
    from pyspark.sql import Window

    counts = df.groupBy(domain_col).agg(F.count("*").alias("_n"))
    over = counts.where(F.col("_n") > cap).select(domain_col)

    under_rows = df.join(F.broadcast(over), domain_col, "left_anti")
    hot_rows = df.join(F.broadcast(over), domain_col, "left_semi")

    salt = F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_salts))
    w_salt = Window.partitionBy(domain_col, "_salt").orderBy(F.col(id_col).asc())
    pruned = (
        hot_rows.withColumn("_salt", salt)
        .withColumn("_srk", F.row_number().over(w_salt))
        .where(F.col("_srk") <= cap)
        .drop("_srk", "_salt")
    )
    w_final = Window.partitionBy(domain_col).orderBy(F.col(id_col).asc())
    capped = (
        pruned.withColumn("_rk", F.row_number().over(w_final))
        .where(F.col("_rk") <= cap)
        .drop("_rk")
    )
    return under_rows.unionByName(capped)


def domain_blocklist_filter(
    df: DataFrame,
    blocklist: DataFrame,
    domain_col: str = "source",
    block_domain_col: str = "domain",
) -> DataFrame:
    """Drop documents whose domain appears in a blocklist table (the
    UT1-adult-list-style control). Left-anti join; the blocklist is tiny
    so AQE broadcasts it — the corpus never shuffles."""
    b = blocklist.select(F.col(block_domain_col).alias(domain_col)).distinct()
    return df.join(F.broadcast(b), domain_col, "left_anti")


def token_budget_mix(
    df: DataFrame,
    budgets: dict[str, int],
    id_col: str = "doc_id",
    source_col: str = "source",
    text_col: str = "text",
    salt: str = "mix",
    default_keep: bool = True,
    denom: int = 1_000_000,
) -> DataFrame:
    """DF(id, source, n_tokens, epoch): deterministic source-mixture
    sampling to per-source TOKEN budgets — how LLM training mixes are
    assembled (The Pile / ROOTS / Dolma publish per-source token budgets
    and epoch factors; sources are downsampled OR repeated to hit them).

    Semantics per source s with corpus tokens T_s and budget B_s
    (rate r = B_s / T_s, held exactly as integer micro-units
    floor(B_s * denom / T_s) — engine-portable, no float):

    * r < 1  -> hash-downsample: keep iff hash(id) mod denom < r*denom
      (expected tokens = B_s; deterministic, resumable — same rows on
      re-run, same semantics as ``lang_ratio_downsample``);
    * r >= 1 -> EPOCH OVERSAMPLE: every doc emits floor(r) copies
      (epoch = 0..floor(r)-1), plus one extra copy iff
      hash(id) mod denom < frac(r)*denom — expected tokens = B_s.
      Duplicate rows are real training-mix epochs, distinguished by the
      ``epoch`` column so a sink can shuffle/interleave them.

    Sources absent from ``budgets``: kept whole at epoch 0 when
    ``default_keep`` (budget-neutral passthrough), else dropped.

    Scale shape: ONE aggregation over (source) — a broadcast-sized
    table at any corpus size (distinct sources << corpus) — then one
    broadcast join + a narrow filter/generate. No windows, no skew
    exposure: the hot-source rows never concentrate on a reducer
    because nothing groups by source row-wise.
    """
    base = _mix_base(df, id_col, source_col, text_col)
    totals = base.groupBy("source").agg(F.sum("n_tokens").alias("_t"))
    rates = _budget_rates(totals, budgets, denom)
    return _mix_from_rates(base, rates, salt, denom, default_keep)


def _budget_rates(totals, budgets: dict[str, int], denom: int):
    """DF(source, _r) from DF(source, _t): per-source micro-unit rates.

    EXACT integer arithmetic: budget*denom is widened to decimal(38,0)
    before the `div`, so (a) the rate matches DuckDB's integer `//`
    bit-for-bit at any magnitude (bigint `/` would round through a
    double — inexact above 2^53), and (b) budgets beyond ~9.2e12 tokens
    cannot overflow the long product. Rates that would exceed the bigint
    range clamp at 9e18 micro-units, decided by a pre-divide magnitude
    test (Spark's IntegralDivide returns LONG and would silently wrap;
    9e18 micro-units = 9e12 epochs per doc, far beyond any physical
    mixture — the clamp changes nothing real and keeps the column
    total-ordered). NULL budget (unlisted source) -> NULL rate (the
    default-keep passthrough marker)."""
    bcases = F.lit(None).cast("long")
    for s, b in sorted(budgets.items()):
        bcases = F.when(F.col("source") == s, F.lit(int(b))).otherwise(bcases)
    return totals.select("source", "_t", bcases.alias("_b")).select(
        "source",
        # CASE, not least(): Spark's least() SKIPS nulls (the unlisted-
        # source NULL rate would become the clamp), and `div` itself
        # returns LONG (IntegralDivide), so the clamp decision must
        # happen BEFORE the divide — a double magnitude test is safe for
        # the decision (the exact branch then provably fits bigint)
        F.expr(
            f"CASE WHEN _b IS NULL THEN CAST(NULL AS BIGINT)"
            f" WHEN cast(_b as double) * {denom} / greatest(_t, 1L) > 8.9e18"
            f" THEN 9000000000000000000L"
            f" ELSE (cast(_b as decimal(38,0)) * {denom})"
            f" div greatest(_t, 1L) END"
        ).alias("_r"),
    )


def _mix_base(df, id_col, source_col, text_col):
    from ..functions.text import tokens

    return df.select(
        F.col(id_col).alias("id"),
        F.col(source_col).alias("source"),
        F.size(tokens(F.col(text_col))).alias("n_tokens"),
    )


def _mix_from_rates(base, rates, salt, denom, default_keep):
    """Apply a per-source micro-unit rate table: r<denom hash-downsample,
    r>=denom epoch-oversample, NULL rate -> default passthrough/drop.
    Shared tail of token_budget_mix / temperature_token_mix."""
    joined = base.join(F.broadcast(rates), "source")
    h = F.pmod(md5int(F.concat(F.lit(salt), F.lit(":"), F.col("id").cast("string"))), F.lit(denom))
    copies = (
        F.when(F.col("_r").isNull(), F.lit(1) if default_keep else F.lit(0))
        .otherwise(
            # integer div: `/` would be double division (inexact at the
            # margins); `div` keeps the epoch count bigint-exact
            F.expr(f"_r div {denom}")
            + F.when(h < F.pmod(F.col("_r"), F.lit(denom)), 1).otherwise(0)
        )
    )
    return (
        joined.withColumn("_c", copies)
        .where(F.col("_c") > 0)
        .select(
            "id", "source", "n_tokens",
            F.explode(F.sequence(F.lit(0), F.col("_c") - 1)).alias("epoch"),
        )
    )


def temperature_token_mix(
    df: DataFrame,
    alpha: float = 0.7,
    total_budget: int = 100_000,
    id_col: str = "doc_id",
    source_col: str = "source",
    text_col: str = "text",
    salt: str = "tmix",
    denom: int = 1_000_000,
) -> DataFrame:
    """DF(id, source, n_tokens, epoch): temperature-flattened source
    mixture — per-source budgets derived IN-ENGINE as
    ``B_s = total_budget * T_s^alpha / sum_s T_s^alpha`` (the
    mBERT/XLM-R multilingual sampling rule: alpha < 1 upsamples small
    sources relative to their share), then the same deterministic
    hash-downsample / epoch-oversample semantics as ``token_budget_mix``.

    Determinism contract: the only transcendental step
    (``exp(alpha * ln(T_s))``) is rounded to integer micro-units per
    source BEFORE the weight sum, so the normalization is an exact
    bigint sum (order-independent across partitions/engines); the final
    rate is one fixed-order double expression over exact integers —
    identical IEEE arithmetic in Spark and DuckDB (oracle-checked).

    Scale shape: ONE aggregation over (source) — broadcast-sized at any
    corpus size — then a broadcast join + narrow filter/generate; no
    windows, no skew exposure (same contract as token_budget_mix).
    """
    base = _mix_base(df, id_col, source_col, text_col)
    totals = base.groupBy("source").agg(F.sum("n_tokens").alias("_t"))
    wm = F.round(
        F.exp(F.lit(float(alpha)) * F.log(F.col("_t").cast("double"))) * 1e6
    ).cast("bigint")
    tot2 = totals.select("source", "_t", wm.alias("_wm"))
    sw = tot2.agg(F.sum("_wm").alias("_swm"))
    rate = F.floor(
        F.lit(float(total_budget)) * F.col("_wm").cast("double")
        * F.lit(float(denom))
        / (F.col("_swm").cast("double") * F.col("_t").cast("double"))
    ).cast("bigint")
    rates = tot2.crossJoin(F.broadcast(sw)).select("source", rate.alias("_r"))
    return _mix_from_rates(base, rates, salt, denom, default_keep=False)
