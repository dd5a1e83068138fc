"""In-engine trained quality classifier (hashed linear model).

GPT-3/LLaMA-style pipelines filter web text with a LEARNED quality
classifier: a linear model over hashed bag-of-words features trained to
separate a high-quality reference corpus from random crawl pages, then
applied as a per-document score (GPT-3 appendix A; LLaMA trains a
fastText-style classifier on Wikipedia-reference pages; CCNet/fastText
is the same model family). The reference pipeline CONSUMES such scores
as ready-made signals (/root/reference/README.md:78); this module
closes the loop by TRAINING the model inside the engine — distributed
full-batch logistic regression as DataFrame aggregations, no MLlib, no
Python per row.

Exact-arithmetic contract (the part that makes a DuckDB oracle twin
possible): all model state lives in integer micro-units.

* features: x[id, j] = count of tokens hashing (md5int % n_buckets)
  to bucket j, plus a constant bias feature at bucket ``n_buckets``;
* margin_micro[id] = sum_j w_micro[j] * x[id, j]  — exact bigint;
* p4[id] = round(sigmoid(margin_micro / 1e6), 4) * 1e4 as bigint — the
  ONLY float step, rounded to 4 decimals exactly like the engine's
  rounded-cosine contract (config.ANN_ROUND precedent), so both
  engines agree despite libm exp() differences;
* residual R = p4 - y*1e4; gradient g[j] = sum_id R[id] * x[id, j]
  (exact bigint, in 1e-4 units);
* update w_micro[j] -= trunc_div(lr_times_100 * g[j], n_docs) where
  trunc_div(a, b) = (a - a % b) / b — written that way because the
  remainder subtraction makes the division EXACT, so Spark's
  truncating ``div`` and DuckDB's flooring ``//`` return the same
  value for negative gradients too.

Scale shape: per iteration, one hash-agg by doc (margins) and one
hash-agg by bucket (gradient) — both map-side combinable; model state
is ``n_buckets + 1`` rows (driver-side ints between iterations, the
same tiny-model-state pattern as the k-means centroid collect in
``operators/ann.kmeans_centroids``). The token->feature frame is
computed once and localCheckpoint-ed; iterations never rescan text.
Corpus cost = 1 feature pass + 2 narrow aggs per iteration, constant
in model size — survives 100 TB with the feature frame as the only
shuffled corpus-sized state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import md5int
from ..functions.text import tokens
from ..functions.vectors import round_half_up

N_BUCKETS = 64   # hashed vocabulary size (fastText-style feature hashing)
N_ITERS = 3      # full-batch GD iterations
LR_X100 = 50     # learning rate * 100 (0.5), kept integral


def feature_frame(
    df: DataFrame, id_col: str, text_col: str = "text",
    n_buckets: int = N_BUCKETS,
) -> DataFrame:
    """DF(id, j, x): hashed bag-of-words counts + bias feature
    (j = n_buckets, x = 1) for every doc."""
    tok = df.select(
        F.col(id_col).alias("id"),
        F.explode(tokens(F.col(text_col))).alias("_t"),
    )
    bow = (
        tok.select("id", F.pmod(md5int(F.col("_t")), F.lit(n_buckets)).alias("j"))
        .groupBy("id", "j")
        .agg(F.count("*").alias("x"))
    )
    bias = df.select(
        F.col(id_col).alias("id"), F.lit(n_buckets).alias("j"), F.lit(1).alias("x")
    )
    return bow.unionByName(bias)


def _p4_micro(margin_micro):
    """floor(sigmoid(margin/1e6) * 1e4 + 0.5) as bigint — the shared
    float->fixed-point step (identical floor-idiom expression in the
    oracle), flooring straight to the integer micro value with no
    divide-then-remultiply round trip."""
    z = margin_micro.cast("double") / 1e6
    p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    return F.floor(p * F.lit(1e4) + F.lit(0.5)).cast("bigint")


def train_quality_classifier(
    df: DataFrame,
    label_col,
    id_col: str,
    text_col: str = "text",
    n_buckets: int = N_BUCKETS,
    n_iters: int = N_ITERS,
    lr_x100: int = LR_X100,
):
    """Returns (weights, features, labels): ``weights`` a python list of
    ``n_buckets + 1`` integer micro-unit weights after ``n_iters``
    full-batch GD iterations; ``features``/``labels`` the checkpointed
    frames for reuse by the scorer (no text rescan).

    ``label_col`` is a Column of 0/1 labels evaluated against ``df``.
    """
    spark = df.sparkSession
    # both frames hash-partitioned by id before the checkpoint. On Spark
    # 4.1.2 a localCheckpoint reports UnknownPartitioning, so this does
    # NOT spare each GD iteration's margin groupBy("id"), margins⨝labels
    # join and feats⨝resid join their exchanges: it only fixes the
    # checkpoints' partition count.
    feats = (
        feature_frame(df, id_col, text_col, n_buckets)
        .repartition("id")
        .localCheckpoint(eager=True)
    )
    labels = (
        df.select(F.col(id_col).alias("id"), label_col.cast("bigint").alias("y"))
        .repartition("id")
        .localCheckpoint(eager=True)
    )
    n_docs = labels.count()

    w = [0] * (n_buckets + 1)
    for _ in range(n_iters):
        wdf = spark.createDataFrame(
            list(enumerate(w)), "j int, w long"
        )
        margins = (
            feats.join(F.broadcast(wdf), "j")
            .groupBy("id")
            .agg(F.sum(F.col("w") * F.col("x")).alias("m"))
        )
        resid = margins.join(labels, "id").select(
            "id", (_p4_micro(F.col("m")) - F.col("y") * 10_000).alias("r")
        )
        grad_rows = (
            feats.join(resid, "id")
            .groupBy("j")
            .agg(F.sum(F.col("r") * F.col("x")).alias("g"))
            .collect()
        )
        grad = {r["j"]: r["g"] for r in grad_rows}
        for j in range(n_buckets + 1):
            a = lr_x100 * grad.get(j, 0)
            # TRUNCATING division toward zero (what SQL integer division
            # does); python's // and % floor instead, which differs by 1
            # for negative gradients
            q = abs(a) // n_docs
            w[j] -= q if a >= 0 else -q
    return w, feats, labels


def classifier_scores(
    df: DataFrame,
    label_col,
    id_col: str,
    text_col: str = "text",
    n_buckets: int = N_BUCKETS,
    n_iters: int = N_ITERS,
    lr_x100: int = LR_X100,
) -> DataFrame:
    """DF(id, margin_micro, score4, pred): train on ``df`` then score
    every doc with the final weights. ``score4`` is the 4-decimal
    sigmoid (rounded-float contract), ``pred`` = score4 >= 0.5."""
    w, feats, _ = train_quality_classifier(
        df, label_col, id_col, text_col, n_buckets, n_iters, lr_x100
    )
    spark = df.sparkSession
    wdf = spark.createDataFrame(list(enumerate(w)), "j int, w long")
    margins = (
        feats.join(F.broadcast(wdf), "j")
        .groupBy("id")
        .agg(F.sum(F.col("w") * F.col("x")).alias("margin_micro"))
    )
    score4 = round_half_up(
        F.lit(1.0)
        / (F.lit(1.0) + F.exp(-(F.col("margin_micro").cast("double") / 1e6))),
        4,
    )
    return margins.select(
        "id",
        "margin_micro",
        score4.alias("score4"),
        (score4 >= 0.5).alias("pred"),
    )


def weights_frame(
    df: DataFrame,
    label_col,
    id_col: str,
    text_col: str = "text",
    n_buckets: int = N_BUCKETS,
    n_iters: int = N_ITERS,
    lr_x100: int = LR_X100,
) -> DataFrame:
    """DF(j, w_micro): the trained weight vector as a table (the model
    artifact a production run would persist)."""
    w, _, _ = train_quality_classifier(
        df, label_col, id_col, text_col, n_buckets, n_iters, lr_x100
    )
    return df.sparkSession.createDataFrame(
        list(enumerate(w)), "j int, w_micro long"
    )
