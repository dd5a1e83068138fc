"""End-to-end pipeline composition over a documents/pages table.

Mirrors the reference's four-stage flow (README.md:4-7: download -> exact
dedup -> quality filter -> fuzzy dedup) as one declarative DataFrame DAG,
plus the signal computation the reference outsourced. The flow is written
once, as the ``corpus_stages`` list; ``full_pipeline`` fuses it and
tableio.run_stages commits it stage by stage (resumable).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.langid import STAGED, langid_cols, stage_with_hits
from ..functions.scrub import scrub_pii
from ..functions.signals import signal_cols
from ..functions.text import fingerprint_int
from ..operators.connected_components import connected_components, keep_min_id
from ..operators.exact_dedup import exact_keep_ids
from ..operators.minhash_lsh import candidate_edges, minhash_bands
from ..operators.quality_filter import with_quality_label
from ..config import PROD_MINHASH
from ..tableio import Stage


def label_documents(docs: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """signals + keep/drop labels + langid + scrubbed text + fingerprint.
    Narrow (no shuffle): projections over ONE token staging, which signals
    and langid share."""
    text = F.col(text_col)
    label, score = langid_cols(text_col)
    return with_quality_label(
        stage_with_hits(docs, text_col).withColumns(signal_cols(text_col))
    ).withColumns({
        "langid": label, "langid_score": score,
        "scrubbed_text": scrub_pii(text), "fingerprint": fingerprint_int(text),
    }).drop(*STAGED)


def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-filter pipeline over the documents table: labels + scrub +
    exact-dedup survivor flag. Returns one row per input doc."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    labeled = label_documents(docs)
    keep_ids = exact_keep_ids(docs, "doc_id").withColumn("exact_keep", F.lit(True))
    return (
        labeled.join(keep_ids, "doc_id", "left")
        .withColumn("exact_keep", F.coalesce("exact_keep", F.lit(False)))
        .select(
            "doc_id", "lang", "langid", "langid_score", "keep", "drop_reason",
            "number_of_words", "stop_word_fraction", "special_char_ratio",
            "scrubbed_text", "fingerprint", "exact_keep",
        )
    )


def corpus_stages(id_col: str = "doc_id", text_col: str = "text",
                  partition_by: tuple[str, ...] = (),
                  derive_date_from: str | None = None) -> list[Stage]:
    """The corpus-production flow as ONE ordered stage list:
    label -> quality -> exact dedup -> fuzzy dedup. The runner decides how
    it executes: ``full_pipeline`` folds it into one DAG, ``run_stages``
    commits each stage as a table (``partition_by`` / ``derive_date_from``
    are the committed tables' partition spec)."""

    def label(df: DataFrame) -> DataFrame:
        return label_documents(df, id_col, text_col)

    def quality(df: DataFrame) -> DataFrame:
        return df.where(F.col("keep"))

    def exact(df: DataFrame) -> DataFrame:
        # ONE row_number window over the fingerprint column the label stage
        # already computed: min id per fingerprint among quality-kept docs,
        # the same rows as exact_keep_ids + left_semi, but one label pass
        # and one exchange instead of two (Catalyst shares no subplans).
        # Skew note: a hot fingerprint is an identical-text flood — the
        # window reducer streams that bucket linearly.
        w = Window.partitionBy("fingerprint").orderBy(F.col(id_col).asc())
        return (
            df.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn")
        )

    def fuzzy(df: DataFrame) -> DataFrame:
        # keep_min_id straight over the rows: ONE anti join against the
        # (dup-cluster-sized) CC drop-list, without fuzzy_dedup_keep_ids'
        # second corpus-wide semi join. Driver-path labels carry a
        # broadcast hint, so the join does not shuffle ``df``.
        # ``df`` is read twice (bands + join): fused runners checkpoint it.
        bands = minhash_bands(df, id_col, text_col, PROD_MINHASH, "xxhash")
        return keep_min_id(df, connected_components(candidate_edges(bands)), id_col)

    return [
        Stage(name, fn, partition_by, derive_date_from)
        for name, fn in (("label", label), ("quality", quality),
                         ("exact_dedup", exact), ("fuzzy_dedup", fuzzy))
    ]


def full_pipeline(docs: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """``corpus_stages`` fused into one DAG: quality filter -> exact dedup
    -> fuzzy dedup; returns surviving docs with labels. (The committed
    per-stage variant is tableio.run_stages over the same list.)

    The exact survivors are checkpointed once (job description
    ``full_pipeline survivors``): the bands and the result's keep join read
    them. The returned plan, that checkpoint anti-joined with the CC
    drop-list, stays lazy; the checkpoint belongs to it (context-cleaned
    when it is dropped), and the call leaves nothing else persisted. On
    the driver CC path the keep join broadcasts the drop-list
    (``keep_min_id``: the labels whose root is not themselves), so the
    survivors are not shuffled again and the result is estimated no larger
    than the survivors. The labels number at most 2 x
    ``CC_DRIVER_THRESHOLD`` rows also when CC hands off after star rounds:
    the collected round has at most that many edges and every labelled
    node is on one of them."""
    *upstream, fuzzy = corpus_stages(id_col, text_col)
    survivors = docs
    for st in upstream:
        survivors = st.fn(survivors)
    sc = docs.sparkSession.sparkContext
    caller_desc = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription("full_pipeline survivors")
    try:
        survivors = survivors.localCheckpoint(eager=True)
    finally:
        sc.setJobDescription(caller_desc)
    return fuzzy.fn(survivors)
