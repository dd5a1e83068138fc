"""Readers for the canonical pages table + the staged pages pipeline.

Replaces the reference's download/combine/compress scan machinery
(scripts/download_crawl.sh, src/combine_jsonl.py, src/combine_parquet.py —
S1/S10/S11/S12 in SURVEY.md §2.1): Spark reads multi-file parquet/json
natively; partition pruning replaces filename-substring selection
(src/minhashlsh.py:239-253).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..fixtures import PAGES_SCHEMA
from ..functions.extract import extract_text
from ..plans.pipeline import corpus_stages
from ..tableio import Stage


def read_pages(spark: SparkSession, path: str) -> DataFrame:
    """Schema-pinned parquet read (explicit schema -> no inference pass)."""
    return spark.read.schema(PAGES_SCHEMA).parquet(path)


def with_ids(df: DataFrame) -> DataFrame:
    """id_int = xxhash64(url): the engine's join key (SURVEY.md §1.3 —
    replaces the reference's crawl/file/row_idx composite id,
    src/add_document_ids.py:64)."""
    return df.withColumn("id_int", F.xxhash64("url"))


def pages_stages() -> list[Stage]:
    """The corpus-production DAG over a pages table (reference
    README.md:4-7 re-expressed): extract, then the shared
    ``corpus_stages`` list (label -> quality -> exact -> fuzzy). Every
    stage output is a committed, lang/date-partitioned table."""

    def extract(df: DataFrame) -> DataFrame:
        return with_ids(
            df.withColumn("text", extract_text(F.col("html").cast("string"))).drop("html")
        )

    part = ("lang",)
    return [
        Stage("extract", extract, part, derive_date_from="warc_ts"),
        *corpus_stages("id_int", "text", part, derive_date_from="warc_ts"),
    ]
