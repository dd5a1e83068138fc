"""Structured-Streaming label pass: the batch label stage applied to a file
stream of pages.

The reference is pure batch (SURVEY.md §2.10); this is the optional
streaming-append variant sketched there: new page files appear under a
directory, and each micro-batch is labeled with the same narrow
expressions as ``plans.pipeline.label_documents``, so streaming and batch
labels are byte-identical (tested).
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..fixtures import PAGES_SCHEMA
from ..plans.pipeline import label_documents


def stream_labels(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Label every page file under ``input_dir`` into a checkpointed parquet
    sink (exactly once); drains what exists and stops (``availableNow``)."""
    pages = spark.readStream.schema(PAGES_SCHEMA).parquet(input_dir)
    labeled = label_documents(pages, id_col="url", text_col="text")
    return (
        labeled.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
