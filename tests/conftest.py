from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from redpajama_v2_processing_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="rpv2spark-tests", master="local[4]", shuffle_partitions=4,
        extra_conf={
            "spark.sql.files.maxPartitionBytes": "8m",
            # the status store evicts SKIPPED stages first once it holds
            # more than retainedStages (default 1000); job-group task
            # budgets read every stage of their jobs, so keep the whole
            # suite's stages
            "spark.ui.retainedStages": "100000",
        },
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def pages_small(spark):
    """Deterministic synthetic pages fixture (seed 42, 200 rows)."""
    from redpajama_v2_processing_spark.fixtures import pages_df

    df = pages_df(spark, n_rows=200, seed=42).cache()
    df.count()
    return df


def docs_frame(spark, rows):
    """Helper: (id, text) frame from a list of strings."""
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(rows)], "doc_id long, text string"
    )
