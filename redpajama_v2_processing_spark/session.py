"""SparkSession factory with scale-oriented defaults.

Settings chosen for the 100 TB target (and harmless locally):

* AQE on (runtime coalesce, skew-join splitting, broadcast demotion);
* AQE may also change a cached plan's output partitioning
  (``spark.sql.optimizer.canChangeCachedPlanOutputPartitioning``, false
  by default in Spark 4.1.2). Without it every stage that reads a cache
  runs ``spark.sql.shuffle.partitions`` tasks however small the cache is:
  ``full_pipeline`` over 1,000 pages on local[4] (16 shuffle partitions)
  ran 48 of its 63 tasks in three 16-task stages over its 0.3 MB survivor
  cache. With it, those stages coalesce and the pass runs 18 tasks (13
  with the broadcast driver-path CC labels);
* Arrow on for any pandas-UDF path;
* runtime Bloom-filter join pruning on (the Spark-native realization of the
  reference's Bloom-filter exact-dedup stage, README.md:53-56);
* UTC session timezone for reproducible timestamp semantics.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "redpajama-v2-processing-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a real
    cluster leave it unset and let spark-submit provide it.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # NOTE: runtimeFilter.semiJoinReduction.enabled hangs Spark 4.1.2's
        # optimizer (infinite re-planning) even on trivial scans — do not set.
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # let AQE rewrite sort-merge joins to shuffled-hash at runtime when
        # every post-shuffle partition's build side fits locally (guide
        # §3.1) — size-gated per partition, so it cannot OOM at scale the
        # way a static preferSortMergeJoin=false could on misestimates;
        # measured -12..19% on the SMJ-heavy dedup queries locally.
        .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "128m")
        # parquet scans: vectorized reader + row-group pruning are defaults;
        # keep split size moderate so local[N] parallelizes small fixtures too.
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or int(cpus) * 4))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
