"""Extra measurement harness for the optimization rounds (guide §1).

NOT part of the frozen driver contract — bench.py is the measured
surface and stays untouched. This file exists so optimization claims in
OPTIMIZATION_r*.md are backed by reproducible numbers:

* ``--time q1,q2,...`` (or ``--time all``): per-query noop-sink timing
  (guide §1.4), best-of-N (default 2) on the same staged inputs bench.py
  uses, printed as one JSON line.
* ``--plans q1,q2,... --out plans/r07 --suffix before``: capture
  ``.explain("formatted")`` for each query to ``<out>/<q>_<suffix>.txt``
  (guide §7.2 — Exchange count, join strategy, PushedFilters).
* ``--pipeline-stages``: stage-by-stage timing of the headline
  full_pipeline job: the same ``corpus_stages`` list it fuses, each stage
  localCheckpoint-ed at its boundary, then the fused job itself, so the
  optimization targets the stage that actually costs (guide §1.2).

Respects $SPARK_GRAFT_SF_DIR / $SPARK_GRAFT_CPUS exactly like bench.py.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
REPEATS = int(os.environ.get("BENCH_EXTRA_REPEATS", "2"))


def _spark():
    from redpajama_v2_processing_spark.session import get_spark

    return get_spark(
        master=f"local[{CPUS}]",
        shuffle_partitions=int(CPUS),
        extra_conf={
            "spark.driver.extraJavaOptions": f"-XX:ActiveProcessorCount={CPUS}"
        },
    )


def _noop(df):
    df.write.mode("overwrite").format("noop").save()


def _cleanup(spark):
    spark.catalog.clearCache()
    m = spark.sparkContext._jsc.getPersistentRDDs()
    for k in m.keySet().toArray():
        m.get(k).unpersist()


def _arg(flag: str, default: str | None = None) -> str | None:
    if flag in sys.argv:
        return sys.argv[sys.argv.index(flag) + 1]
    return default


def main() -> int:
    import bench
    from redpajama_v2_processing_spark.queries import QUERIES

    spark = _spark()
    staged = bench.stage_inputs(spark, SF_DIR, splits=int(CPUS) * 2)

    plans = _arg("--plans")
    if plans:
        out_dir = _arg("--out", "plans/r07")
        suffix = _arg("--suffix", "before")
        os.makedirs(out_dir, exist_ok=True)
        names = list(QUERIES) if plans == "all" else plans.split(",")
        for name in names:
            if name == "full_pipeline":
                # bench-only headline job (not a registry query) — same
                # deliverable: plan evidence for the optimization round
                from redpajama_v2_processing_spark.plans.pipeline import (
                    full_pipeline,
                )

                df = full_pipeline(spark.read.parquet(f"{staged}/documents.parquet"))
            else:
                df = QUERIES[name](spark, staged)
            txt = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as f:
                f.write(txt)
            print(f"wrote {out_dir}/{name}_{suffix}.txt")
        return 0

    if "--pipeline-stages" in sys.argv:
        from redpajama_v2_processing_spark.plans.pipeline import (
            corpus_stages, full_pipeline,
        )

        docs = spark.read.parquet(f"{staged}/documents.parquet")
        report: dict[str, float] = {}
        # the stage list full_pipeline fuses, timed one stage at a time:
        # each stage runs over the previous stage's localCheckpoint, so its
        # time covers only its own work
        cur = docs
        for st in corpus_stages("doc_id", "text"):
            runs = []
            for _ in range(REPEATS):
                spark.sparkContext.setJobDescription(f"stage: {st.name}")
                t0 = time.time()
                out = st.fn(cur).localCheckpoint(eager=True)
                runs.append(time.time() - t0)
            report[st.name] = round(min(runs), 3)
            cur = out
        _cleanup(spark)
        runs = []
        for _ in range(REPEATS):
            spark.sparkContext.setJobDescription("stage: full_pipeline")
            t0 = time.time()
            _noop(full_pipeline(docs))
            runs.append(time.time() - t0)
            _cleanup(spark)
        report["full_pipeline"] = round(min(runs), 3)
        print(json.dumps({"pipeline_stages": report, "sf": SF_DIR,
                          "cpus": int(CPUS)}))
        return 0

    names_arg = _arg("--time", "all")
    names = list(bench.HEADLINE) if names_arg == "all" else names_arg.split(",")
    qtimes: dict[str, float] = {}
    for name in names:
        runs = []
        for _ in range(REPEATS):
            spark.sparkContext.setJobDescription(f"bench_extra: {name}")
            t0 = time.time()
            _noop(QUERIES[name](spark, staged))
            runs.append(time.time() - t0)
            _cleanup(spark)
        qtimes[name] = round(min(runs), 3)
    print(json.dumps({"queries": qtimes, "total": round(sum(qtimes.values()), 2),
                      "sf": SF_DIR, "cpus": int(CPUS), "repeats": REPEATS}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
