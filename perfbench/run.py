#!/usr/bin/env python3
"""Benchmark of the corpus pipeline: one workload per run.

    python3 perfbench/run.py --workload pages_fused --seed 1 --seconds 10 --trace 0

Run from the repository root.  One process, one Spark session at
``local[<cores>]``.  A run:

1. starts the session and generates the workload's inputs from ``--seed``
   (SETUP_REPS times, the median counts); a traced run of pages_fused
   also stages the pages through the extract stage and commit path, to
   measure those layers;
2. runs a first pass in the fresh JVM (``cold``);
3. repeats warm passes for ``--seconds`` (at least one);
4. computes the expected output and checks every pass's survivor ids
   against it.  ``setup_s`` adds up session start, generation, staging and
   the expected output.

The end-to-end metrics are counts, memory and set-up time.  A pass's
time is printed but not listed as a metric: on a shared 4-core host,
neither its wall time nor its CPU time repeats from run to run within a
usable bound (LAYERS.md, "Why no pass time is listed").  The first
stdout line holds the run's details: each pass's wall time and CPU time (the JVM's threads apart from its JIT
compiler threads, plus the Python driver; then the JIT compiler threads),
warm throughput in wall time (``docs_per_s_wall``) and CPU time per doc
(``cpu_ms_per_doc``), the parts of setup, the share of CPU time the host
gave to other guests during the passes (``steal_frac``) and, with
``--trace 1``, each layer's share of a traced pass (``layer_share``).

Memory is measured over the passes only: the driver's resident set is
sampled while a pass runs, and the JVM's peak (``VmHWM``) is reset just
before the cold pass and read after the last one.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` alternates
untraced passes with traced replays (every layer materialized inside a
span, Spark counters per span) and prints the per-layer metrics and the
tracing overhead; spans are written to ``.perfbench/traces/``.

The last stdout line is one JSON object: correct, attempted, failed,
metrics.  Everything the run writes stays under ``.perfbench/`` in the
repository root.  LAYERS.md lists the layers and what each should move.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "redpajama_v2_processing_spark"

SETUP_REPS = 3
DRIVER_MEMORY = "2g"

END_TO_END = {
    "spark_jobs": "count",
    "spark_tasks": "count",
    "setup_s": "s",
    "shuffle_write_mb": "MB",
    "jvm_peak_rss_mb": "MB",
    "driver_peak_rss_mb": "MB",
}

_COMMON_UNITS = {
    "self_s": "s", "task_s": "s", "driver_s": "s", "rows_out": "count",
    "shuffle_write_mb": "MB", "jobs": "count", "task_skew": "ratio",
}
LAYERS = ("scan", "extract", "label", "thresholds", "exact", "bands", "edges",
          "cc", "keep", "commit", "engine")
_EXTRA_UNITS = {
    "exact.removed": "count",
    "edges.count": "count", "edges.max_bucket": "count",
    "cc.components": "count",
    "commit.bytes": "MB", "commit.files": "count",
    "engine.busy_frac": "ratio", "engine.gc_s": "s", "engine.spill_mb": "MB",
    "engine.stages": "count", "engine.exchanges": "count",
    "engine.cpu_s": "s", "engine.jit_cpu_s": "s",
    "engine.trace_overhead": "ratio",
}
PER_LAYER = {
    **{f"{layer}.{m}": u for layer in LAYERS for m, u in _COMMON_UNITS.items()},
    **_EXTRA_UNITS,
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=("pages_fused", "rpv2_prebanded"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _prepare_env(work: str, workload: str) -> None:
    """Keep every file the run (and the JVM it starts) writes inside
    ``work``; pin the session size to this host."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # every JVM spark-submit starts, its launcher too: temp files in ``work``,
    # no perf-data files
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(_cores())
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ.pop("SPARK_MASTER", None)
    if workload == "rpv2_prebanded":
        # read by the program's config at import; see sizes.py
        from sizes import RPV2_CC_THRESHOLD
        os.environ["RPV2_CC_DRIVER_THRESHOLD"] = str(RPV2_CC_THRESHOLD)
    else:
        os.environ.pop("RPV2_CC_DRIVER_THRESHOLD", None)


def _start_spark(work: str):
    from redpajama_v2_processing_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{_cores()}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # a fixed heap: peak RSS then does not depend on when G1 grows
            # it; compiler threads that never exit: see counters.JvmCpu
            "spark.driver.extraJavaOptions":
                f"-Xms{DRIVER_MEMORY} -XX:-UseDynamicNumberOfCompilerThreads",
            "spark.hadoop.hadoop.tmp.dir": os.path.join(work, "tmp"),
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers) to
    exit: closing the gateway's stdin is the JVM's exit signal."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


class Pass:
    def __init__(self, kind: str, wall: float, cpu: float, jit: float, ids,
                 error: str | None, work):
        self.kind, self.wall, self.ids, self.error = kind, wall, ids, error
        self.cpu, self.jit = cpu, jit  # CPU seconds: work, JIT compilation
        self.work = work
        self.ok = False


def _run(kind, fn, spark, counters, sampler, jvm_cpu) -> Pass:
    """One pass, timed in wall and CPU time, with the driver's memory
    sampled; engine counters are read after the clocks stop.  Both heaps
    are collected first, so garbage left by earlier work is not charged to
    this pass."""
    gc.collect()
    spark._jvm.java.lang.System.gc()
    m0 = counters.mark()
    with sampler.measuring():
        (j0, jit0), d0 = jvm_cpu.read(), time.process_time()
        t0 = time.perf_counter()
        try:
            ids, err = fn(), None
        except Exception:  # a failed pass is counted, and the run goes on
            ids, err = None, traceback.format_exc()
            print(err, file=sys.stderr)
        wall = time.perf_counter() - t0
        (j1, jit1), d1 = jvm_cpu.read(), time.process_time()
    counters.drain()
    jit = jit1 - jit0
    return Pass(kind, wall, (j1 - j0 - jit) + (d1 - d0), jit, ids, err,
                counters.work(m0, counters.mark()))


def _layer_shares(m: dict[str, float]) -> dict[str, float]:
    """Each layer's self time as a share of one traced pass's wall time:
    the self times of a pass's spans add up to its engine span."""
    own = [k for k in m if k.endswith(".self_s")]
    wall = sum(m[k] for k in own)
    return {k.split(".")[0]: m[k] / wall for k in own}


def measure(args, work: str) -> dict:
    import workloads
    from counters import (
        EngineCounters, JvmCpu, RssSampler, cpu_ticks, jvm_pid, peak_rss_mb,
        reset_peak_rss, steal_frac,
    )
    from spans import Tracer

    t0 = time.perf_counter()
    spark = _start_spark(work)
    session_s = time.perf_counter() - t0
    sampler = RssSampler().start()
    try:
        counters = EngineCounters(spark)
        jvm = jvm_pid(spark)
        jvm_cpu = JvmCpu(jvm)
        wl = workloads.WORKLOADS[args.workload](work)
        reps = []
        for _ in range(SETUP_REPS):
            t = time.perf_counter()
            wl.generate(args.seed)
            reps.append(time.perf_counter() - t)
        tracer = Tracer(counters)
        t = time.perf_counter()
        wl.prepare(spark, tracer if args.trace else None)
        prepare_s = time.perf_counter() - t
        staging = tracer.pass_metrics(workloads.STAGING_PASS, _cores()) if args.trace else {}

        def run(kind, fn):
            return _run(kind, fn, spark, counters, sampler, jvm_cpu)

        # the JVM's peak is taken over the passes only; the expected output
        # is computed after them
        reset_peak_rss(jvm)
        ticks = cpu_ticks()
        passes = [run("cold", lambda: wl.run_pass(spark))]
        layer_runs: list[dict] = []
        shares: list[dict] = []
        t_loop = time.perf_counter()
        n = 0
        while True:
            n_warm = sum(p.kind == "warm" for p in passes)
            if (time.perf_counter() - t_loop >= args.seconds and n_warm >= 1
                    and (layer_runs or not args.trace)):
                break
            traced_turn = bool(args.trace) and n % 2 == 1
            n += 1
            if not traced_turn:
                passes.append(run("warm", lambda: wl.run_pass(spark)))
                continue
            pid = len(layer_runs)
            p = run("traced", lambda: wl.traced_pass(spark, tracer, pid))
            passes.append(p)
            m = tracer.pass_metrics(pid, _cores())
            shares.append(_layer_shares(m))
            layer_runs.append({**staging, **m})
        jvm_rss = peak_rss_mb(jvm)
        steal = steal_frac(ticks, cpu_ticks())
        t = time.perf_counter()
        wl.compute_expected(spark)
        expected_s = time.perf_counter() - t
        if args.trace:
            os.makedirs(os.path.join(ROOT, ".perfbench", "traces"), exist_ok=True)
            tracer.dump(os.path.join(
                ROOT, ".perfbench", "traces", f"{args.workload}-seed{args.seed}.jsonl"
            ))
    finally:
        driver_rss = sampler.stop()
        _stop_spark(spark)

    for p in passes:
        p.ok = p.error is None and p.ids == wl.expected
        if p.error is None and not p.ok:
            missing = len(wl.expected - p.ids)
            extra = len(p.ids - wl.expected)
            print(f"{p.kind} pass output differs from expected: "
                  f"{missing} missing, {extra} unexpected", file=sys.stderr)
    failed = sum(not p.ok for p in passes)
    warm = [p for p in passes if p.kind == "warm"]
    setup_s = session_s + statistics.median(reps) + prepare_s + expected_s
    result = {
        "workload": args.workload, "docs": wl.n_docs, "expected": len(wl.expected),
        "attempted": len(passes), "failed": failed,
        "pass_walls_s": [[p.kind, round(p.wall, 3)] for p in passes],
        "pass_cpu_s": [[p.kind, round(p.cpu, 3), round(p.jit, 3)] for p in passes],
        "warm_passes": len(warm),
        "docs_per_s_wall": wl.n_docs / statistics.median(p.wall for p in warm),
        "cpu_ms_per_doc": statistics.median(p.cpu for p in warm) / wl.n_docs * 1e3,
        "setup_parts_s": {
            "session": session_s, "generate_median": statistics.median(reps),
            "prepare": prepare_s, "expected": expected_s,
        },
        "failed_frac": failed / len(passes),
        # host contention during the passes: wall times grow with it
        "steal_frac": round(steal, 4),
    }
    if not args.trace:
        values = {
            "spark_jobs": statistics.median(p.work.jobs for p in warm),
            "spark_tasks": statistics.median(p.work.tasks for p in warm),
            "setup_s": setup_s,
            "shuffle_write_mb": statistics.median(
                p.work.shuffle_write_bytes for p in warm) / 1e6,
            "jvm_peak_rss_mb": jvm_rss,
            "driver_peak_rss_mb": driver_rss,
        }
        units = END_TO_END
    else:
        values = {
            k: statistics.median(r.get(k, 0.0) for r in layer_runs) for k in PER_LAYER
        }
        traced = [p.wall for p in passes if p.kind == "traced"]
        values["engine.trace_overhead"] = (
            statistics.median(traced) / statistics.median(p.wall for p in warm)
        )
        # from the untraced passes: a traced replay adds an Exchange to
        # every layer it materializes
        values["engine.exchanges"] = statistics.median(p.work.exchanges for p in warm)
        values["engine.cpu_s"] = statistics.median(p.cpu for p in warm)
        values["engine.jit_cpu_s"] = statistics.median(p.jit for p in warm)
        result["layers"] = sorted({k.split(".")[0] for r in layer_runs for k in r})
        result["layer_share"] = {
            layer: round(statistics.median(s[layer] for s in shares), 4)
            for layer in shares[0]
        }
        units = PER_LAYER
    result["metrics"] = {
        k: {"value": values[k], "unit": u} for k, u in units.items()
    }
    return result


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"{PACKAGE}/ not found next to perfbench/ — run from a full "
              "checkout of the repository", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    work = os.path.join(ROOT, ".perfbench", f"work-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    try:
        _prepare_env(work, args.workload)
        result = measure(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    m = result.pop("metrics")
    print(json.dumps(result))
    print(" ".join(f"{k}={v['value']:.6g}{v['unit']}" for k, v in m.items())
          + f" failed_frac={result['failed_frac']:.6g}ratio")
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": m,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
