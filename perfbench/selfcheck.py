#!/usr/bin/env python3
"""Self-check of the benchmark.

    python3 perfbench/selfcheck.py [--seed 7]

Run from the repository root; takes a few minutes.  Checks that:

1. BENCHMARK.json names the workloads and metrics run.py prints, with
   the same units;
2. every workload passes its output check (``--trace 0``) and prints
   exactly the end-to-end metrics;
3. every traced run (``--trace 1``) prints exactly the per-layer metrics,
   reports every layer its workload exercises, and shows the CC path each
   workload is meant to take: the driver union-find on pages_fused, the
   distributed star rounds on rpv2_prebanded;
4. the committed-stage path (pages_stages() through run_stages) gives the
   same survivors as full_pipeline and the expected composition;
5. in a directory holding only BENCHMARK.json and perfbench/, the
   command fails without printing a result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import run  # noqa: E402
from sizes import RPV2_CC_THRESHOLD  # noqa: E402

LAYERS = {
    "pages_fused": {"scan", "extract", "label", "exact", "bands", "edges",
                    "cc", "keep", "commit", "engine"},
    "rpv2_prebanded": {"scan", "exact", "thresholds", "bands", "edges", "cc",
                       "keep", "engine"},
}


def _bench(args: list[str], cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd,
        capture_output=True, text=True, timeout=180,
    )


def _result(workload: str, seed: int, trace: int) -> tuple[dict, dict]:
    p = _bench(["--workload", workload, "--seed", str(seed), "--seconds", "1",
                "--trace", str(trace)])
    if p.returncode != 0:
        raise AssertionError(f"{workload} trace={trace} exited {p.returncode}:\n"
                             + p.stderr[-3000:])
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[0]), json.loads(lines[-1])


def check_manifest(spec: dict) -> None:
    assert [w["name"] for w in spec["workloads"]] == list(LAYERS), spec["workloads"]
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    assert e2e == run.END_TO_END, (e2e, run.END_TO_END)
    per_layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert per_layer == run.PER_LAYER, set(per_layer) ^ set(run.PER_LAYER)
    assert spec["command"] == ["python3", "perfbench/run.py"]


def check_units(out: dict, expected: dict[str, str]) -> None:
    got = {k: v["unit"] for k, v in out["metrics"].items()}
    assert got == expected, set(got) ^ set(expected)


def check_workloads(spec: dict, seed: int) -> None:
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    per_layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    cc_jobs = {}
    for workload, layers in LAYERS.items():
        info, out = _result(workload, seed, 0)
        assert out["correct"] and out["failed"] == 0, (workload, info)
        check_units(out, e2e)
        print(f"ok  {workload}: output check, {len(e2e)} end-to-end metrics "
              f"({info['expected']} of {info['docs']} docs survive)")

        info, out = _result(workload, seed, 1)
        assert out["correct"] and out["failed"] == 0, (workload, info)
        check_units(out, per_layer)
        assert set(info["layers"]) == layers, (workload, info["layers"])
        m = {k: v["value"] for k, v in out["metrics"].items()}
        for layer in layers:
            for metric in ("self_s", "task_s", "jobs"):
                assert m[f"{layer}.{metric}"] > 0, (workload, layer, metric)
        assert m["engine.trace_overhead"] > 0
        cc_jobs[workload] = m["cc.jobs"]
        if workload == "rpv2_prebanded":
            assert m["edges.count"] > RPV2_CC_THRESHOLD, m["edges.count"]
        print(f"ok  {workload}: traced layers {sorted(layers)}, cc.jobs="
              f"{m['cc.jobs']:g}, edges.count={m['edges.count']:g}, "
              f"trace overhead {m['engine.trace_overhead']:.2f}x")
    # the distributed fixpoint runs several jobs per round; the driver
    # union-find is one count and one collect after the checkpoint
    assert cc_jobs["rpv2_prebanded"] > 2 * cc_jobs["pages_fused"], cc_jobs


def check_staged_path(seed: int) -> None:
    """full_pipeline vs the committed CLI stages, on the same pages."""
    work = os.path.join(ROOT, ".perfbench", f"selfcheck-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    try:
        run._prepare_env(work, "pages_fused")
        import workloads
        from redpajama_v2_processing_spark.sources.pages import (
            pages_stages, read_pages,
        )
        from redpajama_v2_processing_spark.tableio import run_stages

        spark = run._start_spark(work)
        try:
            wl = workloads.PagesFused(work)
            wl.generate(seed)
            fused = wl.run_pass(spark)
            staged, _ = run_stages(spark, read_pages(spark, wl.raw), pages_stages(),
                                   os.path.join(work, "warehouse"), resume=False)
            staged = {r[0] for r in staged.select("id_int").collect()}
            wl.compute_expected(spark)
        finally:
            run._stop_spark(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    assert fused == staged == wl.expected, (
        len(fused), len(staged), len(wl.expected))
    print(f"ok  pages_stages/run_stages survivors == full_pipeline survivors "
          f"({len(fused)} ids)")


def check_bare_directory() -> None:
    bare = os.path.join(ROOT, ".perfbench", f"bare-{os.getpid()}")
    try:
        os.makedirs(bare)
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        p = _bench(["--workload", "pages_fused", "--seed", "1", "--seconds", "1",
                    "--trace", "0"], cwd=bare)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    assert p.returncode != 0 and '"metrics"' not in p.stdout, p
    print(f"ok  bare directory: exit {p.returncode}, no result printed")


def main() -> int:
    ap = argparse.ArgumentParser(description="Self-check of the benchmark")
    ap.add_argument("--seed", type=int, default=7)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    check_manifest(spec)
    print("ok  BENCHMARK.json matches run.py")
    check_bare_directory()
    check_workloads(spec, args.seed)
    check_staged_path(args.seed)
    return 0


if __name__ == "__main__":
    sys.exit(main())
