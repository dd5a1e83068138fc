"""Iceberg-lite table layout: snapshot-committed, hidden-partitioned
parquet tables with per-stage lineage + metrics.

No Iceberg runtime jar ships in this sandbox, so this module provides the
Iceberg semantics the engine needs behind a thin interface (swap for a real
``df.writeTo(...)`` catalog by replacing commit/read):

* hidden partitioning: data laid out ``data-<ver>/lang=<l>/date=<d>/``
  (the days(warc_ts), lang spec from SURVEY.md §1.3); readers prune
  partitions via ordinary directory pruning;
* atomic commits, Iceberg-style versioned data dirs: each commit writes a
  fresh ``data-<uuid>`` directory, and PUBLISH is one ``os.rename`` of the
  snapshot JSON that points at it. A crash at ANY point leaves the
  previous snapshot + its data dir untouched (readers/resume never see a
  half-state); orphaned dirs from crashed commits are garbage-collected
  by the next successful commit. The snapshot also records row counts per
  partition — the lineage/metrics the reference hand-rolled as
  parquet_metadata.jsonl (src/get_metadata_signatures.py:32-40);
* resume: a stage is complete iff its snapshot exists — replaces the
  reference's "output file exists => stage done" convention
  (src/minhashlsh.py:261-262) with an atomic marker.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _snapshot_path(table_dir: str) -> str:
    return os.path.join(table_dir, "_snapshot.json")


def _history_path(table_dir: str) -> str:
    return os.path.join(table_dir, "_history.jsonl")


def snapshot_history(table_dir: str) -> list[dict]:
    """All snapshots ever committed (oldest first) — the Iceberg snapshot
    log analog. Entries whose data dir was garbage-collected have
    ``"retained": False``.

    Torn/malformed lines are SKIPPED, not fatal: the log is appended after
    the atomic snapshot rename, so a crash mid-append leaves a torn tail
    line; the commit itself is still valid (the 'crash at ANY point'
    contract) and commit_table reconciles the missing entry on the next
    commit."""
    if not os.path.exists(_history_path(table_dir)):
        return []
    out = []
    with open(_history_path(table_dir)) as f:
        for line in f:
            line = line.strip()
            if not line:
                continue
            try:
                snap = json.loads(line)
            except (json.JSONDecodeError, ValueError):
                continue  # torn append from a crashed commit
            snap["retained"] = os.path.isdir(
                os.path.join(table_dir, snap.get("data_dir", "data"))
            )
            out.append(snap)
    return out


def table_committed(table_dir: str) -> bool:
    return os.path.exists(_snapshot_path(table_dir))


def _live_data_dir(table_dir: str, version: int | None = None) -> str:
    if version is None:
        snap = read_snapshot(table_dir)
    else:
        matches = [s for s in snapshot_history(table_dir) if s["version"] == version]
        if not matches:
            raise ValueError(f"no snapshot version {version} at {table_dir}")
        snap = matches[0]
        if not snap["retained"]:
            raise ValueError(
                f"version {version} was garbage-collected (raise keep_versions)"
            )
    return os.path.join(table_dir, snap.get("data_dir", "data"))


def read_table(
    spark: SparkSession, table_dir: str, version: int | None = None
) -> DataFrame:
    """Read the committed table: the snapshot names the live data dir
    (``data_dir``), so readers can never observe an in-flight commit.
    ``version`` time-travels to an older retained snapshot (Iceberg
    ``VERSION AS OF`` analog; retention set by commit_table(keep_versions))."""
    return spark.read.parquet(_live_data_dir(table_dir, version))


def commit_table(
    df: DataFrame,
    table_dir: str,
    partition_by: tuple[str, ...] = (),
    derive_date_from: str | None = None,
    meta: dict | None = None,
    compression: str = "zstd",
    keep_versions: int = 1,
    sort_by: tuple[str, ...] = (),
    target_files: int | None = None,
) -> dict:
    """Write ``df`` as a committed table; returns the snapshot dict.

    ``derive_date_from``: timestamp column to derive a hidden ``date``
    partition column from (Iceberg days() transform analog). The derived
    column is partition metadata only — readers get the original columns
    back plus ``date``.

    ``sort_by``: cluster the data by these columns before writing
    (range-repartition + sort-within-partitions — the Iceberg sort-order
    analog): each file then covers a narrow key range, so parquet
    footer min/max statistics prune files for predicates on the sort key.
    ``target_files``: coalesce the write to this many files per partition
    tree (small-file control; defaults to the frame's partitioning).
    """
    out = df
    parts = list(partition_by)
    if derive_date_from is not None:
        out = out.withColumn("date", F.to_date(F.col(derive_date_from)))
        if "date" not in parts:
            parts.append("date")
    if sort_by:
        n_out = target_files or out.rdd.getNumPartitions()
        out = out.repartitionByRange(n_out, *[F.col(c) for c in sort_by])
        out = out.sortWithinPartitions(*sort_by)
    elif target_files is not None:
        out = out.repartition(target_files)

    os.makedirs(table_dir, exist_ok=True)
    data_dir = f"data-{uuid.uuid4().hex}"
    new_path = os.path.join(table_dir, data_dir)
    writer = out.write.mode("overwrite").option("compression", compression)
    if parts:
        writer = writer.partitionBy(*parts)
    writer.parquet(new_path)

    committed = df.sparkSession.read.parquet(new_path)
    if parts:
        part_counts = {
            "|".join(str(r[p]) for p in parts): r["n"]
            for r in committed.groupBy(*parts).agg(F.count("*").alias("n")).collect()
        }
    else:
        part_counts = {}
    prev_snap = read_snapshot(table_dir) if table_committed(table_dir) else None
    prev_version = prev_snap.get("version", 0) if prev_snap else 0
    snapshot = {
        "version": prev_version + 1,
        "rows": committed.count(),
        "partitions": part_counts,
        "partition_by": parts,
        "data_dir": data_dir,
        "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        "meta": meta or {},
    }
    # PUBLISH: one rename flips readers to the new version; the previous
    # snapshot + data dir stay valid until this instant (crash-safe at
    # every point of the commit). The history log (append-only) is the
    # Iceberg snapshot-log analog backing time-travel reads.
    tmp_snap = _snapshot_path(table_dir) + f".tmp-{uuid.uuid4().hex}"
    with open(tmp_snap, "w") as f:
        json.dump(snapshot, f, indent=1)
    os.rename(tmp_snap, _snapshot_path(table_dir))
    # History append — reconcile first: a crash between a previous commit's
    # snapshot rename and its history append leaves a committed version
    # missing from the log (it would be GC'd out of its retention window
    # and invisible to time travel). Re-log it before the new entry.
    logged_versions = {s.get("version") for s in snapshot_history(table_dir)}
    with open(_history_path(table_dir), "a") as f:
        if os.path.getsize(_history_path(table_dir)) and not _ends_with_newline(
            _history_path(table_dir)
        ):
            f.write("\n")  # isolate a torn tail from a crashed append
        if prev_snap is not None and prev_snap.get("version") not in logged_versions:
            f.write(json.dumps(prev_snap) + "\n")
        f.write(json.dumps(snapshot) + "\n")
    # GC: retain the newest ``keep_versions`` data dirs; delete older
    # versions, orphans from crashed commits, legacy data/ layouts and
    # stale snapshot temps. Failures here never affect correctness — the
    # whole block is best-effort (a corrupt history or racing FS op must
    # never fail a commit that already published).
    try:
        retained = {
            s["data_dir"]
            for s in snapshot_history(table_dir)[-max(keep_versions, 1):]
            if "data_dir" in s
        }
        retained.add(data_dir)
        if prev_snap is not None and "data_dir" in prev_snap and keep_versions > 1:
            retained.add(prev_snap["data_dir"])
        for name in os.listdir(table_dir):
            p = os.path.join(table_dir, name)
            if name in retained or not (
                name == "data" or name.startswith("data-")
                or name.startswith("_snapshot.json.tmp-")
            ):
                continue
            shutil.rmtree(p, ignore_errors=True)
            if os.path.isfile(p):
                os.unlink(p)
    except OSError:
        pass
    return snapshot


def data_file_count(table_dir: str, version: int | None = None) -> int:
    """Number of parquet data files in a snapshot's live data dir."""
    n = 0
    for _root, _dirs, files in os.walk(_live_data_dir(table_dir, version)):
        n += sum(1 for f in files if f.endswith(".parquet"))
    return n


def compact_table(
    spark: SparkSession,
    table_dir: str,
    rows_per_file: int = 1_000_000,
    sort_by: tuple[str, ...] = (),
    keep_versions: int = 2,
    compression: str = "zstd",
) -> dict:
    """Iceberg ``rewrite_data_files`` analog: rewrite the live snapshot
    into right-sized (optionally sort-clustered) files and commit the
    result as a NEW version of the same table.

    The small-file problem is the classic warehouse-maintenance cost at
    100 TB — a streaming or fine-grained-committed table accumulates tiny
    files until scan task scheduling dominates. Compaction here is just
    another commit: readers flip atomically at the snapshot rename, the
    pre-compaction version stays time-travelable within retention, and a
    crash mid-compaction leaves the old snapshot untouched.

    ``sort_by`` additionally clusters files by the given key(s)
    (range-repartition + local sort) so footer min/max stats prune files
    for predicates on that key. Returns the new snapshot dict with
    ``meta.compaction`` describing the rewrite.
    """
    snap = read_snapshot(table_dir)
    parts = tuple(snap.get("partition_by", ()))
    files_before = data_file_count(table_dir)
    df = read_table(spark, table_dir)
    target = max(1, -(-snap["rows"] // rows_per_file))  # ceil div
    meta = dict(snap.get("meta", {}))
    meta["compaction"] = {
        "from_version": snap["version"],
        "files_before": files_before,
        "target_files": target,
        "sort_by": list(sort_by),
    }
    # partition columns already exist on the read-back frame (date was
    # derived at original commit time), so pass them straight through
    return commit_table(
        df, table_dir, partition_by=parts, meta=meta,
        compression=compression, keep_versions=keep_versions,
        sort_by=sort_by, target_files=target,
    )


def _ends_with_newline(path: str) -> bool:
    with open(path, "rb") as f:
        f.seek(-1, os.SEEK_END)
        return f.read(1) == b"\n"


def read_snapshot(table_dir: str) -> dict:
    with open(_snapshot_path(table_dir)) as f:
        return json.load(f)


class CompletenessError(AssertionError):
    pass


def check_completeness(
    table_dir: str,
    spark: SparkSession | None = None,
    expected_rows: int | None = None,
    min_rows: int | None = None,
) -> dict:
    """Explicit completeness assertion over a committed table — the
    engine's version of the reference's output-sanity checks (row counts in
    parquet_metadata, src/get_metadata_signatures.py:32-40; 'did my job
    write everything' before the next stage consumes it).

    Verifies: the snapshot exists; its partition counts sum to its row
    count; optional expected/min row counts; and — when ``spark`` is given
    — a physical re-count of the live data dir matches the snapshot
    (detects lost/truncated files after the commit). Returns a report dict;
    raises CompletenessError on any mismatch.
    """
    if not table_committed(table_dir):
        raise CompletenessError(f"no snapshot at {table_dir}")
    snap = read_snapshot(table_dir)
    report = {"rows": snap["rows"], "checks": ["snapshot_exists"]}
    if snap["partitions"]:
        psum = sum(snap["partitions"].values())
        if psum != snap["rows"]:
            raise CompletenessError(
                f"partition counts sum {psum} != snapshot rows {snap['rows']}"
            )
        report["checks"].append("partition_sum")
    if expected_rows is not None and snap["rows"] != expected_rows:
        raise CompletenessError(
            f"expected {expected_rows} rows, snapshot has {snap['rows']}"
        )
    if min_rows is not None and snap["rows"] < min_rows:
        raise CompletenessError(f"snapshot rows {snap['rows']} < min {min_rows}")
    if spark is not None:
        actual = spark.read.parquet(_live_data_dir(table_dir)).count()
        if actual != snap["rows"]:
            raise CompletenessError(
                f"physical row count {actual} != snapshot {snap['rows']}"
            )
        report["checks"].append("physical_recount")
    return report


# ---------------------------------------------------------------------------
# Stage DAG with resume + metrics
# ---------------------------------------------------------------------------


@dataclass
class Stage:
    name: str
    fn: Callable[[DataFrame], DataFrame]
    partition_by: tuple[str, ...] = ()
    derive_date_from: str | None = None


def run_stages(
    spark: SparkSession,
    source: DataFrame,
    stages: list[Stage],
    warehouse: str,
    resume: bool = True,
    verify: bool = True,
    physical_recount: bool = False,
) -> tuple[DataFrame, list[dict]]:
    """Run a linear stage DAG; each stage's output is a committed table
    under ``warehouse/<stage>``. With ``resume=True``, committed stages are
    read back instead of recomputed (snapshot-checkpoint resume). Appends
    one metrics record per executed/skipped stage to
    ``warehouse/_metrics.jsonl``; an executed stage's ``rows_in`` is the
    previous stage's ``rows_out`` (the source is counted once, and only
    when the first stage executes).

    ``verify=True`` runs check_completeness on every stage table the DAG
    consumes — freshly committed AND resumed ones — so a lost/truncated
    table fails HERE (CompletenessError) instead of surfacing as silently
    wrong counts three stages downstream. ``physical_recount=True``
    additionally re-counts the parquet files against the snapshot (one
    extra count job per stage; off by default)."""
    os.makedirs(warehouse, exist_ok=True)
    metrics_path = os.path.join(warehouse, "_metrics.jsonl")
    cur = source
    records = []
    for st in stages:
        tdir = os.path.join(warehouse, st.name)
        t0 = time.time()
        if resume and table_committed(tdir):
            if verify:
                check_completeness(tdir, spark if physical_recount else None)
            cur = read_table(spark, tdir)
            rec = {
                "stage": st.name, "skipped": True,
                "rows_out": read_snapshot(tdir)["rows"], "seconds": 0.0,
            }
        else:
            # the previous stage's rows_out is the snapshot row count of the
            # table ``cur`` was read from; only the source needs a count job
            rows_in = records[-1]["rows_out"] if records else cur.count()
            out = st.fn(cur)
            snap = commit_table(
                out, tdir, st.partition_by, st.derive_date_from,
                meta={"stage": st.name, "rows_in": rows_in},
            )
            if verify:
                check_completeness(tdir, spark if physical_recount else None)
            cur = read_table(spark, tdir)
            rec = {
                "stage": st.name, "skipped": False, "rows_in": rows_in,
                "rows_out": snap["rows"], "seconds": round(time.time() - t0, 3),
            }
        records.append(rec)
        with open(metrics_path, "a") as f:
            f.write(json.dumps(rec) + "\n")
    return cur, records
