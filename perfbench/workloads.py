"""The benchmark's workloads.

Each workload generates its inputs from the seed (``generate``), runs
any traced staging the workload measures (``prepare``), runs one
untraced pass exactly as a user would call the program (``run_pass``),
replays the same pass layer by layer with every layer's output
materialized inside a span (``traced_pass``), and computes the expected
survivors (``compute_expected``).  Every pass returns the survivor ids,
which ``run.py`` compares with the expected ones.

Layers are the program's modules (layer map in LAYERS.md): scan, extract,
label, thresholds, exact, bands, edges, cc, keep, commit, engine.
"""

from __future__ import annotations

import json
import os
import pickle
import shutil
import subprocess
import sys

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from redpajama_v2_processing_spark.config import PROD_MINHASH
from redpajama_v2_processing_spark.operators.connected_components import (
    connected_components,
)
from redpajama_v2_processing_spark.operators.exact_dedup import (
    anti_join_duplicates,
)
from redpajama_v2_processing_spark.operators.minhash_lsh import (
    minhash_bands, salted_bucket_edges,
)
from redpajama_v2_processing_spark.operators.thresholds import (
    profiled_quantile_filter,
)
from redpajama_v2_processing_spark.plans.pipeline import (
    full_pipeline, label_documents,
)
from redpajama_v2_processing_spark.sources.pages import (
    pages_stages, read_pages, with_ids,
)
from redpajama_v2_processing_spark.sources.rpv2 import (
    _cc_key, filter_fuzzy_duplicates, fix_duplicate_ids, pre_banded_bands,
    read_rpv2_signatures, rpv2_keep_ids,
)
from redpajama_v2_processing_spark.tableio import (
    check_completeness, commit_table, read_table,
)

import expected
import gen
from sizes import PAGES_DOCS, PAGES_FLOOD_FRAC, RPV2_DOCS


HERE = os.path.dirname(os.path.abspath(__file__))
STAGING_PASS = -1  # pass id of the spans recorded while staging inputs


class _Materializer:
    """persist + count: runs a layer's plan once, inside the caller's span,
    and keeps the result for the next layer."""

    def __init__(self):
        self._held: list[DataFrame] = []

    def __call__(self, df: DataFrame, span) -> DataFrame:
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        self._held.append(df)
        span.rows_out += df.count()
        return df

    def release(self) -> None:
        for df in self._held:
            df.unpersist()
        self._held.clear()


def _fuzzy_layers(tr, pid, mat, docs: DataFrame, bands_fn):
    """bands -> edges -> cc, each in its own span.  Returns the CC frame
    (id, root) and a function that fills in the edges and cc extras; those
    counts need jobs of their own, so call it after the engine span closes
    and before the materialized frames are released."""
    with tr.span("bands", pid) as sp:
        bands = mat(bands_fn(docs), sp)
    with tr.span("edges", pid) as edges_sp:
        edges = mat(salted_bucket_edges(bands), edges_sp)
    with tr.span("cc", pid) as cc_sp:
        cc = connected_components(edges)
        cc_sp.rows_out = cc.count()

    def extras() -> None:
        edges_sp.extra["count"] = edges_sp.rows_out
        edges_sp.extra["max_bucket"] = (
            bands.groupBy("band_idx", "band_hash").count()
            .agg(F.max("count")).first()[0]
        )
        cc_sp.extra["components"] = cc.select("root").distinct().count()

    return cc, extras


class PagesFused:
    """plans.pipeline.full_pipeline over generated pages.

    Every pass reads the raw pages, derives ``id_int`` from the url as the
    program's extract stage does (``with_ids``) and runs full_pipeline on
    the generated text.  The traced run also stages the raw pages once
    through the program's extract stage and commit path, in extract and
    commit spans, so that those layers are measured; no pass reads that
    table."""

    name = "pages_fused"

    def __init__(self, work: str):
        self.raw = os.path.join(work, "pages")
        self.staged = os.path.join(work, "staged", "extract")
        self.n_docs = 0
        self.expected: set | None = None

    def generate(self, seed: int) -> None:
        shutil.rmtree(self.raw, ignore_errors=True)
        self.n_docs = gen.write_pages(self.raw, PAGES_DOCS, seed, PAGES_FLOOD_FRAC)

    def docs(self, spark) -> DataFrame:
        return with_ids(read_pages(spark, self.raw).drop("html"))

    def prepare(self, spark, tr=None) -> None:
        """With a tracer: extract and commit the raw pages, as run_stages
        does with its first stage, in extract and commit spans."""
        if tr is None:
            return
        stage = pages_stages()[0]
        mat = _Materializer()
        with tr.span("extract", STAGING_PASS) as sp:
            out = mat(stage.fn(read_pages(spark, self.raw)), sp)
        with tr.span("commit", STAGING_PASS) as sp:
            commit_table(out, self.staged, stage.partition_by, stage.derive_date_from,
                         meta={"stage": stage.name})
            check_completeness(self.staged)
            sp.rows_out = read_table(spark, self.staged).count()
        mat.release()
        files = [os.path.join(root, nm) for root, _dirs, names in os.walk(self.staged)
                 for nm in names if nm.endswith(".parquet")]
        sp.extra.update(bytes=sum(map(os.path.getsize, files)) / 1e6, files=len(files))

    def compute_expected(self, spark) -> None:
        self.expected = expected.pages_expected(self.docs(spark))

    def run_pass(self, spark) -> set:
        out = full_pipeline(self.docs(spark), "id_int", "text")
        return {r[0] for r in out.select("id_int").collect()}

    def traced_pass(self, spark, tr, pid: int) -> set:
        """full_pipeline's steps as the public calls they match: the label
        stage, full_pipeline's min-id-per-fingerprint window, bands, salted
        edges, CC and the left-join keep."""
        mat = _Materializer()
        with tr.span("engine", pid) as eng:
            with tr.span("scan", pid) as sp:
                docs = mat(self.docs(spark), sp)
            with tr.span("label", pid) as lab_sp:
                labeled = mat(
                    label_documents(docs, "id_int", "text").where(F.col("keep")),
                    lab_sp,
                )
            with tr.span("exact", pid) as sp:
                w = Window.partitionBy("fingerprint").orderBy(F.col("id_int").asc())
                surv = mat(
                    labeled.withColumn("_rn", F.row_number().over(w))
                    .where(F.col("_rn") == 1).drop("_rn"),
                    sp,
                )
                sp.extra["removed"] = lab_sp.rows_out - sp.rows_out
            cc, fuzzy_extras = _fuzzy_layers(
                tr, pid, mat, surv,
                lambda d: minhash_bands(d, "id_int", "text", PROD_MINHASH, "xxhash"),
            )
            with tr.span("keep", pid) as sp:
                out = (
                    surv.join(cc.withColumnRenamed("id", "id_int"), "id_int", "left")
                    .where(F.coalesce("root", F.col("id_int")) == F.col("id_int"))
                )
                ids = {r[0] for r in out.select("id_int").collect()}
                sp.rows_out = len(ids)
            eng.rows_out = len(ids)
        fuzzy_extras()
        mat.release()
        return ids


class Rpv2Prebanded:
    """Reference stages 2-4 over precomputed tables: exact anti-join with
    id repair, profiled quantile filter, pre-banded fuzzy dedup."""

    name = "rpv2_prebanded"

    def __init__(self, work: str):
        self.root = os.path.join(work, "rpv2")
        self.n_docs = 0
        self.expected: set | None = None
        self._planted = None

    def generate(self, seed: int) -> None:
        shutil.rmtree(self.root, ignore_errors=True)
        self._planted = gen.write_rpv2(self.root, RPV2_DOCS, seed)
        self.n_docs = self._planted.n_docs

    def prepare(self, spark, tr=None) -> None:
        pass  # the program reads the generated tables as they are

    def compute_expected(self, spark) -> None:
        # in a child process, so that the checker's DuckDB query and
        # union-find stay out of the driver's memory
        planted = os.path.join(self.root, "_planted.pickle")
        with open(planted, "wb") as f:
            pickle.dump(self._planted, f)
        out = subprocess.run(
            [sys.executable, expected.__file__, self.root, planted],
            capture_output=True, text=True, check=True,
            env={**os.environ, "PYTHONPATH": os.path.dirname(HERE)},
        )
        self.expected = set(json.loads(out.stdout))

    def _read(self, spark):
        sig = spark.read.parquet(os.path.join(self.root, "quality_signals"))
        mh = read_rpv2_signatures(spark, os.path.join(self.root, "minhash"), "0.8")
        dups = spark.read.parquet(os.path.join(self.root, "duplicates"))
        return sig, mh, dups

    def run_pass(self, spark) -> set:
        sig, mh, dups = self._read(spark)
        ex = anti_join_duplicates(sig, fix_duplicate_ids(dups, "doc_id"), "id", "doc_id")
        q = profiled_quantile_filter(ex, list(gen.SIGNALS), "lang", exact=True)
        keep = rpv2_keep_ids(mh.join(q.select("id"), "id", "left_semi"), salted=True)
        out = filter_fuzzy_duplicates(q, keep, "id")
        return {r[0] for r in out.select("id").collect()}

    def traced_pass(self, spark, tr, pid: int) -> set:
        mat = _Materializer()
        with tr.span("engine", pid) as eng:
            with tr.span("scan", pid) as sp:
                sig, mh, dups = self._read(spark)
                sig = mat(sig, sp)
                n_sig = sp.rows_out
                mh, dups = mat(mh, sp), mat(dups, sp)
            with tr.span("exact", pid) as sp:
                ex = mat(anti_join_duplicates(
                    sig, fix_duplicate_ids(dups, "doc_id"), "id", "doc_id"), sp)
                sp.extra["removed"] = n_sig - sp.rows_out
            with tr.span("thresholds", pid) as sp:
                q = mat(profiled_quantile_filter(ex, list(gen.SIGNALS), "lang",
                                                 exact=True), sp)
            with tr.span("keep", pid) as sp:
                sub = mat(mh.join(q.select("id"), "id", "left_semi"), sp)
            cc, fuzzy_extras = _fuzzy_layers(tr, pid, mat, sub, pre_banded_bands)
            with tr.span("keep", pid) as sp:
                # rpv2_keep_ids' keep rule: root == own CC key (or no root)
                keyed = sub.select("id", _cc_key(sub).alias("_k"))
                keep = (
                    keyed.join(cc, keyed["_k"] == cc["id"], "left")
                    .where(F.coalesce("root", F.col("_k")) == F.col("_k"))
                    .select(keyed["id"])
                )
                out = filter_fuzzy_duplicates(q, keep, "id")
                ids = {r[0] for r in out.select("id").collect()}
                sp.rows_out = len(ids)
            eng.rows_out = len(ids)
        fuzzy_extras()
        mat.release()
        return ids


WORKLOADS = {w.name: w for w in (PagesFused, Rpv2Prebanded)}

