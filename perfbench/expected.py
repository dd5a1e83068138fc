"""Expected survivors for each workload, computed apart from the timed pass.

* rpv2: DuckDB computes the repaired anti-join and the per-language
  ``quantile_cont`` threshold filter straight from the generated parquet;
  the fuzzy keep set is the min ``id_int`` of every planted component,
  with components rebuilt from the generator's band groups restricted to
  the threshold survivors (a removed doc can split a planted chain).
* pages: the explicit composition ``exact_keep_ids`` + semi join +
  ``fuzzy_dedup_keep_ids`` over the quality survivors of the pages,
  plus a planted check: the identical-text flood keeps at most one doc.
"""

from __future__ import annotations

import json
import os
import pickle
import sys

import duckdb
import numpy as np
from pyspark.sql import functions as F

from redpajama_v2_processing_spark.config import (
    DEFAULT_PROFILE, LANG_PROFILE, PROD_MINHASH, QUANTILE_PROFILES,
)
from redpajama_v2_processing_spark.operators.exact_dedup import exact_keep_ids
from redpajama_v2_processing_spark.operators.minhash_lsh import fuzzy_dedup_keep_ids
from redpajama_v2_processing_spark.plans.pipeline import label_documents

import gen


def _round6(expr: str) -> str:
    """floor(x*1e6 + 0.5)/1e6, the rounding the threshold operator applies."""
    return f"(floor(({expr}) * 1000000.0 + 0.5) / 1000000.0)"


def _quality_survivors_sql(root: str) -> str:
    def bound(c: str, side: int) -> str:
        cases = " ".join(
            f"WHEN lang = '{lang}' THEN "
            + _round6(f"quantile_cont({c}::DOUBLE, {QUANTILE_PROFILES[prof][side]})")
            for lang, prof in sorted(LANG_PROFILE.items())
        )
        default = _round6(
            f"quantile_cont({c}::DOUBLE, {QUANTILE_PROFILES[DEFAULT_PROFILE][side]})"
        )
        return f"CASE {cases} ELSE {default} END"

    th_cols = ", ".join(
        f"{bound(c, 0)} AS {c}_lo, {bound(c, 1)} AS {c}_hi" for c in gen.SIGNALS
    )
    conds = " AND ".join(
        f"e.{c} >= t.{c}_lo AND e.{c} <= t.{c}_hi" for c in gen.SIGNALS
    )
    return f"""
WITH sig AS (SELECT * FROM read_parquet('{root}/quality_signals/*.parquet')),
dups AS (
  SELECT DISTINCT regexp_replace(doc_id, '\\.json/', '.json.gz/', 'g') AS id
  FROM read_parquet('{root}/duplicates/*.parquet')
),
ex AS (SELECT * FROM sig s WHERE NOT EXISTS (SELECT 1 FROM dups d WHERE d.id = s.id)),
th AS (SELECT lang, {th_cols} FROM ex GROUP BY lang)
SELECT e.id FROM ex e JOIN th t USING (lang) WHERE {conds}
"""


def rpv2_expected(root: str, planted: gen.Rpv2Inputs) -> set[str]:
    tmp = os.path.join(root, "_duckdb_tmp")
    con = duckdb.connect(config={"temp_directory": tmp, "threads": 2})
    try:
        survivors = {r[0] for r in con.execute(_quality_survivors_sql(root)).fetchall()}
    finally:
        con.close()
    n = planted.n_docs
    alive = np.fromiter((i in survivors for i in planted.ids), bool, n)
    in_graph = np.flatnonzero(alive & ~planted.null_sig)

    parent = list(range(n))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for b in range(gen.N_BANDS):
        g = planted.band_group[in_graph, b]
        order = np.argsort(g, kind="stable")
        gs, members = g[order], in_graph[order]
        same = np.flatnonzero(gs[1:] == gs[:-1])
        for a, c in zip(members[same].tolist(), members[same + 1].tolist()):
            ra, rc = find(a), find(c)
            if ra != rc:
                parent[max(ra, rc)] = min(ra, rc)

    id_int = planted.id_int
    best: dict[int, int] = {}   # component root -> doc index with min id_int
    for i in in_graph.tolist():
        r = find(i)
        if r not in best or id_int[i] < id_int[best[r]]:
            best[r] = i
    keep = set(best.values())
    return {
        planted.ids[i] for i in np.flatnonzero(alive).tolist()
        if planted.null_sig[i] or i in keep
    }


def pages_expected(docs) -> set[int]:
    quality = label_documents(docs, "id_int", "text").where(F.col("keep")).persist()
    exact = quality.join(
        exact_keep_ids(quality, "id_int", "text"), "id_int", "left_semi"
    ).persist()
    fuzzy = fuzzy_dedup_keep_ids(
        exact, "id_int", "text", cfg=PROD_MINHASH, base="xxhash", salted=True
    ).withColumnRenamed("id", "id_int")
    rows = exact.join(fuzzy, "id_int", "left_semi").select("id_int", "url").collect()
    exact.unpersist()
    quality.unpersist()
    flood = sum(1 for r in rows if "/notice/" in r["url"])
    if flood > 1:
        raise AssertionError(f"identical-text flood kept {flood} docs")
    return {r["id_int"] for r in rows}


if __name__ == "__main__":
    # python3 expected.py <rpv2 root> <pickled gen.Rpv2Inputs>: prints the
    # expected rpv2 survivor ids as a JSON list
    with open(sys.argv[2], "rb") as f:
        inputs = pickle.load(f)
    json.dump(sorted(rpv2_expected(sys.argv[1], inputs)), sys.stdout)
