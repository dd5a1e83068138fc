"""Plan-quality gates (SURVEY.md §7 hard parts): no row-at-a-time Python
anywhere, filters/projections pushed to the parquet scan, broadcast joins
where intended, partition-count invariance of results."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from redpajama_v2_processing_spark.fixtures import write_pages
from redpajama_v2_processing_spark.plans.pipeline import label_documents
from redpajama_v2_processing_spark.operators.minhash_lsh import minhash_bands
from redpajama_v2_processing_spark.functions.signals import with_signals


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _plan_nodes(df) -> list[str]:
    """Node names of the executed plan, walked as a tree: adaptive plans by
    their current plan, query stages by their plan, and cached relations by
    their cached plan. Each node counts once (the string form prints an
    executed adaptive plan's initial plan as well)."""
    names, todo = [], [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        name = node.nodeName()
        names.append(name)
        if name == "AdaptiveSparkPlan":
            todo.append(node.executedPlan())
        elif name.endswith("QueryStage"):
            todo.append(node.plan())
        else:
            for seq in (node.children(), node.innerChildren()):
                todo.extend(seq.apply(i) for i in range(seq.size()))
    return names


def test_no_python_eval_in_core_pipeline(pages_small):
    """The entire label pipeline must stay JVM-side: zero Python eval nodes
    (the reference is 100% per-row Python; our contract is 0%)."""
    plan = _physical(label_documents(pages_small, id_col="url"))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan  # not even vectorized python needed
    plan2 = _physical(minhash_bands(pages_small, "url"))
    assert "EvalPython" not in plan2


def test_minhash_bands_plan_budget(pages_small):
    """The production MinHash bands are one narrow map: the shingle hashes
    cross into Python once per Arrow batch (one MapInArrow), and no
    Exchange, hash aggregate or per-row Python eval is planned."""
    from redpajama_v2_processing_spark.config import PROD_MINHASH

    nodes = _plan_nodes(minhash_bands(pages_small, "url", cfg=PROD_MINHASH, base="xxhash"))
    assert nodes.count("Exchange") == 0, nodes
    assert nodes.count("MapInArrow") == 1, nodes
    assert "HashAggregate" not in nodes, nodes
    assert not any("EvalPython" in n for n in nodes), nodes


def test_scan_pushdown(spark, tmp_path):
    src = str(tmp_path / "pp")
    write_pages(spark, src, n_rows=100, seed=5, partitions=2)
    df = spark.read.parquet(src).where(F.col("lang") == "en").select("url", "lang")
    plan = _physical(df)
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]" in plan
    # column pruning: html/text must not be read
    assert "ReadSchema: struct<url:string,lang:string>" in plan


def _threshold_signals(spark, path, n_signals=2):
    """A parquet-backed signal table: three languages (one NULL) and
    ``n_signals`` double signals s0..s{n-1}."""
    cols = [f"s{k}" for k in range(n_signals)]
    rows = [
        (i, ("en", "de", None)[i % 3], *[float((i * (k + 3)) % 17) for k in range(n_signals)])
        for i in range(120)
    ]
    spark.createDataFrame(
        rows, "doc_id long, lang string, " + ", ".join(f"{c} double" for c in cols)
    ).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path), cols


def _group_jobs(sc, group, call):
    """(call(), number of Spark jobs it ran), counted by job group."""
    try:
        sc.setJobGroup(group, group)
        out = call()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setJobDescription(None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_threshold_join_is_broadcast(spark, tmp_path):
    """The thresholds reach every task without shuffling the rows they
    filter. Both filters, exact and approximate, return the input scan plus
    a Filter on literal bounds: no Exchange, no Join (broadcast or shuffled)
    and no Aggregate, so no consumer re-runs the aggregation and no shuffle
    sees the rows the thresholds drop. Measured with the bounds as a
    broadcast join against the aggregate: 2 scans, an Exchange, a
    BroadcastExchange, a BroadcastHashJoin and 2 ObjectHashAggregates in
    the returned plan, re-run by every consumer."""
    from redpajama_v2_processing_spark.operators import thresholds

    sig, cols = _threshold_signals(spark, str(tmp_path / "sig"))
    for exact in (True, False):
        for op in (thresholds.profiled_quantile_filter, thresholds.quantile_filter):
            out = op(sig, cols, exact=exact)
            nodes = _plan_nodes(out)
            assert sum("Scan" in n for n in nodes) == 1, (op.__name__, exact, nodes)
            assert "Filter" in nodes, (op.__name__, exact, nodes)
            for kind in ("Exchange", "Join", "Aggregate"):
                assert not any(kind in n for n in nodes), (op.__name__, exact, kind, nodes)
            assert 0 < out.count() < sig.count()


def test_profiled_thresholds_single_pass(spark, tmp_path):
    """Both threshold filters compute every profile's percentiles in ONE
    grouped aggregation, not one filtered scan per language, and run it
    once, when called: as many jobs as collecting the bound table alone
    (2 here, a shuffle-map job and a result job), whatever the language
    count. The returned plan scans the source exactly once. Measured with
    the bounds as a broadcast join: 0 jobs at the call and 2 scans in the
    returned plan, the aggregation re-run by every consumer."""
    from redpajama_v2_processing_spark.operators import thresholds

    sc = spark.sparkContext
    sig, cols = _threshold_signals(spark, str(tmp_path / "sig"))
    for exact in (True, False):
        _, agg_jobs = _group_jobs(sc, f"threshold-table-{exact}", lambda: (
            thresholds._quantile_table(sig, cols, "lang", [(0.1, 0.9)], exact, 6).collect()
        ))
        assert agg_jobs >= 1
        for op in (thresholds.profiled_quantile_filter, thresholds.quantile_filter):
            out, jobs = _group_jobs(sc, f"{op.__name__}-{exact}", lambda: op(sig, cols, exact=exact))
            assert jobs == agg_jobs, (op.__name__, exact, jobs, agg_jobs)
            nodes = _plan_nodes(out)
            assert sum("Scan" in n for n in nodes) == 1, (op.__name__, exact, nodes)


def _py4j_build_calls(spark, build) -> int:
    """py4j commands Python sends the JVM while ``build()`` runs. py4j's
    object-release commands are not counted: they go out whenever Python's
    garbage collector frees earlier Java references."""
    import gc

    client = type(spark.sparkContext._gateway._gateway_client)
    send = client.send_command
    sent = []

    def counting(self, command, *args, **kwargs):
        sent.append(command)
        return send(self, command, *args, **kwargs)

    gc.collect()
    client.send_command = counting
    try:
        build()
    finally:
        client.send_command = send
    return sum(not c.startswith("m\nd\n") for c in sent)


def test_threshold_filter_py4j_build_budget(spark, tmp_path, pages_small):
    """py4j commands Python sends the JVM to build each threshold filter over
    15 signals, its one collected aggregation included: measured 81 for
    both, built from SQL strings (pinned with ~10 % headroom); measured
    ~11k (profiled) and ~5k with per-column Column trees and a broadcast
    join. The same count pins two wide projections: ``label_documents``
    on ``pages_small`` (measured 3,324 over one shared token staging;
    3,514 with langid staging its own tokens and a per-language CASE
    ladder) and the production ``minhash_bands`` (measured 1,360 with
    xxhash and 1,540 with md5, one ``slice`` per band hash; 5,356 / 5,536
    with one element expression per signature entry)."""
    from redpajama_v2_processing_spark.config import PROD_MINHASH
    from redpajama_v2_processing_spark.operators import thresholds

    sig, cols = _threshold_signals(spark, str(tmp_path / "sig"), n_signals=15)
    calls = {
        op.__name__: _py4j_build_calls(spark, lambda: op(sig, cols, exact=True))
        for op in (thresholds.profiled_quantile_filter, thresholds.quantile_filter)
    }
    calls["label_documents"] = _py4j_build_calls(
        spark, lambda: label_documents(pages_small, id_col="url")
    )
    for base in ("xxhash", "md5"):
        calls[f"minhash_bands_{base}"] = _py4j_build_calls(
            spark, lambda: minhash_bands(pages_small, "url", cfg=PROD_MINHASH, base=base)
        )
    assert calls["profiled_quantile_filter"] <= 90, calls
    assert calls["quantile_filter"] <= 90, calls
    assert calls["label_documents"] <= 3650, calls
    assert calls["minhash_bands_xxhash"] <= 1500, calls
    assert calls["minhash_bands_md5"] <= 1700, calls


def _plan_exprs(df) -> list:
    """Every expression node of the optimized logical plan, each counted
    once, walked as trees (the plan string truncates long expressions)."""
    def seq(s):
        return [s.apply(i) for i in range(s.size())]

    nodes, todo, exprs = [df._jdf.queryExecution().optimizedPlan()], [], []
    while nodes:
        node = nodes.pop()
        nodes.extend(seq(node.children()))
        todo.extend(seq(node.expressions()))
    while todo:
        e = todo.pop()
        exprs.append(e)
        todo.extend(seq(e.children()))
    return exprs


def _count_exprs(exprs, name, value=None, arg=None) -> int:
    """Expressions named ``name`` that (or whose child ``arg``) print as
    ``value``, if given."""
    return sum(
        e.nodeName() == name and (value is None or (
            e if arg is None else e.children().apply(arg)).toString() == value)
        for e in exprs
    )


def test_label_stage_stages_each_value_once(pages_small):
    """The label stage tokenizes each document once, builds its joined-token
    string once and counts each language's lexicon once: in the optimized
    plan of ``label_documents`` there is exactly one ``\\s+`` split, one
    joined-token ``concat_ws`` and one literal per ``LANG_MARKERS`` pattern.
    Measured 2 / 2 / 9 with langid staging its own tokens and choosing the
    label with a per-language CASE ladder (Spark shares no subexpression
    across CASE branches)."""
    from redpajama_v2_processing_spark.config import LANG_MARKERS

    exprs = _plan_exprs(label_documents(pages_small, id_col="url"))
    assert _count_exprs(exprs, "StringSplit", r"\s+", arg=1) == 1
    assert _count_exprs(exprs, "ConcatWs", "  ", arg=0) == 1
    for lang, lexicon in LANG_MARKERS.items():
        assert _count_exprs(exprs, "Literal", " (" + "|".join(lexicon) + ") ") == 1, lang


def test_langid_prunes_unread_staging(pages_small):
    """``with_langid`` reads the shared token staging; the staged columns
    it does not read are pruned from its plan: no line split and no
    n-gram array, only the token split and the lexicon counts."""
    from redpajama_v2_processing_spark.functions.langid import with_langid

    exprs = _plan_exprs(with_langid(pages_small).select("langid"))
    assert _count_exprs(exprs, "StringSplit") == 1
    assert _count_exprs(exprs, "StringSplit", r"\s+", arg=1) == 1
    assert _count_exprs(exprs, "RegExpExtractAll") > 0
    for ngram_expr in ("Sequence", "transform", "zip_with", "Slice"):
        assert _count_exprs(exprs, ngram_expr) == 0, ngram_expr


_IVF_FAMILY = [
    "ann_ivf_topk", "ann_ivf_trained_topk", "ann_ivf_pq_topk",
    "ann_ivf_pq_residual_topk", "semdedup_assign",
]


@pytest.mark.parametrize("name", _IVF_FAMILY)
def test_ivf_assign_has_no_window_exchange(spark, name):
    """Cell assignment (ann._nearest_cell) must be a grouped argmin
    (partial agg, map-side combine), never a row_number window
    over the K*n joined rows: at corpus scale the window exchange would
    dominate the plan. The query's cell probe (ann._probe, keyed on the
    cell) must be a broadcast semi-join in the initial plan, never a
    SortMergeJoin; semdedup_assign has no probe, and its cell join is the
    broadcast centroid cross join."""
    from redpajama_v2_processing_spark.operators import ann, pq, semdedup

    df = spark.createDataFrame(
        [(i, i % 3, [float(i), 1.0, 0.5, -0.25]) for i in range(30)],
        "vec_id long, label long, embedding array<float>",
    )
    q = [1.0, 0.0, 0.0, 0.0]
    pq_args = dict(k_cells=3, cell_iters=1, m=2, k_codes=4, pq_iters=1,
                   n_probe=2, dim=4, k=5)
    calls = {
        "ann_ivf_topk": lambda: ann.ann_ivf_topk(df, q, n_probe=2, k=5),
        "ann_ivf_trained_topk": lambda: ann.ann_ivf_trained_topk(
            df, q, k_cells=3, iters=1, n_probe=2, k=5
        ),
        "ann_ivf_pq_topk": lambda: pq.ann_ivf_pq_topk(df, q, **pq_args),
        "ann_ivf_pq_residual_topk": lambda: pq.ann_ivf_pq_residual_topk(
            df, q, **pq_args
        ),
        "semdedup_assign": lambda: semdedup.semdedup_assign(
            df, k_cells=3, iters=1, dim=4
        ),
    }
    out = calls[name]()
    assert "Window" not in _physical(out)
    initial = out._jdf.queryExecution().executedPlan().initialPlan()
    nodes = list(_walk(initial, lambda n: n.children()))
    names = [n.nodeName() for n in nodes]
    probes = [
        n.nodeName() for n in nodes
        if n.nodeName().endswith("Join") and n.joinType().toString() == "LeftSemi"
        and n.leftKeys().apply(0).toString().split("#")[0] in ("cid", "_cell")
    ]
    if name == "semdedup_assign":
        assert probes == [], names
        assert "BroadcastNestedLoopJoin" in names, names
        assert "SortMergeJoin" not in names, names
    else:
        assert probes == ["BroadcastHashJoin"], names


@pytest.mark.parametrize("name", ["ann_ivf_topk", "ann_ivf_trained_topk"])
def test_ivf_probe_precedes_the_vector_fetch(spark, name):
    """IVF-Flat top-k probes the cell assignment before it reads any vector
    back. Below the probe semi-join the one join is the nearest-cell join
    against the broadcast cells, and no join fetches the corpus's vector
    column by id: that fetch used to sit there, broadcasting every vector
    (or, on a frame of unknown size like this one, shuffling every vector
    in a SortMergeJoin) to rerank n_probe of K cells. The vectors are
    fetched above the probe, by a broadcast semi-join whose build side is
    the probed ids alone."""
    from redpajama_v2_processing_spark.operators import ann

    df = spark.createDataFrame(
        [(i, i % 3, [float(i), 1.0, 0.5, -0.25]) for i in range(30)],
        "vec_id long, label long, embedding array<float>",
    )
    q = [1.0, 0.0, 0.0, 0.0]
    calls = {
        "ann_ivf_topk": lambda: ann.ann_ivf_topk(df, q, n_probe=2, k=5),
        "ann_ivf_trained_topk": lambda: ann.ann_ivf_trained_topk(
            df, q, k_cells=3, iters=1, n_probe=2, k=5
        ),
    }
    initial = calls[name]()._jdf.queryExecution().executedPlan().initialPlan()
    nodes = list(_walk(initial, lambda n: n.children()))

    def semi_joins(key):
        return [
            n for n in nodes
            if n.nodeName().endswith("Join") and n.joinType().toString() == "LeftSemi"
            and n.leftKeys().apply(0).toString().split("#")[0] == key
        ]

    def output(node):
        out = node.output()
        return [out.apply(i) for i in range(out.size())]

    [probe], [fetch] = semi_joins("cid"), semi_joins("vec_id")
    below = [n for side in (probe.left(), probe.right())
             for n in _walk(side, lambda n: n.children())
             if n.nodeName().endswith("Join")]
    assert [n.nodeName() for n in below] == ["BroadcastNestedLoopJoin"], below
    for j in below:
        assert "embedding" not in [a.name() for a in output(j)]
    assert fetch.nodeName() == "BroadcastHashJoin"
    build = fetch.right()
    assert [a.dataType().typeName() for a in output(build)] == ["long"]
    assert any(n.equals(probe) for n in _walk(build, lambda n: n.children()))


def test_star_dedup_plans_have_no_cartesian(spark):
    """The star-edge dedup paths must stay equi-join shaped: no cartesian
    or broadcast-nested-loop fallback anywhere in either plan."""
    from redpajama_v2_processing_spark.operators.ann import (
        embedding_dedup_star_keep,
    )
    from redpajama_v2_processing_spark.operators.simhash_dedup import (
        simhash_dedup_keep,
    )

    docs = spark.createDataFrame(
        [(i, f"doc {i} words tokens here") for i in range(20)],
        "doc_id long, text string",
    )
    p1 = _physical(simhash_dedup_keep(docs, "doc_id", bits=60, band_bits=15))
    emb = spark.createDataFrame(
        [(i, [float(i % 7), 1.0, -0.5, 0.25]) for i in range(20)],
        "vec_id long, embedding array<double>",
    )
    p2 = _physical(
        embedding_dedup_star_keep(emb, 0.95, dim=4, nbits=8, band_bits=4)
    )
    for plan in (p1, p2):
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


def _edges_into_cc(monkeypatch, call):
    """The edge frame a keep-list hands to connected_components, captured
    while ``call()`` runs (the keep-list's own plan only reads CC's
    materialized labels)."""
    from redpajama_v2_processing_spark.operators import connected_components as ccm

    seen, cc = [], ccm.connected_components

    def spy(edges, *args, **kwargs):
        seen.append(edges)
        return cc(edges, *args, **kwargs)

    monkeypatch.setattr(ccm, "connected_components", spy)
    call().count()
    assert len(seen) == 1
    return seen[0]


def _nodes_above_banded_scan(df) -> list[list[str]]:
    """For each scan of the banded checkpoint (an ExistingRDD scan with a
    band_idx column), the node names from that scan up to the first
    HashAggregate above it — the edge distinct's partial aggregation."""
    paths, todo = [], [(df._jdf.queryExecution().executedPlan(), [])]
    while todo:
        node, above = todo.pop()
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            todo.append((node.executedPlan(), above))
            continue
        kids = node.children()
        if kids.size() == 0:
            out = node.output()
            cols = {out.apply(i).name() for i in range(out.size())}
            if "ExistingRDD" in name and "band_idx" in cols:
                path = []
                for n in reversed(above):
                    if n == "HashAggregate":
                        break
                    path.append(n)
                paths.append(path)
        todo.extend((kids.apply(i), above + [name]) for i in range(kids.size()))
    return paths


def test_star_keep_plans_window_not_join(spark, monkeypatch):
    """The star keep-lists build their bucket-min edges with one window
    over the banded checkpoint (minhash_lsh.candidate_edges): no join
    between that checkpoint and the edge distinct. Exchanges in the edge
    plan handed to CC, on this session (4 shuffle partitions, 4 cores):
    simhash 2 (band shuffle + distinct), embedding 6 (those two, then
    two per vector re-join of the cosine verify; the candidate
    repartition coincides with the distinct's exchange here). The
    groupBy+join bucket-min form measured 3 and 7, with a SortMergeJoin
    on the bucket key."""
    from redpajama_v2_processing_spark.operators.ann import (
        embedding_dedup_star_keep,
    )
    from redpajama_v2_processing_spark.operators.simhash_dedup import (
        simhash_dedup_keep,
    )

    docs = spark.createDataFrame(
        [(i, f"doc {i % 5} words tokens here") for i in range(20)],
        "doc_id long, text string",
    )
    emb = spark.createDataFrame(
        [(i, [float(i % 7), 1.0, -0.5, 0.25]) for i in range(20)],
        "vec_id long, embedding array<double>",
    )
    cases = {
        "simhash": (
            lambda: simhash_dedup_keep(docs, "doc_id", bits=60, band_bits=15), 2
        ),
        "embedding": (
            lambda: embedding_dedup_star_keep(emb, 0.95, dim=4, nbits=8, band_bits=4),
            6,
        ),
    }
    # other modules' get_spark calls reset the shared session's partitions
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        for label, (call, exchanges) in cases.items():
            edges = _edges_into_cc(monkeypatch, call)
            paths = _nodes_above_banded_scan(edges)
            assert len(paths) == 1, (label, paths)
            assert "Window" in paths[0], (label, paths)
            assert not [n for n in paths[0] if n.endswith("Join")], (label, paths)
            assert _plan_nodes(edges).count("Exchange") == exchanges, label
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_whole_stage_codegen_covers_signals(pages_small):
    plan = _physical(with_signals(pages_small).select("url", "number_of_words"))
    # "*(n)" prefixes mark WholeStageCodegen stages in the short plan form
    assert "*(1)" in plan


def test_decontaminate_probe_is_broadcast(spark):
    """The benchmark n-gram membership probe must be a broadcast hash
    join (the benchmark side is tiny vs the corpus) with no cartesian
    fallback and no Python eval anywhere."""
    from redpajama_v2_processing_spark.operators.decontaminate import (
        contaminated_ids,
    )

    docs = spark.createDataFrame(
        [(i, "word " * 20 + str(i)) for i in range(30)],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([(0, "word " * 15)], "bid long, text string")
    plan = _physical(contaminated_ids(docs, bench, "doc_id"))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan


def test_pq_adc_scan_is_broadcast_and_native(spark):
    """PQ ADC: the m x k lookup-table join must broadcast, and the whole
    train/encode/score program stays JVM-side (zero Python eval)."""
    from redpajama_v2_processing_spark.operators.pq import ann_pq_topk

    emb = spark.createDataFrame(
        [(i, [float((i * 3 + j) % 7) for j in range(8)]) for i in range(24)],
        "vec_id long, embedding array<double>",
    )
    plan = _physical(ann_pq_topk(emb, [1.0] * 8, m=2, k_codes=4, iters=1, dim=8))
    assert "BroadcastHashJoin" in plan
    assert "EvalPython" not in plan


def test_full_pipeline_frees_intermediate_cache(spark, pages_small):
    """full_pipeline must not leave an intermediate persisted after the
    call and an action over its result: the only new persistent RDD is
    the survivors checkpoint the returned plan reads (context-cleaned when
    the DataFrame is dropped) — a long-lived session running many
    pipelines must not accumulate caches."""
    from redpajama_v2_processing_spark.operators.connected_components import (
        _persistent_ids,
    )
    from redpajama_v2_processing_spark.plans.pipeline import full_pipeline

    sc = spark.sparkContext
    docs = pages_small.select(
        F.xxhash64("url").alias("doc_id"), "text", "lang"
    )
    before = _persistent_ids(sc)
    out = full_pipeline(docs)
    assert out.count() > 0
    new = _persistent_ids(sc) - before
    # exactly the survivors checkpoint survives; CC's rounds are gone
    assert len(new) <= 1


def test_full_pipeline_plan_budget(spark, pages_small):
    """Plan budget of the headline job. The returned plan is the survivors
    checkpoint's scan and one BroadcastExchange, with no shuffle Exchange:
    the fuzzy keep join is a BroadcastHashJoin against the driver-side CC
    label frame, so the survivors are not shuffled for it (measured: 3
    shuffle Exchanges and a SortMergeJoin while that frame was not
    broadcast). No cartesian product and no Python eval node in the keep
    plan. The survivors checkpoint's own plan holds the one shuffle
    Exchange (the exact stage's fingerprint window). Python does run in
    the job, once per Arrow batch: the MinHash signature ``MapInArrow``
    sits in the bands subplan that feeds connected components, which is
    materialized before this plan is built (its budget is
    test_minhash_bands_plan_budget)."""
    from redpajama_v2_processing_spark.plans.pipeline import (
        corpus_stages, full_pipeline,
    )

    docs = pages_small.select(F.xxhash64("url").alias("doc_id"), "text", "lang")
    nodes = _plan_nodes(full_pipeline(docs))
    assert nodes.count("Scan ExistingRDD") == 1, nodes
    assert nodes.count("Exchange") == 0, nodes
    assert nodes.count("BroadcastExchange") == 1, nodes
    assert [n for n in nodes if n.endswith("Join")] == ["BroadcastHashJoin"], nodes
    assert "CartesianProduct" not in nodes
    assert not any("EvalPython" in n for n in nodes), nodes
    survivors = docs
    for st in corpus_stages()[:-1]:
        survivors = st.fn(survivors)
    nodes = _plan_nodes(survivors)
    assert nodes.count("Exchange") == 1, nodes
    assert "BroadcastExchange" not in nodes, nodes


def test_full_pipeline_task_budget(spark, pages_small):
    """Spark jobs and tasks of one full_pipeline call plus one collect of
    its result on pages_small, counted by job group (local[4], 4 shuffle
    partitions). The exact survivors are one checkpoint that the result's
    anti join reads, the driver-path CC labels are one broadcast
    partition, and the MinHash bands are a narrow map (no ``groupBy(id)``
    exchange): 8 jobs and 11 tasks. While the survivors were a cache that
    the call freed after checkpointing its result eagerly, the call alone
    ran 8 jobs and 11 tasks (9 and 12 with this collect); with the
    signature minima taken in a 117-column ``groupBy(id)`` aggregate as
    well, the call ran 9 jobs and 12 tasks; while every stage reading that
    cache ran ``shuffle.partitions`` tasks and the keep join shuffled both
    sides, 11 jobs and 26 tasks."""
    from redpajama_v2_processing_spark.plans.pipeline import full_pipeline

    sc = spark.sparkContext
    docs = pages_small.select(F.xxhash64("url").alias("doc_id"), "text", "lang")
    group = "full-pipeline-task-budget"
    try:
        sc.setJobGroup(group, group)
        full_pipeline(docs).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setJobDescription(None)
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    tasks = sum(
        tracker.getStageInfo(stage).numCompletedTasks
        for job in jobs for stage in tracker.getJobInfo(job).stageIds
    )
    assert (len(jobs), tasks) == (8, 11)


def test_rpv2_keep_semi_join_broadcasts_before_aqe(spark, tmp_path):
    """The initial (pre-AQE) plan of filter_fuzzy_duplicates over an
    rpv2_keep_ids keep-list broadcasts the keep-list: no SortMergeJoin and
    no shuffle Exchange. keep_min_id's anti join is estimated at its
    candidates' size; with the left join + ``coalesce(root, id) == id``
    rule the keep-list was estimated at the product of the candidates' and
    the labels' sizes (~450 MB here, over the 64 MB broadcast threshold),
    so the semi-join was planned as a SortMergeJoin that shuffled both
    sides before AQE could demote it."""
    from redpajama_v2_processing_spark.sources.rpv2 import (
        filter_fuzzy_duplicates, rpv2_keep_ids,
    )

    n, did = 2000, F.col("id")
    spark.range(n).select(
        did.cast("string").alias("id"), did.alias("id_int"),
        F.array(*[
            F.encode(F.concat(F.lit(f"{b}#"), (did % 97 if b < 3 else did)
                              .cast("string")), "utf-8")
            for b in range(5)
        ]).alias("signature"),
    ).write.parquet(str(tmp_path / "minhash"))
    spark.range(n).select(
        did.cast("string").alias("id"), (did * 2).alias("x")
    ).write.parquet(str(tmp_path / "signals"))
    q = spark.read.parquet(str(tmp_path / "signals"))
    keep = rpv2_keep_ids(spark.read.parquet(str(tmp_path / "minhash")))
    out = filter_fuzzy_duplicates(q, keep, "id")
    initial = out._jdf.queryExecution().executedPlan().initialPlan()
    nodes = list(_walk(initial, lambda n: n.children()))
    names = [n.nodeName() for n in nodes]
    assert "SortMergeJoin" not in names, names
    assert "Exchange" not in names, names
    semi = [n for n in nodes if n.nodeName().endswith("Join")
            and n.joinType().toString() == "LeftSemi"]
    assert [n.nodeName() for n in semi] == ["BroadcastHashJoin"], names
    assert {r.id for r in out.collect()} == {str(i) for i in range(97)}


def test_keep_best_broadcasts_labels_not_scored_docs(spark, tmp_path):
    """fuzzy_dedup_keep_best joins the scored docs to the CC labels: in
    the initial plan that join broadcasts the (small) labels, never the
    corpus-wide scored side, and no SortMergeJoin shuffles the corpus.
    Joined against fuzzy_dedup_labels' left join instead, the labels were
    sized at the product of the ids and the labels, so a parquet-backed
    corpus was broadcast (BroadcastHashJoin Inner, BuildLeft). The keep
    set is the longest member per component, ties to the smaller id."""
    from redpajama_v2_processing_spark.operators.minhash_lsh import (
        fuzzy_dedup_keep_best, fuzzy_dedup_labels,
    )

    words = [f"w{c}_{j}" for c in range(4) for j in range(30)]
    rows = [
        (c * 10 + m, " ".join(words[c * 30:(c + 1) * 30]) + " pad" * (m % 3))
        for c in range(4) for m in range(4)
    ] + [(100 + i, f"singleton {i} " * 12) for i in range(4)]
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        str(tmp_path / "docs")
    )
    docs = spark.read.parquet(str(tmp_path / "docs"))
    out = fuzzy_dedup_keep_best(docs, "doc_id", F.length("text"))
    initial = out._jdf.queryExecution().executedPlan().initialPlan()
    nodes = list(_walk(initial, lambda n: n.children()))
    names = [n.nodeName() for n in nodes]
    assert "SortMergeJoin" not in names, names
    built = []
    for n in nodes:
        if n.nodeName() == "BroadcastExchange":
            out_cols = n.output()
            built.append({out_cols.apply(i).name() for i in range(out_cols.size())})
    assert built and all("_score" not in cols for cols in built), built
    assert any("root" in cols for cols in built), built

    length = {i: len(t) for i, t in rows}
    best: dict[int, int] = {}
    for r in fuzzy_dedup_labels(docs, "doc_id").collect():
        cur = best.get(r.root)
        if cur is None or (-length[r.id], r.id) < (-length[cur], cur):
            best[r.root] = r.id
    assert len(best) < len(rows)  # the fixture has near-dup components
    assert sorted(r.id for r in out.collect()) == sorted(best.values())


def test_domain_cap_windows_are_skew_capped(spark):
    """domain_cap must never window the full row stream on the bare domain
    key (one reducer per hot host): under-cap domains bypass windows via a
    broadcast anti-join, and over-cap rows rank inside (domain, salt)
    groups first — every Window whose input is unbounded carries the salt.
    Verified on a hot-domain fixture (1 host = 96% of rows) for both plan
    shape and exact result parity with the naive formulation."""
    from pyspark.sql import Window

    from redpajama_v2_processing_spark.operators.sampling import domain_cap

    rows = [(i, "hot.example") for i in range(960)] + [
        (1000 + i, f"cold{i % 8}.example") for i in range(40)
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string")

    out = domain_cap(df, "doc_id", cap=15)
    got = {(r.source, r.doc_id) for r in out.collect()}
    w = Window.partitionBy("source").orderBy(F.col("doc_id").asc())
    naive = {
        (r.source, r.doc_id)
        for r in df.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") <= 15).drop("_rk").collect()
    }
    assert got == naive
    assert sum(1 for s, _ in got if s == "hot.example") == 15

    plan = out._jdf.queryExecution().executedPlan().toString()
    # the first (unbounded-input) window partitions by (source, _salt);
    # the bare-source window exists but only over the <= n_salts*cap
    # pre-pruned survivors. So: salted window present, and the plan's
    # window count is exactly 2.
    assert "_salt" in plan
    assert plan.count("RunningWindowFunction") + plan.count("Window ") >= 1
    # under-cap rows take the broadcast anti-join path, never a window
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_bloom_probe_path_is_narrow(spark):
    """The Bloom maybe-contains probe must be k broadcast-join lookups —
    no sort-merge join and no exchange of the probe-side corpus (the
    only exchanges in the full plan belong to the bitmap build and the
    maybe-row verification join)."""
    from redpajama_v2_processing_spark.operators.exact_dedup import (
        bloom_bitmap, bloom_maybe_contains)

    docs = spark.range(0, 1000).select(F.col("id").alias("doc_id"))
    dups = docs.where(F.col("doc_id") % 7 == 0)
    bm = bloom_bitmap(dups, "doc_id").localCheckpoint(eager=True)
    plan = _physical(bloom_maybe_contains(docs, F.col("doc_id"), bm))
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") == 5  # k probes
    # probe side reads the checkpointed bitmap; the only allowed exchanges
    # are broadcast exchanges for it
    import re
    non_broadcast_exchanges = re.findall(r"Exchange (?!SinglePartition)(?!broadcast)\w+", plan)
    assert not any("hashpartitioning" in e for e in non_broadcast_exchanges), plan


def test_round5_queries_stay_jvm_side(spark):
    """No Python eval nodes and no cartesian products in any round-5
    query plan; token_budget_mix additionally must not contain a Window
    (its scale contract is agg + broadcast join + generate only)."""
    from redpajama_v2_processing_spark import queries as Q

    sf = "/root/testdata/sf0.001"
    for name in ["url_canonicalize", "url_dedup_keep", "url_blocklist",
                 "token_budget_mix", "span_dedup", "paragraph_dedup",
                 "gopher_filter", "ccnet_pipeline", "contamination_report",
                 "chunk_documents", "dedup_cluster_sizes",
                 "token_offsets", "pack_blocks", "temperature_mix",
                 "scrub_cc_luhn", "incremental_fuzzy_keep",
                 "incremental_exact_keep", "vocab_coverage", "oov_rate",
                 "source_quality_report", "encoding_noise",
                 "substring_dedup", "script_ratios", "block_doc_histogram",
                 "doc_embeddings", "shard_manifest", "lang_script_mismatch",
                 "jaccard_sim_histogram", "source_overlap"]:
        plan = _physical(Q.QUERIES[name](spark, sf))
        assert "EvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name
    mix = _physical(Q.QUERIES["token_budget_mix"](spark, sf))
    assert "Window" not in mix


def test_round6_queries_plan_gates(spark):
    """rpv2_exact_keep: pure relational interop (regexp repair + anti
    join), no Python eval, no cartesian, no window. wet_ingest is
    excluded by design — its parse IS Arrow mapInPandas (the binary
    ingest tier); assert it is ArrowEvalPython-shaped, not row-Python."""
    from redpajama_v2_processing_spark import queries as Q

    sf = "/root/testdata/sf0.001"
    plan = _physical(Q.QUERIES["rpv2_exact_keep"](spark, sf))
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan and "Window" not in plan

    wet = _physical(Q.QUERIES["wet_ingest"](spark, sf))
    assert "MapInPandas" in wet or "ArrowEvalPython" in wet
    assert "BatchEvalPython" not in wet  # never row-at-a-time Python


def test_semdedup_and_jaccard_plan_shape(spark):
    """SemDeDup: assignment is grouped min_by (no Window), keep rule is
    grouped min_by (no Window), no Python eval; the only nested-loop join
    is the broadcast centroid cross join (k rows — by design, same as the
    IVF family). Jaccard dedup: pure equi-join shape — no cartesian, no
    nested-loop fallback, no Python eval, no Window."""
    from redpajama_v2_processing_spark.operators.jaccard_dedup import (
        ngram_jaccard_dedup_keep,
    )
    from redpajama_v2_processing_spark.operators.semdedup import semdedup_keep

    emb = spark.createDataFrame(
        [(i, [float(i % 5), 1.0, -0.5, 0.25]) for i in range(20)],
        "vec_id long, embedding array<double>",
    )
    p1 = _physical(semdedup_keep(emb, 0.95, k_cells=2, iters=1))
    assert "EvalPython" not in p1
    assert "CartesianProduct" not in p1
    assert "Window" not in p1

    docs = spark.createDataFrame(
        [(i, f"some doc {i} tokens words here") for i in range(20)],
        "doc_id long, text string",
    )
    p2 = _physical(ngram_jaccard_dedup_keep(docs, "doc_id"))
    assert "EvalPython" not in p2
    assert "CartesianProduct" not in p2
    assert "BroadcastNestedLoopJoin" not in p2
    assert "Window" not in p2


def test_full_pipeline_matches_explicit_composition(spark, pages_small):
    """Round-7 restructure guard: the window-dedup + CC-label pipeline
    must return exactly the rows of the r6 composition (label chain +
    exact_keep_ids left_semi + fuzzy_dedup_keep_ids left_semi)."""
    from redpajama_v2_processing_spark.config import PROD_MINHASH
    from redpajama_v2_processing_spark.operators.exact_dedup import exact_keep_ids
    from redpajama_v2_processing_spark.operators.minhash_lsh import (
        fuzzy_dedup_keep_ids,
    )
    from redpajama_v2_processing_spark.plans.pipeline import (
        full_pipeline, label_documents,
    )

    docs = pages_small.select(F.xxhash64("url").alias("doc_id"), "text", "lang")
    labeled = label_documents(docs).where(F.col("keep"))
    exact = exact_keep_ids(labeled, "doc_id")
    survivors = labeled.join(exact, "doc_id", "left_semi")
    fuzzy = fuzzy_dedup_keep_ids(
        survivors, "doc_id", cfg=PROD_MINHASH, base="xxhash"
    ).withColumnRenamed("id", "doc_id")
    want = {
        r.doc_id for r in survivors.join(fuzzy, "doc_id", "left_semi").collect()
    }
    out = full_pipeline(docs)
    got = {r.doc_id for r in out.collect()}
    assert got == want
    assert set(out.columns) == set(survivors.columns)


def test_star_round_plan_budget(spark):
    """One connected-components round is a window per star plus one
    distinct: three shuffle Exchanges and no join of any kind."""
    from redpajama_v2_processing_spark.operators.connected_components import (
        _star_round,
    )

    edges = spark.createDataFrame([(i, i + 1) for i in range(20)], "src long, dst long")
    nodes = _plan_nodes(_star_round(edges))
    assert nodes.count("Exchange") == 3, nodes
    assert not any(n.endswith("Join") for n in nodes), nodes


def test_connected_components_job_budget(spark):
    """Spark jobs one connected_components call launches on the 20-node
    path graph, counted by job group. Measured on local[4] with 4 shuffle
    partitions: the driver path ran 4 jobs with a separate threshold count
    and 2 with the count observed by the input checkpoint; the distributed
    path ran 64 jobs with two joins per round and a separate convergence
    query, and 27 with one observed checkpoint job per round. With the path
    in both orientations (40 rows) and a threshold of 20, round 1 brings it
    to 20 edges and CC hands off to the driver: the input checkpoint, round
    1's 4 jobs and one collect. The call leaves the caller's job
    description in place."""
    from redpajama_v2_processing_spark.operators.connected_components import (
        connected_components,
    )

    sc = spark.sparkContext
    path = [(i, i + 1) for i in range(20)]
    edges = spark.createDataFrame(path, "src long, dst long")
    both_ways = spark.createDataFrame(path + [(b, a) for a, b in path], "src long, dst long")
    jobs = {}
    try:
        for threshold, df in ((None, edges), (0, edges), (20, both_ways)):
            group = f"cc-job-budget-{threshold}"
            sc.setJobGroup(group, group)
            connected_components(df, driver_threshold=threshold)
            jobs[threshold] = len(sc.statusTracker().getJobIdsForGroup(group))
            # the caller's job description outlives the per-round ones
            assert sc.getLocalProperty("spark.job.description") == group
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setJobDescription(None)
    assert jobs == {None: 2, 0: 27, 20: 6}, jobs


def _walk(node, children):
    todo = [node]
    while todo:
        n = todo.pop()
        yield n
        seq = children(n)
        todo.extend(seq.apply(i) for i in range(seq.size()))


def _percentile_columns(df) -> list[str]:
    """For every distinct Percentile / ApproximatePercentile aggregate in
    the optimized plan's Aggregate nodes, the column its value input reads.
    Semantically equal aggregates count once: the physical planner gives
    them one shared buffer, as it does for the lo/hi lookups of one
    array-valued percentile."""
    found = {}
    for node in _walk(df._jdf.queryExecution().optimizedPlan(), lambda n: n.children()):
        if node.nodeName() != "Aggregate":
            continue
        aggs = node.aggregateExpressions()
        for i in range(aggs.size()):
            for e in _walk(aggs.apply(i), lambda n: n.children()):
                if e.nodeName() in ("Percentile", "ApproximatePercentile"):
                    refs = e.child().references().toSeq()
                    found[e.canonicalized().toString()] = [
                        refs.apply(j).name() for j in range(refs.size())
                    ]
    return [c for cols in found.values() for c in cols]


def test_one_percentile_buffer_per_signal(spark, monkeypatch):
    """Each aggregated column gets exactly one Percentile /
    ApproximatePercentile: every quantile of a signal is read off one
    buffer instead of one buffer per (profile, bound). The threshold
    filters collect their bounds when called, so the aggregate checked is
    the one they build through the shared ``_quantile_table``, here with
    three profiles in use."""
    from redpajama_v2_processing_spark.functions.perplexity import (
        perplexity_buckets,
    )
    from redpajama_v2_processing_spark.operators import thresholds

    built = []

    def spy(*args):
        built.append(table(*args))
        return built[-1]

    table = thresholds._quantile_table
    monkeypatch.setattr(thresholds, "_quantile_table", spy)
    monkeypatch.setattr(thresholds, "LANG_PROFILE", {"en": "strict", "de": "strictest"})
    sig = spark.createDataFrame(
        [(i, ("en", "de", "fr")[i % 3], float(i % 7), i % 5) for i in range(40)],
        "doc_id long, lang string, a double, b int",
    )
    for exact in (True, False):
        for op in (thresholds.profiled_quantile_filter, thresholds.quantile_filter):
            built.clear()
            op(sig, ["a", "b"], exact=exact)
            assert len(built) == 1, (op.__name__, exact)
            cols = _percentile_columns(built[0])
            assert sorted(cols) == ["a", "b"], (op.__name__, exact, cols)
    docs = spark.createDataFrame(
        [(i, ("en", "de")[i % 2], f"w{i % 3} w{i % 4} w{i % 5}") for i in range(20)],
        "doc_id long, lang string, text string",
    )
    for exact in (True, False):
        cols = _percentile_columns(perplexity_buckets(docs, "doc_id", exact=exact))
        assert cols == ["perplexity_bigram"], (exact, cols)


def test_anti_join_duplicates_side_has_no_aggregate(spark):
    """anti_join_duplicates joins the duplicate ids as given: no
    distinct-aggregation (and so no exchange or job for it) on the
    duplicates side of the left-anti join."""
    from redpajama_v2_processing_spark.operators.exact_dedup import (
        anti_join_duplicates,
    )

    docs = spark.range(0, 50).select(F.col("id").alias("doc_id"))
    dups = spark.createDataFrame([(i % 7,) for i in range(30)], "dup_id long")
    plan = anti_join_duplicates(docs, dups, "doc_id", "dup_id")
    joins = [
        n for n in _walk(plan._jdf.queryExecution().optimizedPlan(), lambda n: n.children())
        if n.nodeName() == "Join" and n.joinType().toString() == "LeftAnti"
    ]
    assert len(joins) == 1
    build = [n.nodeName() for n in _walk(joins[0].right(), lambda n: n.children())]
    assert "Aggregate" not in build, build
