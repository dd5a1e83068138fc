"""Connected components vs a brute-force python union-find on adversarial
graph shapes (path graphs are the worst case for star algorithms)."""

from __future__ import annotations

import random
from collections import Counter
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from redpajama_v2_processing_spark.operators.connected_components import (
    connected_components,
)


def _uf_roots(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # normalize to component-min
    nodes = {n for e in edges for n in e}
    comp = {}
    for n in nodes:
        comp.setdefault(find(n), []).append(n)
    return {n: min(members) for members in comp.values() for n in members}


def _record_handoffs(mp):
    """Wraps the driver union-find; returns the list that gets, per call,
    the job description CC had set when it handed off."""
    from redpajama_v2_processing_spark.operators import connected_components as ccm

    calls, inner = [], ccm._driver_side_cc

    def wrapped(edges, edge_rows):
        sc = edges.sparkSession.sparkContext
        calls.append(sc.getLocalProperty("spark.job.description"))
        return inner(edges, edge_rows)

    mp.setattr(ccm, "_driver_side_cc", wrapped)
    return calls


def _check(spark, edges):
    df = spark.createDataFrame(edges, "src long, dst long")
    want = _uf_roots(edges)
    # distributed large-star/small-star fixpoint
    got = {r.id: r.root for r in connected_components(df, driver_threshold=0).collect()}
    assert got == want
    # driver-side union-find fast path
    got2 = {r.id: r.root for r in connected_components(df).collect()}
    assert got2 == want
    # hand-off: each edge three times puts round 0 at 3m non-self rows; a
    # star round emits at most two distinct edges per distinct input edge,
    # so round 1 is at or under 2m and hands the rest to the driver. With
    # no non-self edge (m = 0) the threshold is 0: fully distributed.
    m = sum(a != b for a, b in edges)
    with pytest.MonkeyPatch.context() as mp:
        handoffs = _record_handoffs(mp)
        cc = connected_components(df.union(df).union(df), driver_threshold=2 * m)
    want_handoffs = ["connected_components driver union-find after round 1"] if m else []
    assert handoffs == want_handoffs
    got3 = {r.id: r.root for r in cc.collect()}
    assert got3 == want


def test_path_graph(spark):
    _check(spark, [(i, i + 1) for i in range(20)])


def test_two_components_and_star(spark):
    edges = [(100, i) for i in range(101, 110)] + [(1, 2), (2, 3)]
    _check(spark, edges)


def test_reversed_path(spark):
    _check(spark, [(i + 1, i) for i in range(15)])


def test_random_graph_matches_union_find(spark):
    rng = random.Random(7)
    nodes = list(range(60))
    edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(80)]
    edges = [(a, b) for a, b in edges if a != b]
    _check(spark, edges)


def test_duplicate_and_self_edges(spark):
    _check(spark, [(1, 2), (2, 1), (1, 2), (3, 3), (3, 4)])


def test_empty_edge_set(spark):
    """The observed edge count and round signatures still arrive when there
    is no edge (an observation that never arrives blocks forever)."""
    _check(spark, [])


def test_extreme_ids_hub_path_and_random_edges(spark):
    """The shapes a real dedup run feeds CC, in one graph: ids at both ends
    of the long range (where rpv2's _cc_key puts uint64 ids), a hot-bucket
    hub with 2,000 leaves, a 200-node path, and 3,000 random edges."""
    lo, hi = -(2**63), 2**63 - 1
    rng = random.Random(11)
    hub = [(10**6, 10**6 + i) for i in range(1, 2001)]
    path = [(20_000 + i, 20_000 + i + 1) for i in range(199)]
    rand = [(rng.randrange(5_000), rng.randrange(5_000)) for _ in range(3000)]
    extremes = [(lo, 0), (hi, 10**6 + 7), (hi, 20_100), (lo + 1, hi - 1)]
    _check(spark, hub + path + rand + extremes)


def _leak_cases(spark):
    """name -> zero-argument call returning a frame, for every keep-list
    that must leave no staged checkpoint persisted (plus CC itself) beyond
    what its returned plan reads (``_READS_STAGED``)."""
    from redpajama_v2_processing_spark.operators.ann import (
        embedding_dedup_keep, embedding_dedup_star_keep,
    )
    from redpajama_v2_processing_spark.operators.jaccard_dedup import (
        ngram_jaccard_dedup_keep,
    )
    from redpajama_v2_processing_spark.operators.minhash_lsh import (
        fuzzy_dedup_keep_ids, incremental_fuzzy_keep_ids,
    )
    from redpajama_v2_processing_spark.operators.semdedup import semdedup_keep
    from redpajama_v2_processing_spark.operators.simhash_dedup import (
        simhash_dedup_keep,
    )
    from redpajama_v2_processing_spark.operators.winnow import winnow_dedup_keep
    from redpajama_v2_processing_spark.sources.rpv2 import rpv2_keep_ids

    # the 20-edge path in both orientations: round 1 halves it
    path = [(i, i + 1) for i in range(20)]
    edges = spark.createDataFrame(path + [(b, a) for a, b in path], "src long, dst long")
    # four near-dup groups of six docs; each group's words are its own,
    # so winnow / n-gram fingerprints stay under their max_df of 10
    docs = spark.createDataFrame(
        [
            (i, " ".join(f"w{i % 4}x{j}" for j in range(12)) + f" tail{i % 2}")
            for i in range(24)
        ],
        "doc_id long, text string",
    )
    emb = spark.createDataFrame(
        [(i, [float(i % 5), 1.0, -0.5, 0.25]) for i in range(20)],
        "vec_id long, embedding array<double>",
    )
    sigs = spark.createDataFrame(
        [
            (f"d{i}", i, [bytes([i % 4]), bytes([10 + i % 3])] if i % 7 else None)
            for i in range(24)
        ],
        "id string, id_int long, signature array<binary>",
    )
    return {
        "connected_components": lambda: connected_components(edges),
        "simhash_dedup_keep": lambda: simhash_dedup_keep(docs, "doc_id"),
        "embedding_dedup_star_keep": lambda: embedding_dedup_star_keep(
            emb, 0.95, dim=4, nbits=8, band_bits=4
        ),
        "embedding_dedup_keep": lambda: embedding_dedup_keep(
            emb, 0.95, dim=4, nbits=8, band_bits=4
        ),
        "winnow_dedup_keep": lambda: winnow_dedup_keep(docs, "doc_id"),
        "ngram_jaccard_dedup_keep": lambda: ngram_jaccard_dedup_keep(
            docs, "doc_id"
        ),
        "fuzzy_dedup_keep_ids": lambda: fuzzy_dedup_keep_ids(docs, "doc_id"),
        "rpv2_keep_ids": lambda: rpv2_keep_ids(sigs),
        # history holds group 0; groups 1-3 survive it and cluster
        "incremental_fuzzy_keep_ids": lambda: incremental_fuzzy_keep_ids(
            docs.where("doc_id % 4 != 0"), docs.where("doc_id % 4 = 0"), "doc_id"
        ),
        "semdedup_keep": lambda: semdedup_keep(emb, 0.95, k_cells=2, iters=1, dim=4),
    }


# keep-lists whose returned plan reads one staged checkpoint: the new ids
# that hit history (incremental) and the k-means cell assignment (semdedup)
_READS_STAGED = {"incremental_fuzzy_keep_ids": 1, "semdedup_keep": 1}

# under every case's round-0 edge count or at or over it: either way CC
# ends in the driver union-find, after a star round or at the input
_HANDOFF_THRESHOLD = 25


@pytest.mark.parametrize(
    "name",
    [
        "connected_components", "simhash_dedup_keep",
        "embedding_dedup_star_keep", "embedding_dedup_keep",
        "winnow_dedup_keep", "ngram_jaccard_dedup_keep",
        "fuzzy_dedup_keep_ids", "rpv2_keep_ids",
        "incremental_fuzzy_keep_ids", "semdedup_keep",
    ],
)
def test_cc_and_simhash_keep_free_their_checkpoints(spark, monkeypatch, name):
    """Neither CC path nor any keep-list leaves an intermediate checkpoint
    persisted: after the call the only new persistent RDD is the result's
    own CC checkpoint on the distributed path, and none at all on the
    driver path (its labels are a local frame), whether CC takes it from
    the start or hands off to it after star rounds. semdedup_keep and
    incremental_fuzzy_keep_ids may leave one more each, the staged frame
    their returned plan reads (see their docstrings); the k-means
    centroids and the new-crawl bands are freed."""
    from redpajama_v2_processing_spark import config
    from redpajama_v2_processing_spark.operators.connected_components import (
        _persistent_ids,
    )

    sc = spark.sparkContext
    call = _leak_cases(spark)[name]
    extra = _READS_STAGED.get(name, 0)
    handoffs = _record_handoffs(monkeypatch)
    for threshold, bound in (
        (config.CC_DRIVER_THRESHOLD, extra), (0, 1 + extra), (_HANDOFF_THRESHOLD, extra)
    ):
        # keep-lists take CC's default threshold from config
        monkeypatch.setattr(config, "CC_DRIVER_THRESHOLD", threshold)
        handoffs.clear()
        before = _persistent_ids(sc)
        call().count()
        new = _persistent_ids(sc) - before
        assert len(new) <= bound, (name, threshold, new)
        assert len(handoffs) == (1 if threshold else 0), (name, threshold, handoffs)


def _cache_cases(spark):
    """name -> (input rows, call over the input) for every helper that
    stages checkpoints around a caller's frame: CC on both paths and the
    keep-lists and training loops built on it."""
    from redpajama_v2_processing_spark.operators.ann import kmeans_centroids
    from redpajama_v2_processing_spark.operators.minhash_lsh import (
        fuzzy_dedup_keep_ids, incremental_fuzzy_keep_ids,
    )
    from redpajama_v2_processing_spark.operators.semdedup import semdedup_keep
    from redpajama_v2_processing_spark.operators.simhash_dedup import (
        simhash_dedup_keep,
    )

    path = [(i, i + 1) for i in range(20)]
    edges = spark.createDataFrame(path + [(b, a) for a, b in path], "src long, dst long")
    docs = spark.createDataFrame(
        [
            (i, " ".join(f"w{i % 4}x{j}" for j in range(12)) + f" tail{i % 2}")
            for i in range(24)
        ],
        "doc_id long, text string",
    )
    emb = spark.createDataFrame(
        [(i, [float(i % 5), 1.0, -0.5, 0.25]) for i in range(20)],
        "vec_id long, embedding array<double>",
    )
    return {
        "connected_components": (edges, connected_components),
        "connected_components_distributed": (
            edges, lambda x: connected_components(x, driver_threshold=0)
        ),
        "fuzzy_dedup_keep_ids": (docs, lambda x: fuzzy_dedup_keep_ids(x, "doc_id")),
        "simhash_dedup_keep": (docs, lambda x: simhash_dedup_keep(x, "doc_id")),
        "incremental_fuzzy_keep_ids": (
            docs, lambda x: incremental_fuzzy_keep_ids(
                x.where("doc_id % 4 != 0"), docs.where("doc_id % 4 = 0"), "doc_id"
            ),
        ),
        "semdedup_keep": (
            emb, lambda x: semdedup_keep(x, 0.95, k_cells=2, iters=1, dim=4)
        ),
        "kmeans_centroids": (emb, lambda x: kmeans_centroids(x, k=4, iters=3)),
    }


@pytest.mark.parametrize(
    "name",
    [
        "connected_components", "connected_components_distributed",
        "fuzzy_dedup_keep_ids", "simhash_dedup_keep",
        "incremental_fuzzy_keep_ids", "semdedup_keep", "kmeans_centroids",
    ],
)
def test_callers_cache_survives_the_helper(spark, tmp_path, name):
    """A helper frees only the checkpoints it made. The caller's input is
    persisted lazily, so the helper's own job is the first to fill the
    cache: the cache's RDD must still be registered after the call, and a
    later count must read the cache alone. The input's files are deleted
    after the call, so a count that recomputed the input's plan would fail
    (a diff of the session's persistent-RDD registry around the call
    unpersisted that cache, and every later read recomputed the plan)."""
    import shutil

    from redpajama_v2_processing_spark.operators.connected_components import (
        _persistent_ids,
    )

    rows, call = _cache_cases(spark)[name]
    src = str(tmp_path / "input")
    rows.write.parquet(src)
    x = spark.read.parquet(src).persist()
    try:
        call(x)
        cached = spark._jsparkSession.sharedState().cacheManager().lookupCachedData(x._jdf)
        rdd = cached.get().cachedRepresentation().cacheBuilder().cachedColumnBuffers()
        assert rdd.id() in _persistent_ids(spark.sparkContext), name
        shutil.rmtree(src)
        assert x.count() == rows.count()
    finally:
        x.unpersist()


def test_driver_path_labels_broadcast_from_one_partition(spark):
    """The driver path returns its labels as one partition with a broadcast
    hint, so keep_min_id plans a BroadcastHashJoin that builds the labels
    and leaves the ids side unshuffled. (Both paths' roots are compared
    with each other and with union-find by _check above.)"""
    from redpajama_v2_processing_spark.operators.connected_components import (
        keep_min_id,
    )
    from tests.test_plans import _walk

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 20, 2)], "src long, dst long"
    )
    cc = connected_components(edges)
    assert cc.rdd.getNumPartitions() == 1
    # built JVM-side in one partition the planner knows: no Python RDD
    # scan, and a count over the labels is one job with no exchange
    sc = spark.sparkContext
    sc.setJobGroup("cc-label-count", "cc-label-count")
    try:
        assert cc.count() == 20
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setJobDescription(None)
    assert len(sc.statusTracker().getJobIdsForGroup("cc-label-count")) == 1
    assert "ExistingRDD" not in cc._jdf.queryExecution().executedPlan().toString()
    keep = keep_min_id(spark.range(0, 40), cc)
    plan = keep._jdf.queryExecution().executedPlan().executedPlan()
    joins = [n for n in _walk(plan, lambda n: n.children()) if n.nodeName().endswith("Join")]
    assert [j.nodeName() for j in joins] == ["BroadcastHashJoin"]
    assert joins[0].buildSide().toString() == "BuildRight"
    ids_side = [n.nodeName() for n in _walk(joins[0].left(), lambda n: n.children())]
    assert "Exchange" not in ids_side, ids_side
    assert {r.id for r in keep.collect()} == set(range(0, 20, 2)) | set(range(20, 40))


def _left_join_keep(rows, cc, key="id"):
    """The keep rule keep_min_id replaced: left join the labels and keep
    ``coalesce(root, key) == key``."""
    labels = cc.withColumnRenamed("id", "_cc_id")
    return (
        rows.join(labels, rows[key] == labels["_cc_id"], "left")
        .where(F.coalesce("root", F.col(key)) == F.col(key))
        .select(*rows.columns)
    )


def _bag(df):
    return Counter(tuple(r) for r in df.collect())


@pytest.mark.parametrize("threshold", [None, 0])
def test_drop_list_keep_equals_left_join_rule(spark, threshold):
    """keep_min_id's anti-join against the drop-list keeps exactly the rows
    the left-join rule kept, on the driver path (default threshold) and the
    distributed one (0): component minima, singletons absent from the
    labels, repeated rows as often as they came, extreme ids, and no NULL
    id."""
    from redpajama_v2_processing_spark.operators.connected_components import (
        keep_min_id,
    )

    lo, hi = -(2**63), 2**63 - 1
    rng = random.Random(5)
    edges = [(rng.randrange(60), rng.randrange(60)) for _ in range(70)]
    edges += [(lo, 3), (hi, 3), (hi - 1, lo + 1)]
    cc = connected_components(
        spark.createDataFrame(edges, "src long, dst long"), driver_threshold=threshold
    )
    ids = list(range(80)) + [lo, hi, hi - 1, lo + 1, 7, 7, 70, 70, None, None]
    rows = spark.createDataFrame([(i, f"r{i}") for i in ids], "id long, tag string")
    got = _bag(keep_min_id(rows, cc))
    assert got == _bag(_left_join_keep(rows, cc))
    roots = _uf_roots(edges)
    want = Counter(
        (i, f"r{i}") for i in ids if i is not None and roots.get(i, i) == i
    )
    assert got == want


@pytest.mark.parametrize("threshold", [None, 0])
def test_rpv2_keep_ids_uint64_equals_left_join_rule(spark, monkeypatch, threshold):
    """rpv2_keep_ids through keep_min_id on uint64 ids read as
    decimal(20,0), both above and below 2^63: the same (id, id_int) rows
    as the left-join rule over the shifted CC key, unsignable docs kept
    and a NULL id_int dropped."""
    from redpajama_v2_processing_spark import config
    from redpajama_v2_processing_spark.operators.minhash_lsh import candidate_edges
    from redpajama_v2_processing_spark.sources.rpv2 import (
        _cc_key, pre_banded_bands, rpv2_keep_ids,
    )

    if threshold is not None:
        monkeypatch.setattr(config, "CC_DRIVER_THRESHOLD", threshold)
    top = 2**64 - 1
    rows = []
    for i in range(40):
        id_int = top - i if i % 2 else i
        sig = None if i % 13 == 12 else [
            f"{b}#{i % 6 if b < 2 else i}".encode() for b in range(4)
        ]
        rows.append((f"doc{i}", Decimal(id_int), sig))
    rows.append(("docnull", None, None))
    sigs = spark.createDataFrame(
        rows, "id string, id_int decimal(20,0), signature array<binary>"
    )
    got = _bag(rpv2_keep_ids(sigs))
    cc = connected_components(candidate_edges(pre_banded_bands(sigs)))
    keyed = sigs.select("id", "id_int", _cc_key(sigs).alias("_k"))
    assert got == _bag(_left_join_keep(keyed, cc, "_k").select("id", "id_int"))
    # docs sharing i % 6 form one cluster: an even class keeps its
    # smallest i, an odd class (id_int = 2^64 - 1 - i) its largest; docs
    # with a null signature (i % 13 == 12) are singletons
    assert {r[0] for r in got} == {
        "doc0", "doc2", "doc4", "doc37", "doc39", "doc35",
        "doc12", "doc25", "doc38",
    }
