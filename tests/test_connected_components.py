"""Connected components vs a brute-force python union-find on adversarial
graph shapes (path graphs are the worst case for star algorithms)."""

from __future__ import annotations

import random

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


def _check(spark, edges):
    df = spark.createDataFrame(edges, "src long, dst long")
    want = _uf_roots(edges)
    # distributed large-star/small-star fixpoint
    got = {r.id: r.root for r in connected_components(df, driver_threshold=0).collect()}
    assert got == want
    # driver-side union-find fast path
    got2 = {r.id: r.root for r in connected_components(df).collect()}
    assert got2 == want


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


def test_cc_and_simhash_keep_free_their_checkpoints(spark, monkeypatch):
    """Neither CC path nor simhash_dedup_keep leaves an intermediate
    checkpoint persisted: the only new persistent RDD is the result's own
    checkpoint (none for the driver path's local frame)."""
    from redpajama_v2_processing_spark import config
    from redpajama_v2_processing_spark.operators.connected_components import (
        _persistent_ids,
    )
    from redpajama_v2_processing_spark.operators.simhash_dedup import (
        simhash_dedup_keep,
    )

    sc = spark.sparkContext
    edges = spark.createDataFrame([(i, i + 1) for i in range(20)], "src long, dst long")
    docs = spark.createDataFrame(
        [(i, f"near duplicate page {i % 4} with shared words") for i in range(24)],
        "doc_id long, text string",
    )
    for threshold in (None, 0):
        before = _persistent_ids(sc)
        connected_components(edges, driver_threshold=threshold).count()
        assert len(_persistent_ids(sc) - before) <= 1
        # simhash_dedup_keep takes the default threshold from config
        monkeypatch.setattr(
            config, "CC_DRIVER_THRESHOLD",
            config.CC_DRIVER_THRESHOLD if threshold is None else threshold,
        )
        before = _persistent_ids(sc)
        simhash_dedup_keep(docs, "doc_id").count()
        assert len(_persistent_ids(sc) - before) <= 1


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
    keep = keep_min_id(spark.range(0, 40), cc)
    plan = keep._jdf.queryExecution().executedPlan().executedPlan()
    joins = [n for n in _walk(plan, lambda n: n.children()) if n.nodeName().endswith("Join")]
    assert [j.nodeName() for j in joins] == ["BroadcastHashJoin"]
    assert joins[0].buildSide().toString() == "BuildRight"
    ids_side = [n.nodeName() for n in _walk(joins[0].left(), lambda n: n.children())]
    assert "Exchange" not in ids_side, ids_side
    assert {r.id for r in keep.collect()} == set(range(0, 20, 2)) | set(range(20, 40))
