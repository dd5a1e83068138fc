"""Distributed connected components: alternating large-star / small-star
(Kiveris et al., "Connected Components in MapReduce and Beyond").

Replaces the reference's single-process UnionFind over all LSH buckets
(src/union_find.py:45-81, driven at src/minhashlsh.py:131-145) — the
component that forced the reference into iterative partial dedups when the
id set outgrew node RAM (README.md:101-124). Here every round is ONE
localCheckpoint job (a window per star and one distinct: three shuffles, no
join) that also observes the round's edge count and convergence signature;
convergence is O(log n) rounds and the checkpoint keeps plans bounded. The
reference's union-find stays as the hand-off: once a round's edge count is
at or under the driver threshold (the input being round 0), its checkpoint
is collected and union-found on the driver.

Checkpoint ownership, here and in every helper that stages checkpoints: a
helper frees only the checkpoints it made, named by their own LogicalRDDs
(:func:`_checkpoints`), never by a diff of the session's persistent-RDD
registry, which also catches a caller's lazy cache that its job filled.

Output invariant (matches the reference's keep rule,
src/minhashlsh.py:140,169): every node maps to its component's MINIMUM id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F


def _symmetric(edges: DataFrame) -> DataFrame:
    return edges.select("src", "dst").union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def _star_round(edges: DataFrame) -> DataFrame:
    """Large star (for each u: m = min(N(u) ∪ {u}); emit (v, m) for v in
    N(u), v > u), then small star over its already large->small oriented
    output (m <= u < v; for each u: m = min(smaller nbrs); emit (v, m) for v
    in smaller-nbrs ∪ {u}, v != m). Large-star duplicates change neither
    the small star's min nor its final distinct."""
    by_src = Window.partitionBy("src")
    large = (
        _symmetric(edges)
        .withColumn("m", F.least(F.min("dst").over(by_src), F.col("src")))
        .where(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    )
    # both small-star outputs from one generator, not a union: a union of
    # two subtrees over one window plan trips a Catalyst
    # DeduplicateRelations bug under AQE in Spark 4.1
    return (
        large.withColumn("m", F.min("dst").over(by_src))
        .select(F.explode(F.array(
            F.struct(F.col("dst").alias("src"), F.col("m").alias("dst")),
            F.struct(F.col("src").alias("src"), F.col("m").alias("dst")),
        )).alias("_e"))
        .select("_e.src", "_e.dst")
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def _persistent_ids(sc) -> set[int]:  # a leak-check observer only
    return {int(k) for k in sc._jsc.getPersistentRDDs().keySet().toArray()}


def _checkpoints(df: DataFrame, but: DataFrame | None = None) -> dict:
    """id -> RDD of the checkpoints ``df``'s plan reads and ``but``'s does
    not: its LogicalRDD leaves (a ``localCheckpoint`` frame is one). A
    cache is never among them: it is swapped in only when a plan runs."""
    def rdds(frame):
        leaves = frame._jdf.queryExecution().analyzed().collectLeaves()
        leaves = [leaves.apply(i) for i in range(leaves.size())]
        return [n.rdd() for n in leaves if n.nodeName() == "LogicalRDD"]

    skip = set() if but is None else {r.id() for r in rdds(but)}
    return {r.id(): r for r in rdds(df) if r.id() not in skip}


def _free(made: dict) -> None:
    """Unpersist checkpoints the caller made (from :func:`_checkpoints`)."""
    for rdd in made.values():
        rdd.unpersist(False)


def _driver_side_cc(edges: DataFrame, edge_rows) -> DataFrame:
    """Small-graph fast path: classic union-find on the driver.

    After LSH star-edge compression the edge set is usually tiny relative
    to the corpus (one edge per duplicate doc per band), and each star
    round shrinks it towards one edge per non-root node. At or under the
    threshold, the remaining checkpoint jobs of fixpoint latency collapse
    into one collect + one createDataFrame. Identical output contract.

    The labels come back as ONE partition with a broadcast hint: they are
    on the driver already and number at most 2 x ``driver_threshold``
    rows (two nodes per edge; every node of a round's output has an
    edge), so every keep join against them is a broadcast hash join and
    the corpus side is not shuffled for it. They are handed to the JVM
    as one Arrow table (a local relation, no Python RDD: no action over
    them starts a Python worker), and ``coalesce(1)`` makes the one
    partition known to the planner, so a count or global aggregate over
    them needs no exchange."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for r in edge_rows:
        a, b = find(r["src"]), find(r["dst"])
        if a != b:
            parent[max(a, b)] = min(a, b)
    import pyarrow as pa

    # the larger root always joins the smaller: every root is its
    # component's minimum
    ids = list(parent)
    labels = pa.table({"id": pa.array(ids, pa.int64()),
                       "root": pa.array([find(n) for n in ids], pa.int64())})
    return F.broadcast(edges.sparkSession.createDataFrame(labels).coalesce(1))


def connected_components(
    edges: DataFrame, max_iter: int = 50, driver_threshold: int | None = None
) -> DataFrame:
    """edges: DF(src:long, dst:long) undirected. Returns DF(id, root) for
    every node appearing in the edge set; root = component min id.

    Input contract: duplicate (and self) edges are tolerated — the result
    is the same — but distinct input is recommended. ``driver_threshold``
    (default ``config.CC_DRIVER_THRESHOLD``) is compared with every
    checkpoint's edge count: the input's raw row count (round 0,
    duplicates included) and then each star round's distinct edges. The
    first at or under it is collected and union-found on the driver, so
    duplicate rows can cost star rounds but the graph still ends on the
    driver once a round has shrunk it. ``driver_threshold=0`` runs the
    distributed fixpoint to convergence.

    Each round is localCheckpoint-ed (lineage truncation: without it the
    plan doubles per round and analysis time explodes). The loop frees its
    own round checkpoints, and only those, once the final result is
    materialized (or the hand-off has collected them): iterative
    checkpoints are the classic slow-leak, and a caller's cache of
    ``edges`` that round 0 first fills stays cached. At warehouse scale,
    persist the returned frame to a table (tableio) rather than holding it
    cached.
    """
    if driver_threshold is None:
        from ..config import CC_DRIVER_THRESHOLD

        driver_threshold = CC_DRIVER_THRESHOLD
    sc = edges.sparkSession.sparkContext
    # NO distinct here: every in-repo edge producer already emits distinct
    # pairs (candidate_edges/simhash/winnow/jaccard all end in .distinct(),
    # the verify paths consume distinct candidates), so
    # the old upfront distinct was one full exchange of the edge set per
    # dedup query for nothing. Duplicate edges are tolerated everywhere
    # downstream: union-find is idempotent, the star rounds distinct
    # internally, and the row-count threshold merely turns conservative
    # (duplicates can push a small graph onto the distributed path, never
    # the reverse). The checkpoint now materializes a narrow filter.
    cur = edges.select(
        F.col("src").cast("long"), F.col("dst").cast("long")
    ).where(F.col("src") != F.col("dst"))
    # every checkpoint job (round 0 is the input's) observes the edge count
    # n the driver rule reads and the round's convergence signature (a
    # modded hash-sum: no ANSI long-overflow), and is named in the event log
    signature = (
        F.count(F.lit(1)).alias("n"),
        F.sum(F.pmod(F.xxhash64("src", "dst"), F.lit(1_000_000_007))).alias("h"),
    )
    caller_desc = sc.getLocalProperty("spark.job.description")
    prev_sig, made = None, {}
    try:
        for i in range(max_iter + 1):
            sc.setJobDescription(f"connected_components round {i}")
            obs = Observation()
            if i:
                cur = _star_round(cur)
            cur = cur.observe(obs, *signature).localCheckpoint()
            made.update(_checkpoints(cur))
            sig = tuple(obs.get.values())
            # hybrid strategy: once a round's edge set is at or under the
            # threshold, the rest is union-found on the driver. A round keeps
            # every node and component of its input, so the labels are the
            # same as from the input edges.
            if driver_threshold > 0 and sig[0] <= driver_threshold:
                sc.setJobDescription(
                    f"connected_components driver union-find after round {i}"
                )
                result = _driver_side_cc(cur, cur.collect())
                _free(made)
                return result
            if sig == prev_sig:
                break
            prev_sig = sig
    finally:
        sc.setJobDescription(caller_desc)
    # converged: every edge is (node, component_min); add roots themselves
    # (duplicates and all: the min-aggregation removes them)
    nodes = cur.select(F.col("src").alias("id"), F.col("dst").alias("root"))
    roots = cur.select(F.col("dst").alias("id"), F.col("dst").alias("root"))
    result = (
        nodes.union(roots).groupBy("id").agg(F.min("root").alias("root"))
        .localCheckpoint()  # eager: materialized before the rounds are freed
    )
    _free(made)
    return result


def verify_partitions(df: DataFrame) -> int:
    """One partition per core, for banded checkpoints and ids-only
    candidate frames feeding an interpreted verify: byte-based AQE
    coalescing cannot see row-count-proportional work and would serialize
    it onto one core (BENCH.md round 6). A round-7 A/B measured 4x
    parallelism ~20% slower across the simhash/embedding/semdedup family
    (extra task waves cost more than they rebalance)."""
    return df.sparkSession.sparkContext.defaultParallelism


def checkpoint_banded(banded: DataFrame) -> DataFrame:
    """Checkpoint a banded frame DF(id, band_idx, band_hash[, payload])
    once: its signature aggregation is expensive and Catalyst does not
    share subplans between its consumers. The repartition keeps the
    checkpoint at one partition per core (AQE would coalesce the tiny
    aggregate output to one). Spark 4.1's LogicalRDD does not report
    that partitioning, so a bucket window or self-join over the
    checkpoint shuffles again. :func:`dedup_keep_min_id` frees it when
    the edge plan it feeds reads it."""
    return banded.repartition(
        verify_partitions(banded), "band_idx", "band_hash"
    ).localCheckpoint(eager=True)


def dedup_keep_min_id(ids: DataFrame, edges: DataFrame) -> DataFrame:
    """DF(id): the dedup family's keep-list — CC over the DF(src, dst)
    ``edges``, then :func:`keep_min_id`. The checkpoints the edge plan
    reads and ``ids`` does not (those its build staged) are read by
    nothing once CC has materialized, so they are freed then: a call
    leaves only CC's own result checkpoint (distributed path), none on
    the driver path, and never frees what the caller persisted."""
    staged = _checkpoints(edges, but=ids)
    cc = connected_components(edges)
    _free(staged)
    return keep_min_id(ids, cc)


def keep_min_id(rows: DataFrame, cc: DataFrame, key: str = "id") -> DataFrame:
    """``rows`` minus the duplicates: the dedup family's one keep rule.

    ``rows`` holds every candidate (its ``key`` column the CC node id; any
    other columns ride along); ``cc`` is connected_components' DF(id,
    root). A row is dropped iff its key is on the drop-list
    ``cc.where(root != id)``, so every component keeps its minimum id, and
    singletons and unsignable inputs (absent from the labels) keep
    themselves. NULL keys are dropped: no component can claim them.

    A left-anti join is estimated at its left side's size, so a semi-join
    against the keep-list downstream sees a keep-list no larger than its
    candidates and plans a broadcast from the start. A left join against
    the labels (the ``coalesce(root, id) == id`` form) is estimated at the
    product of both sides' sizes and pushed such a semi-join onto a
    SortMergeJoin that only AQE demoted, after both its shuffle-map stages
    had run. The labels' broadcast hint (driver path) reaches the anti
    join through the filter."""
    drop = cc.where(F.col("root") != F.col("id")).select(F.col("id").alias(key))
    return rows.where(F.col(key).isNotNull()).join(drop, key, "left_anti")
