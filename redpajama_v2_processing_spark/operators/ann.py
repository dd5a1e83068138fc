"""Similarity search over embedding columns (array<float>).

* ``cosine_topk``: brute-force exact top-k vs a query vector — the
  baseline. One scan, no shuffle except the final top-k (orderBy+limit is
  a TakeOrderedAndProject: per-partition heaps, driver merges k rows).
* ``hyperplane_signature`` / ``ann_lsh_topk`` / ``ann_multiprobe_lsh_topk``:
  random-hyperplane LSH — the scale path. Planes are derived
  deterministically from md5 (seeded), so signatures are reproducible
  everywhere; candidates = the query's probed buckets, re-ranked exactly.
* The vector-quantizer family (IVF here, PQ in ``operators/pq``, SemDeDup
  in ``operators/semdedup``) runs on four kernels:

  - ``_nearest_cell``: each point's nearest cell — one broadcast join
    against the cells and one grouped ``min`` of (distance, cid), ties to
    the smaller cid; rounded cosine with norms staged per vector
    and per cell (``functions/vectors.staged_cosine``), or a caller's
    distance (PQ's integer-exact L2);
  - ``_probe``: the query's ``n_probe`` nearest cells by rounded cosine,
    ties to the smaller cell;
  - ``_mean_vectors`` (over ``_component_means``): the exact_mean4 mean
    vector per group;
  - ``_lloyd``: Lloyd iterations over the two above, each iteration
    checkpointed and the superseded one freed.

Cosines are rounded (config.ANN_ROUND) before ranking so cross-engine
float-sum noise (~1e-15) cannot flip orderings; ties break on vec_id.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Sequence
from functools import lru_cache

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..config import ANN_ROUND, ANN_TOPK
from ..functions.vectors import cosine, norm, round_half_up, staged_cosine


def _lit_vec(vec: list[float]) -> Column:
    return F.array(*[F.lit(float(x)) for x in vec])


def _topk(scored: DataFrame, score: str, id_col: str, k: int) -> DataFrame:
    """The ``k`` rows of highest ``score``, ties to the smaller id."""
    return scored.orderBy(F.col(score).desc(), F.col(id_col).asc()).limit(k)


def _rerank(
    cand: DataFrame, query_vec: list[float], id_col: str, vec_col: str, k: int
) -> DataFrame:
    """DF(id_col, cos): exact top-k of ``cand`` by rounded cosine to the
    query, ties by id — the one rerank of every cosine top-k."""
    c = round_half_up(cosine(F.col(vec_col), _lit_vec(query_vec)), ANN_ROUND)
    return _topk(cand.select(F.col(id_col), c.alias("cos")), "cos", id_col, k)


def cosine_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = ANN_TOPK,
) -> DataFrame:
    """DF(vec_id, cos) — exact top-k by rounded cosine, ties by id."""
    return _rerank(embeddings, query_vec, id_col, vec_col, k)


@lru_cache(maxsize=16)
def plane_weights(dim: int, nbits: int) -> tuple[tuple[float, ...], ...]:
    """The hyperplane constants: plane p, component d =
    ((md5int('p:d') mod 2001) - 1000)/1000, a reproducible pseudo-random
    value in [-1, 1] (md5int = first 15 hex chars of md5 as int — the
    engine's portable hash contract). Materialized ONCE on the driver and
    inlined as literals: the planes are constants, so evaluating dim*nbits
    md5 calls per ROW (the previous formulation) was pure waste."""
    def w(p: int, d: int) -> float:
        h = int(hashlib.md5(f"{p}:{d}".encode()).hexdigest()[:15], 16)
        return ((h % 2001) - 1000) / 1000.0

    return tuple(tuple(w(p, d) for d in range(dim)) for p in range(nbits))


def _plane_bit(vec_col: Column, planes, p: int, shift: int) -> Column:
    """(1 << shift) iff round(dot(vec, plane_p), 6) > 0 else 0."""
    w_arr = F.array(*[F.lit(w) for w in planes[p]])
    d = F.aggregate(
        F.zip_with(vec_col, w_arr, lambda x, w: x.cast("double") * w),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return F.when(round_half_up(d, 6) > 0, F.lit(1 << shift).cast("bigint")).otherwise(
        F.lit(0).cast("bigint")
    )


def hyperplane_signature(vec_col: Column, dim: int, nbits: int) -> Column:
    """Deterministic random-hyperplane LSH signature (bigint).

    Bit p = 1 iff round(dot(vec, plane_p), 6) > 0 (rounded so the sign is
    stable under cross-engine float noise). Weights are literal arrays —
    the per-row work is dim multiply-adds per plane and nothing else (a
    fully flat expansion was tried first: 512 inlined terms overflow a
    janino method and deoptimize the whole stage to interpreted anyway).
    """
    planes = plane_weights(dim, nbits)
    out = _plane_bit(vec_col, planes, 0, 0)
    for p in range(1, nbits):
        out = out + _plane_bit(vec_col, planes, p, p)
    return out


def _lsh_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    id_col: str,
    vec_col: str,
    dim: int,
    nbits: int,
    k: int,
    flips: Sequence[int],
) -> DataFrame:
    """Hyperplane-LSH top-k: the vectors whose signature is the query's
    or the query's with one bit of ``flips`` flipped, reranked exactly."""
    qdf = embeddings.sparkSession.createDataFrame(
        [(query_vec,)], f"{vec_col}: array<float>"
    )
    qsig = qdf.select(
        hyperplane_signature(F.col(vec_col), dim, nbits).alias("b")
    ).collect()[0]["b"]
    probes = [qsig] + [qsig ^ (1 << p) for p in flips]
    sig = hyperplane_signature(F.col(vec_col), dim, nbits)
    return _rerank(
        embeddings.where(sig.isin(probes)), query_vec, id_col, vec_col, k
    )


def ann_lsh_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    nbits: int = 8,
    k: int = ANN_TOPK,
) -> DataFrame:
    """Approximate top-k: restrict to the query's LSH bucket, rank exactly.

    At cluster scale the bucket column is a partition/bucketing key, so the
    probe prunes to one bucket's files instead of scanning the corpus.
    """
    return _lsh_topk(embeddings, query_vec, id_col, vec_col, dim, nbits, k, ())


def banded_keys_frame(
    embeddings: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    nbits: int,
    band_bits: int,
) -> DataFrame:
    """DF(id, band_idx, band_hash): banded hyperplane keys in the dedup
    family's banded schema, whole-stage-codegen formulation — the
    production signature path.

    A Column-expression formulation (folding each dot product with
    F.aggregate, as hyperplane_signature does) evaluates INTERPRETED —
    higher-order functions are CodegenFallback — and measured ~12x slower
    than this at 50k x 64-plane vectors. Here the vector explodes to
    (id, pos, x), joins the
    broadcast (pos -> w_0..w_{nbits-1}) weight table, and ONE hash
    aggregation computes all nbits dots as integer micro-unit sums
    (sum of round(x*w*1e6) as bigint — exact integers, so the value is
    independent of summation order and both engines agree bit-for-bit);
    bit p = d_p > 0. Fully codegen, partial aggregation map-side, the
    exchange carries one row per vector.

    Note the bit rule differs in rounding from hyperplane_signature
    (per-term micro-unit rounding vs round(double dot, 6)) — the two
    formulations are distinct, internally-consistent LSH families; the
    production queries and their oracles use THIS one."""
    planes = plane_weights(dim, nbits)
    spark = embeddings.sparkSession
    rows = [(pos, *[planes[p][pos] for p in range(nbits)]) for pos in range(dim)]
    wdf = spark.createDataFrame(
        rows, "pos int, " + ", ".join(f"_w{p} double" for p in range(nbits))
    )
    # input contract: dense dim-length vectors. NULL/short vectors are
    # dropped EXPLICITLY (and identically in the oracle twin,
    # _hyperplane_band_ctes) — without the filter, posexplode silently
    # drops NULLs here while a SQL twin would emit key-0 band rows.
    ex = embeddings.where(F.size(F.col(vec_col)) == dim).select(
        F.col(id_col).alias("id"),
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("pos", "_x"),
    )
    sums = (
        ex.join(F.broadcast(wdf), "pos")
        .groupBy("id")
        .agg(
            *[
                F.sum(
                    F.round(F.col("_x") * F.col(f"_w{p}") * 1e6).cast("bigint")
                ).alias(f"_d{p}")
                for p in range(nbits)
            ]
        )
    )

    def key(b: int) -> Column:
        out = F.when(F.col(f"_d{b * band_bits}") > 0, F.lit(1).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
        for j in range(1, band_bits):
            out = out + F.when(
                F.col(f"_d{b * band_bits + j}") > 0, F.lit(1 << j).cast("bigint")
            ).otherwise(F.lit(0).cast("bigint"))
        return out

    bands = F.array(
        *[
            F.struct(F.lit(b).alias("band_idx"), key(b).alias("band_hash"))
            for b in range(nbits // band_bits)
        ]
    )
    return sums.select("id", F.explode(bands).alias("_bk")).select(
        "id", "_bk.band_idx", "_bk.band_hash"
    )


def ann_multiprobe_lsh_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    nbits: int = 8,
    k: int = ANN_TOPK,
) -> DataFrame:
    """Multiprobe hyperplane-LSH top-k: probe the query's bucket PLUS all
    nbits Hamming-1 neighbor buckets (query signature with one bit
    flipped), rerank candidates exactly.

    The standard recall fix for single-bucket LSH: a true neighbor whose
    signature differs in exactly one low-margin plane lands in a Hamming-1
    bucket, so probing them recovers most of the loss without touching the
    index layout — candidates grow only (nbits+1)-fold over one bucket
    (still ~n(nbits+1)/2^nbits of the corpus). The probe set is nbits+1
    literals, so at warehouse scale it prunes to nbits+1 bucket partitions.
    """
    return _lsh_topk(
        embeddings, query_vec, id_col, vec_col, dim, nbits, k, range(nbits)
    )


def cosine_verify(cand: DataFrame, vectors: DataFrame, threshold: float) -> DataFrame:
    """DF(src, dst, cos): candidate pairs DF(src, dst) whose rounded cosine
    reaches ``threshold`` — the embedding family's one verify (banded
    pairs, star keep, SemDeDup). Candidates are ids only; ``vectors``
    DF(id, v) is re-joined per side with its norm staged per VECTOR, so
    only the dot folds per PAIR (functions/vectors.staged_cosine). The
    candidates are repartitioned first: AQE would otherwise coalesce the
    byte-tiny frame and serialize the interpreted verify onto one core
    (20x wall blowup at the 50k fixture, BENCH.md r6)."""
    from .connected_components import verify_partitions

    cand = cand.repartition(verify_partitions(cand), "src", "dst")
    va = vectors.select(F.col("id").alias("src"), F.col("v").alias("_va")).withColumn(
        "_na", norm(F.col("_va"))
    )
    vb = vectors.select(F.col("id").alias("dst"), F.col("v").alias("_vb")).withColumn(
        "_nb", norm(F.col("_vb"))
    )
    cos = staged_cosine(
        F.col("_va"), F.col("_vb"), F.col("_na"), F.col("_nb"), ANN_ROUND
    )
    return (
        cand.join(va, "src")
        .join(vb, "dst")
        .select("src", "dst", cos.alias("cos"))
        .where(F.col("cos") >= threshold)
    )


def embedding_near_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    nbits: int = 8,
    band_bits: int | None = None,
    max_bucket: int | None = None,
) -> DataFrame:
    """DF(src, dst, cos), src < dst: embedding near-duplicates — LSH
    candidate pairs with rounded cosine >= threshold (never all-pairs).

    ``band_bits=None`` (oracle test profile): one bucket = the FULL
    nbits-plane signature; candidates ~n^2/2^nbits. Fine for small nbits
    test fixtures, quadratic-over-a-constant at corpus scale.

    ``band_bits=r`` (production, config.PROD_EMB_LSH): the signature is
    split into nbits/r bands; candidates = UNION over bands of per-band
    bucket joins, deduped BEFORE the cosine verify. Per-band key space is
    2^r, so expected bucket width is n/2^r — pick r so 2^r >> corpus
    bucket count (r=16 -> 65,536 keys/band). Recall for vectors at angle
    theta: 1 - (1 - (1-theta/pi)^r)^(nbits/r) — near-identical vectors
    (cos >= 0.99) collide on >=1 band with p > 0.92 at 64/16, while random
    pairs collide with p ~ (nbits/r)/2^r. Same banding scheme as
    PROD_MINHASH / PROD_SIMHASH (the reference's band scheme,
    /root/reference/src/minhashlsh.py:101).

    Plan shape (banded): explode band keys (id + 2 ints per row — vectors
    do NOT travel through the band shuffle), equi-self-join per
    (band_idx, band_hash), distinct (src, dst), then :func:`cosine_verify`
    re-joins the vectors. The distinct collapses multi-band hits before
    the expensive cosine, and both verify joins shuffle on the id key.

    ``max_bucket`` (banded path only) caps each bucket at its
    ``max_bucket`` smallest ids before the self-join: dense half-space
    clusters otherwise make bucket width grow with corpus size and the
    join quadratic again; the cap bounds any bucket to C(cap, 2) pairs
    (approximation — members beyond the cap can still match through
    another band; oracle-pinned in the prod queries).
    """
    from .connected_components import checkpoint_banded
    from .minhash_lsh import cap_bucket_width

    if band_bits is None:
        sig = hyperplane_signature(F.col(vec_col), dim, nbits)
        b = embeddings.select(
            F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"), sig.alias("_bucket")
        ).withColumn("_n", norm(F.col("_v")))
        a = b.select(F.col("_id").alias("src"), F.col("_v").alias("_va"),
                     F.col("_n").alias("_na"), "_bucket")
        c = b.select(F.col("_id").alias("dst"), F.col("_v").alias("_vb"),
                     F.col("_n").alias("_nb"), "_bucket")
        # norms staged per VECTOR on the join sides (staged_cosine)
        cos = staged_cosine(
            F.col("_va"), F.col("_vb"), F.col("_na"), F.col("_nb"), ANN_ROUND
        )
        return (
            a.join(c, "_bucket")
            .where(F.col("src") < F.col("dst"))
            .select("src", "dst", cos.alias("cos"))
            .where(F.col("cos") >= threshold)
        )
    banded = checkpoint_banded(cap_bucket_width(
        banded_keys_frame(embeddings, id_col, vec_col, dim, nbits, band_bits),
        max_bucket,
    ))
    a = banded.select(F.col("id").alias("src"), "band_idx", "band_hash")
    c = banded.select(F.col("id").alias("dst"), "band_idx", "band_hash")
    cand = (
        a.join(c, ["band_idx", "band_hash"])
        .where(F.col("src") < F.col("dst"))
        .select("src", "dst")
        .distinct()
    )
    vectors = embeddings.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    return cosine_verify(cand, vectors, threshold)


def embedding_dedup_keep(
    embeddings: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    nbits: int = 8,
    band_bits: int | None = None,
    max_bucket: int | None = None,
) -> DataFrame:
    """DF(id): keep-list — one vector (min id) per near-dup component
    (connected components over the near-dup pair graph), singletons kept.
    Same keep rule as the text dedup family (root == id)."""
    from .connected_components import dedup_keep_min_id

    return dedup_keep_min_id(
        embeddings.select(F.col(id_col).alias("id")),
        embedding_near_dup_pairs(
            embeddings, threshold, id_col, vec_col, dim, nbits, band_bits,
            max_bucket,
        ).select("src", "dst"),
    )


def embedding_dedup_star_keep(
    embeddings: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    nbits: int = 64,
    band_bits: int = 16,
) -> DataFrame:
    """DF(id): keep-list via STAR edges — the linear-candidate production
    dedup path for embeddings.

    The pairs formulation (embedding_near_dup_pairs) emits every
    same-bucket pair: candidate volume is bands*n^2/2^band_bits even on
    random data — quadratic over a constant, and no per-bucket cap fixes
    that (measured: the cap never binds on dispersed small buckets,
    BENCH.md). Here each bucket member links only to its bucket MIN id
    (the family's star-edge builder, minhash_lsh.candidate_edges: one
    bucket window, no join), the single edge is verified with
    rounded cosine >= threshold, and connected components assign roots:
    candidates <= n * n_bands BY CONSTRUCTION — the same star-edge shape
    that keeps MinHash-LSH linear (operators/minhash_lsh.candidate_edges).

    Recall model: a vector near-identical to a bucket-mate but not to the
    bucket min still clusters when any of the other bands links it;
    near-dup clusters at high cosine share most band keys, so their
    members reach a common min with probability ~the banding recall curve.
    """
    from .connected_components import checkpoint_banded, dedup_keep_min_id
    from .minhash_lsh import candidate_edges

    # the 64-sum banding aggregation (the dominant cost) runs once, into
    # the checkpoint; ids-only star candidates meet the vectors only in
    # the verify
    cand = candidate_edges(checkpoint_banded(
        banded_keys_frame(embeddings, id_col, vec_col, dim, nbits, band_bits)
    ))
    vectors = embeddings.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    edges = cosine_verify(cand, vectors, threshold).select("src", "dst")
    return dedup_keep_min_id(vectors.select("id"), edges)


def exact_mean4(col: Column) -> Column:
    """Aggregate: order-independent 4-decimal mean. Per-value fixed-point
    micro-units summed as exact integers, then the quotient floor((2n+d)/(2d))
    (ties toward +inf): double summation order differs across
    engines/partitionings, and float rounding of exact half boundaries
    differs between Spark and DuckDB, so the SUM must stay integral. The
    division itself is IEEE double division in both engines (bigint `/` is
    double-valued in Spark and DuckDB alike), so the result is
    cross-engine-deterministic — but exactly at a half boundary the
    quotient's half-ulp can cross the floor edge, deviating from true
    HALF_UP. Keep 2*sum(|x|*1e6) well below 2^53 per group (bounded
    signals easily satisfy this with margin, keeping the quotient ulp
    below 1/den)."""
    num = F.sum(F.round(col.cast("double") * 1e6).cast("bigint")) * 2
    den = F.count("*") * 200
    return (
        F.floor((num + F.count("*") * 100) / den).cast("bigint") / F.lit(10000.0)
    )


def _component_means(
    frame: DataFrame, keys: Sequence[str], vec_col: str = "v", out: str = "c"
) -> DataFrame:
    """DF(*keys, pos, out): the exact_mean4 mean of each vector component
    per group — posexplode + a two-level hash aggregation (partial means
    map-side), so both engines derive bit-identical means regardless of
    float summation order (+0.0 normalizes IEEE negative zero)."""
    return (
        frame.select(*keys, F.posexplode(F.col(vec_col)).alias("pos", "x"))
        .groupBy(*keys, "pos")
        .agg((exact_mean4(F.col("x")) + 0.0).alias(out))
    )


def _mean_vectors(
    frame: DataFrame, keys: Sequence[str], vec_col: str = "v"
) -> DataFrame:
    """DF(*keys, cv): the exact mean vector per group (components
    collected in position order)."""
    return (
        _component_means(frame, keys, vec_col)
        .groupBy(*keys)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "c"))), lambda s: s["c"]
            ).alias("cv")
        )
    )


def _nearest_cell(
    points: DataFrame,
    cells: DataFrame,
    keys: Sequence[str] = ("id",),
    on: Sequence[str] = (),
    dist: Callable[[Column, Column], Column] | None = None,
) -> DataFrame:
    """DF(*keys, cid, _d): each point DF(*keys, v) assigned to its nearest
    cell DF(*on, cid, cv) of the same ``on`` group, ``_d`` its distance.

    The default distance is the negated rounded cosine, with ``norm(v)``
    staged once per point and ``norm(cv)`` once per cell
    (functions/vectors.staged_cosine) so only the dot folds per (point,
    cell); ``dist(v, cv)`` replaces it (PQ's integer-exact L2). The cells
    broadcast and the argmin is ONE grouped ``min`` of the struct (_d,
    cid), ties to the smaller cid: partial-agg friendly, so the exchange
    carries one row per point (a row_number window would shuffle every
    joined (point, cell) row)."""
    if dist is None:
        points = points.withColumn("_nv", norm(F.col("v")))
        cells = cells.withColumn("_nc", norm(F.col("cv")))
        d = -staged_cosine(
            F.col("v"), F.col("cv"), F.col("_nv"), F.col("_nc"), ANN_ROUND
        )
    else:
        d = dist(F.col("v"), F.col("cv"))
    return (
        points.join(F.broadcast(cells), list(on) or None)
        .withColumn("_d", d)
        .groupBy(*keys)
        .agg(F.min(F.struct("_d", "cid")).alias("_w"))
        .select(*keys, "_w.cid", "_w._d")
    )


def _probe(cells: DataFrame, query_vec: list[float], n_probe: int) -> DataFrame:
    """DF(cid): the query's ``n_probe`` nearest cells by rounded cosine,
    ties to the smaller cid."""
    qcos = round_half_up(cosine(_lit_vec(query_vec), F.col("cv")), ANN_ROUND)
    return _topk(cells.select("cid", qcos.alias("_qc")), "_qc", "cid", n_probe).select(
        "cid"
    )


def _lloyd(
    points: DataFrame,
    cells: DataFrame,
    iters: int,
    keys: Sequence[str] = ("id",),
    on: Sequence[str] = (),
    dist: Callable[[Column, Column], Column] | None = None,
) -> DataFrame:
    """DF(*on, cid, cv): ``cells`` after ``iters`` Lloyd iterations over
    ``points`` — assignment by :func:`_nearest_cell`, update by
    :func:`_mean_vectors`. Lineage is cut per iteration with
    localCheckpoint so the plan stays O(1) deep, and the loop frees each
    superseded iteration's checkpoint, the one it made (the classic
    iterative-checkpoint slow leak — same ownership rule as the CC
    fixpoint: never the caller's ``cells`` or a cache of ``points``); the
    final cells stay materialized for the caller. Cells that lose all
    members disappear."""
    from .connected_components import _checkpoints, _free

    made: dict = {}
    for _ in range(iters):
        assign = _nearest_cell(points, cells, keys, on, dist).select(*keys, "cid")
        cells = _mean_vectors(
            points.join(assign, list(keys)), [*on, "cid"]
        ).localCheckpoint()
        _free(made)
        made = _checkpoints(cells)
    return cells


def _ivf_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    cells: DataFrame,
    id_col: str,
    vec_col: str,
    n_probe: int,
    k: int,
) -> DataFrame:
    """IVF-Flat top-k over ``cells`` DF(cid, cv): assign every vector to
    its nearest cell, keep the ids in the query's ``n_probe`` nearest
    cells (a broadcast semi-join), then fetch the vectors of those ids
    only and rerank them exactly. The probed ids (~n_probe/K of the
    corpus, no vectors) are the broadcast side of the fetch, so no vector
    is shuffled or broadcast for it."""
    points = embeddings.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    probed = _nearest_cell(points, cells).join(
        F.broadcast(_probe(cells, query_vec, n_probe)), "cid", "left_semi"
    ).select(F.col("id").alias(id_col))
    cand = embeddings.join(F.broadcast(probed), id_col, "left_semi")
    return _rerank(cand, query_vec, id_col, vec_col, k)


def ann_ivf_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    n_probe: int = 3,
    k: int = ANN_TOPK,
) -> DataFrame:
    """IVF-Flat approximate top-k: a coarse quantizer (per-label centroid
    vectors) assigns every vector to its nearest cell; the query probes its
    ``n_probe`` nearest cells and reranks only those vectors exactly.

    The scale path alongside hyperplane LSH: candidates shrink to
    ~n_probe/K of the corpus, the centroid table (K rows) broadcasts, and
    at warehouse scale the assigned cell is a partition key so the probe
    prunes files. Everything is rounded at ANN_ROUND before ranking (ties
    on label/id) so the plan is engine-portable and oracle-checked.
    """
    cells = _mean_vectors(
        embeddings.select(F.col(label_col).alias("cid"), F.col(vec_col).alias("v")),
        ["cid"],
    )
    return _ivf_topk(embeddings, query_vec, cells, id_col, vec_col, n_probe, k)


def kmeans_centroids(
    embeddings: DataFrame,
    k: int = 8,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """DF(cid, cv): spherical k-means centroids after ``iters`` Lloyd
    iterations — the trained coarse quantizer for IVF (ann_ivf_topk's
    per-label cells assume a label column; this learns cells from the
    vectors alone).

    Deterministic and engine-portable BY CONSTRUCTION, so the whole
    iterative algorithm is oracle-checkable: init = the k smallest ids'
    vectors; assignment = argmax ROUNDED cosine (ties to smallest cid,
    :func:`_nearest_cell`); update = exact_mean4 per component
    (:func:`_mean_vectors`), in :func:`_lloyd`. Cells that lose all
    members disappear (k can shrink) — identically in both engines.
    """
    emb = embeddings.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
    )
    init = emb.orderBy("id").limit(k).select(
        F.col("id").alias("cid"), F.col("v").alias("cv")
    )
    return _lloyd(emb, init, iters)


def kmeans_cells(
    embeddings: DataFrame,
    k: int = 8,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """DF(cid, pos, centroid): kmeans_centroids exploded to one row per
    centroid component (the oracle-comparable surface)."""
    return kmeans_centroids(embeddings, k, iters, id_col, vec_col).select(
        F.col("cid").cast("long").alias("cid"),
        F.posexplode("cv").alias("pos", "centroid"),
    ).select("cid", F.col("pos").cast("long").alias("pos"), "centroid")


def ann_ivf_trained_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k_cells: int = 8,
    iters: int = 3,
    n_probe: int = 3,
    k: int = ANN_TOPK,
) -> DataFrame:
    """IVF-Flat top-k over TRAINED cells: kmeans_centroids learns the
    coarse quantizer from the vectors (no label column needed), then the
    same IVF probe as ann_ivf_topk. At warehouse scale the assigned cell
    is the partition key and training cost amortizes over every query."""
    cells = kmeans_centroids(embeddings, k_cells, iters, id_col, vec_col)
    return _ivf_topk(embeddings, query_vec, cells, id_col, vec_col, n_probe, k)


def label_centroids(
    embeddings: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """DF(label, pos, centroid): per-label mean of each component.

    posexplode + two-level hash agg: partial means map-side, tiny result.
    """
    return _component_means(
        embeddings.select(F.col(label_col).alias("label"), F.col(vec_col).alias("v")),
        ["label"],
        out="centroid",
    )
