"""Product quantization (PQ) for memory-compressed similarity search.

IVF (operators/ann) prunes WHICH vectors a query scans; PQ compresses
WHAT is scanned: each vector splits into ``m`` subvectors, each quantized
to its nearest code in a per-subspace codebook (``k_codes`` centroids
learned by the same deterministic Lloyd scheme as the IVF quantizer), so
a dim-float vector becomes m small integers. ADC (asymmetric distance
computation) at query time: the query builds an m x k_codes lookup table
of subspace dot products (tiny — broadcast), and the corpus scan scores
each vector as the SUM of m table lookups; no float vector is read. The
standard FAISS IVF-PQ decomposition, re-expressed relationally.

Engine-portable BY CONSTRUCTION, so training + encode + ADC are all
oracle-checkable: every distance/dot is computed in integer micro-units
(components scaled by 1e6 and rounded to bigint BEFORE any arithmetic),
making assignment and scores exact integers — independent of summation
order, identical in Spark and DuckDB. Codebook updates use exact_mean4.

Scale notes: training runs on a sample (as FAISS does); the folds here
are higher-order functions (interpreted) over the tiny codebook join —
fine for training/encode batches; the ADC scan itself is a broadcast
join + grouped integer sum, fully codegen. At warehouse scale the code
columns are what you persist; the float vectors stay cold.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..config import ANN_TOPK
from .ann import (
    _lit_vec, _lloyd, _nearest_cell, _probe, _topk, kmeans_centroids,
)

PQ_M = 4        # subspaces
PQ_CODES = 16   # codes per subspace (a real deployment uses 256 = 1 byte)
PQ_ITERS = 2    # Lloyd iterations per subspace


def _mu(c: Column) -> Column:
    """Integer micro-units: round(x * 1e6) as bigint."""
    return F.round(c.cast("double") * 1e6).cast("bigint")


def _l2_mu(x: Column, c: Column) -> Column:
    """Exact integer squared L2 distance in micro-units^2 (bigint):
    sum over components of (mu(x_i) - mu(c_i))^2. Components in [-1, 1]
    and d_sub <= 64 keep the sum far below 2^53."""
    diff2 = F.zip_with(
        x, c, lambda a, b: (_mu(a) - _mu(b)) * (_mu(a) - _mu(b))
    )
    return F.aggregate(diff2, F.lit(0).cast("bigint"), lambda acc, v: acc + v)


def _dot_mu(x: Column, c: Column) -> Column:
    """Exact integer dot product in micro-units^2 (bigint)."""
    prod = F.zip_with(x, c, lambda a, b: _mu(a) * _mu(b))
    return F.aggregate(prod, F.lit(0).cast("bigint"), lambda acc, v: acc + v)


def subvector_frame(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = PQ_M,
    dim: int = 64,
) -> DataFrame:
    """DF(id, sub, sv): the m per-subspace slices of each vector."""
    d = dim // m
    subs = F.array(*[
        F.struct(
            F.lit(s).alias("sub"),
            F.slice(F.col(vec_col).cast("array<double>"), s * d + 1, d).alias("sv"),
        )
        for s in range(m)
    ])
    return embeddings.select(
        F.col(id_col).alias("id"), F.explode(subs).alias("_s")
    ).select("id", "_s.sub", "_s.sv")


def pq_codebooks(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = PQ_M,
    k_codes: int = PQ_CODES,
    iters: int = PQ_ITERS,
    dim: int = 64,
) -> DataFrame:
    """DF(sub, cid, cv): per-subspace codebooks after ``iters``
    deterministic Lloyd iterations (ann._lloyd). Init = the k_codes
    smallest ids' subvectors (cid = source id); assignment =
    integer-exact L2 argmin (ties to the smallest cid); update =
    exact_mean4 per component. All subspaces train in the SAME jobs (sub
    is a grouping key, not a loop). Codes that lose all members
    disappear — identically in both engines."""
    sv = subvector_frame(embeddings, id_col, vec_col, m, dim).withColumnRenamed(
        "sv", "v"
    )
    init_ids = embeddings.select(F.col(id_col).alias("id")).orderBy("id").limit(k_codes)
    cb = sv.join(init_ids, "id").select(
        "sub", F.col("id").alias("cid"), F.col("v").alias("cv")
    )
    return _lloyd(sv, cb, iters, keys=("id", "sub"), on=("sub",), dist=_l2_mu)


def pq_encode(
    embeddings: DataFrame,
    codebooks: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = PQ_M,
    dim: int = 64,
) -> DataFrame:
    """DF(id, sub, cid): each vector's code per subspace (integer-exact
    L2 argmin against the trained codebooks, ties to the smallest cid)."""
    sv = subvector_frame(embeddings, id_col, vec_col, m, dim).withColumnRenamed(
        "sv", "v"
    )
    return _nearest_cell(
        sv, codebooks, keys=("id", "sub"), on=("sub",), dist=_l2_mu
    ).select("id", "sub", "cid")


def _adc_lut(
    codebooks: DataFrame, query_vec: list[float], m: int, dim: int
) -> DataFrame:
    """DF(sub, cid, _qd): the query's ADC lookup table — the exact integer
    dot of each query subvector with each code word of its subspace."""
    d = dim // m
    qlit = F.array(*[_lit_vec(query_vec[s * d : (s + 1) * d]) for s in range(m)])
    return codebooks.select(
        "sub", "cid",
        _dot_mu(F.element_at(qlit, F.col("sub") + 1), F.col("cv")).alias("_qd"),
    )


def _adc_topk(
    codes: DataFrame, lut: DataFrame, id_col: str, k: int
) -> DataFrame:
    """DF(id_col, score): top-k of the codes DF(id, sub, cid) by ADC score
    (the lookups summed as an exact integer, divided once), ties by id."""
    scored = (
        codes.join(F.broadcast(lut), ["sub", "cid"])
        .groupBy("id")
        .agg((F.sum("_qd") / F.lit(1e12)).alias("score"))
        .select(F.col("id").alias(id_col), "score")
    )
    return _topk(scored, "score", id_col, k)


def ann_ivf_pq_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k_cells: int = 8,
    cell_iters: int = 3,
    m: int = PQ_M,
    k_codes: int = PQ_CODES,
    pq_iters: int = PQ_ITERS,
    n_probe: int = 3,
    dim: int = 64,
    k: int = ANN_TOPK,
) -> DataFrame:
    """DF(vec_id, score): IVF-PQ — the full FAISS decomposition. The
    trained coarse quantizer (ann.kmeans_centroids) prunes the scan to
    the query's ``n_probe`` nearest cells; ADC over PQ codes scores ONLY
    those cells' vectors. At warehouse scale the cell is the partition
    key (files outside the probed cells are never read) and the scan
    touches code columns only — the two compressions compose: ~n_probe/K
    of the corpus, at m integers per vector."""
    cells = kmeans_centroids(embeddings, k_cells, cell_iters, id_col, vec_col)
    points = embeddings.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    cand = (
        _nearest_cell(points, cells)
        .join(F.broadcast(_probe(cells, query_vec, n_probe)), "cid", "left_semi")
        .select("id")
    )
    cb = pq_codebooks(embeddings, id_col, vec_col, m, k_codes, pq_iters, dim)
    codes = pq_encode(embeddings, cb, id_col, vec_col, m, dim).join(cand, "id", "left_semi")
    return _adc_topk(codes, _adc_lut(cb, query_vec, m, dim), id_col, k)


def ann_ivf_pq_residual_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k_cells: int = 8,
    cell_iters: int = 3,
    m: int = PQ_M,
    k_codes: int = PQ_CODES,
    pq_iters: int = PQ_ITERS,
    n_probe: int = 3,
    dim: int = 64,
    k: int = ANN_TOPK,
) -> DataFrame:
    """DF(vec_id, score): IVF-PQ with RESIDUAL encoding — the faithful
    FAISS formulation. Vectors are assigned to coarse cells; PQ codebooks
    are trained on and encode the RESIDUALS r = x - centroid(cell(x))
    (residuals are far more compressible than raw vectors: the coarse
    quantizer removes the between-cell variance). ADC score for a probed
    cell's vector:

        dot(q, x) ~ dot(q, c_cell) + dot(q, r) ~ dot(q, c_cell)
                    + sum_sub lut[sub][code]

    with dot(q, c_cell) one per-cell constant. All dots in integer
    micro-units^2 (sum of round(a*1e6)*round(b*1e6)), so assignment,
    residuals (computed on micro-unit-rounded components) and scores are
    exact integers — engine-identical, fully oracle-checkable."""
    cells = F.broadcast(
        kmeans_centroids(embeddings, k_cells, cell_iters, id_col, vec_col)
    )
    emb = embeddings.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
    )
    # residuals on micro-unit-rounded components (exact in both engines):
    # r_i = (round(x_i*1e6) - round(c_i*1e6)) / 1e6
    resid = (
        emb.join(_nearest_cell(emb, cells).select("id", "cid"), "id")
        .join(cells, "cid")
        .select(
            "id", "cid",
            F.zip_with(
                "v", "cv", lambda x, c: (_mu(x) - _mu(c)).cast("double") / 1e6
            ).alias("_r"),
        )
    ).localCheckpoint(eager=True)
    cb = pq_codebooks(resid, "id", "_r", m, k_codes, pq_iters, dim)
    codes = pq_encode(resid, cb, "id", "_r", m, dim)
    cell_dot = cells.select(
        F.col("cid").alias("_cell"),
        _dot_mu(_lit_vec(query_vec), F.col("cv")).alias("_cd"),
    )
    probe = _probe(cells, query_vec, n_probe).select(F.col("cid").alias("_cell"))
    cand = codes.join(
        resid.select("id", F.col("cid").alias("_cell")), "id"
    ).join(F.broadcast(probe), "_cell", "left_semi")
    scored = (
        cand.join(F.broadcast(_adc_lut(cb, query_vec, m, dim)), ["sub", "cid"])
        .groupBy("id", "_cell")
        .agg(F.sum("_qd").alias("_rsum"))
        .join(F.broadcast(cell_dot), "_cell")
        .select(
            F.col("id").alias(id_col),
            ((F.col("_rsum") + F.col("_cd")) / F.lit(1e12)).alias("score"),
        )
    )
    return _topk(scored, "score", id_col, k)


def ann_pq_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = PQ_M,
    k_codes: int = PQ_CODES,
    iters: int = PQ_ITERS,
    dim: int = 64,
    k: int = ANN_TOPK,
) -> DataFrame:
    """DF(vec_id, score): approximate top-k by ADC — score(x) =
    sum over subspaces of dot(q_sub, codebook[sub][code(x, sub)]),
    an exact integer in micro-units^2 divided once at the end (so the
    value is order-independent and engine-identical). The scan side
    touches only the m code columns; the lookup table (m x k_codes rows)
    broadcasts. Ties break on id."""
    cb = pq_codebooks(embeddings, id_col, vec_col, m, k_codes, iters, dim)
    codes = pq_encode(embeddings, cb, id_col, vec_col, m, dim)
    return _adc_topk(codes, _adc_lut(cb, query_vec, m, dim), id_col, k)
