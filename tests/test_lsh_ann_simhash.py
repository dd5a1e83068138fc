"""MinHash/LSH internals, SimHash, ANN vs numpy brute force."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from redpajama_v2_processing_spark.operators.ann import (
    ann_lsh_topk, cosine_topk, label_centroids,
)
from redpajama_v2_processing_spark.operators.jaccard import jaccard_vs_query
from redpajama_v2_processing_spark.operators.minhash_lsh import (
    candidate_edges, lsh_buckets, minhash_bands, salted_bucket_edges,
)
from redpajama_v2_processing_spark.operators.simhash_dedup import (
    simhash_near_pairs, with_simhash,
)
from tests.conftest import docs_frame


def test_minhash_identical_docs_identical_bands(spark):
    df = docs_frame(spark, ["x y z w v u t s", "x y z w v u t s", "other doc here now"])
    bands = minhash_bands(df, "doc_id")
    b = {(r.id, r.band_idx): r.band_hash for r in bands.collect()}
    n_bands = max(k[1] for k in b) + 1
    assert all(b[(0, i)] == b[(1, i)] for i in range(n_bands))
    assert any(b[(0, i)] != b[(2, i)] for i in range(n_bands))


def test_lsh_bucket_and_edges(spark):
    df = docs_frame(spark, ["same words here one two three", "same words here one two three",
                            "different entirely unrelated content"])
    buckets = lsh_buckets(minhash_bands(df, "doc_id")).collect()
    assert all(r.min_id == 0 and r.n_docs == 2 for r in buckets)
    edges = candidate_edges(minhash_bands(df, "doc_id")).collect()
    assert {(r.src, r.dst) for r in edges} == {(1, 0)}


def test_salted_edges_same_connectivity(spark):
    df = docs_frame(spark, ["a b c d e f g"] * 6 + ["unique other doc text"])
    bands = minhash_bands(df, "doc_id")
    plain = candidate_edges(bands)
    salted = salted_bucket_edges(bands, salt_buckets=3)
    from redpajama_v2_processing_spark.operators.connected_components import (
        connected_components,
    )
    r1 = {r.id: r.root for r in connected_components(plain).collect()}
    r2 = {r.id: r.root for r in connected_components(salted).collect()}
    assert r1 == r2


def test_jaccard_vs_query_exact_values(spark):
    df = docs_frame(spark, ["a b c d", "a b c d", "a b c x", "q r s t"])
    # shingle(3): doc0 = {a b c, b c d}
    out = {r.id: r.jaccard for r in jaccard_vs_query(df, "doc_id", ["a b c", "b c d"]).collect()}
    assert out[0] == 1.0 and out[1] == 1.0
    assert out[2] == round(1 / 3, 6)  # {a b c, b c x} vs {a b c, b c d}
    assert out[3] == 0.0


def test_simhash_identity_and_near(spark):
    df = docs_frame(spark, ["w1 w2 w3 w4 w5 w6 w7 w8", "w1 w2 w3 w4 w5 w6 w7 w8", ""])
    h = {r.id: r.simhash for r in with_simhash(df, "doc_id").collect()}
    assert h[0] == h[1] and h[2] == 0
    pairs = simhash_near_pairs(df, "doc_id").collect()
    assert any(p.src == 0 and p.dst == 1 and p.hamming == 0 for p in pairs)


def test_simhash_prod_banding_subquadratic(spark):
    """The production profile (60-bit hash, 15-bit bands) must not emit
    O(n^2) candidates on a distinct corpus: growing the corpus 5x may grow
    the pair count at most ~linearly, while the 16-bit test profile
    (16 keys/band) visibly explodes quadratically on the same data."""
    from redpajama_v2_processing_spark.config import PROD_SIMHASH

    def corpus(n):
        # distinct docs + one fixed pair of exact dups
        texts = [f"token{i}a uniq{i}b word{i}c item{i}d thing{i}e" for i in range(n)]
        texts.append(texts[0])
        return docs_frame(spark, texts)

    def prod_pairs(df):
        return simhash_near_pairs(
            df, "doc_id", bits=PROD_SIMHASH["bits"],
            band_bits=PROD_SIMHASH["band_bits"],
            max_hamming=PROD_SIMHASH["max_hamming"],
        ).count()

    small, big = prod_pairs(corpus(60)), prod_pairs(corpus(300))
    assert big <= max(small, 1) * 10  # ~linear growth, not 25x
    quad = simhash_near_pairs(corpus(300), "doc_id").count()  # 16-bit profile
    assert quad > big * 10  # the old default really is the quadratic one


def test_simhash_bucket_cap(spark):
    """max_bucket caps per-(band,key) width: with cap=1 no bucket can emit
    a pair, and the exact-dup pair found without a cap disappears."""
    df = docs_frame(spark, ["same words here one two", "same words here one two"])
    assert simhash_near_pairs(df, "doc_id").count() > 0
    assert simhash_near_pairs(df, "doc_id", max_bucket=1).count() == 0


def test_simhash_star_dedup_keep(spark):
    """Star-edge simhash dedup: near-identical docs cluster to the min id,
    distinct docs survive, and the candidate volume is <= n * n_bands by
    construction (no bucket self-join)."""
    from redpajama_v2_processing_spark.config import PROD_SIMHASH
    from redpajama_v2_processing_spark.operators.simhash_dedup import (
        simhash_dedup_keep,
    )

    texts = (
        ["template page header body footer same words everywhere"] * 5
        + [f"entirely distinct document number {i} unique{i} tokens{i}" for i in range(4)]
    )
    df = docs_frame(spark, texts)
    kept = sorted(
        r.id
        for r in simhash_dedup_keep(
            df, "doc_id", bits=PROD_SIMHASH["bits"],
            band_bits=PROD_SIMHASH["band_bits"],
            max_hamming=PROD_SIMHASH["max_hamming"],
        ).collect()
    )
    assert kept == [0, 5, 6, 7, 8]  # dup cluster -> min id 0; rest survive


def test_embedding_star_dedup_keep(spark):
    """Star-edge embedding dedup keeps one vector per near-identical
    cluster (min id), all dispersed vectors survive."""
    from redpajama_v2_processing_spark.config import PROD_EMB_LSH
    from redpajama_v2_processing_spark.operators.ann import (
        embedding_dedup_star_keep,
    )

    rng = np.random.RandomState(17)
    base = rng.randn(64)
    rows = [(i, [float(x) for x in rng.randn(64)]) for i in range(10)]
    # three near-identical copies of `base` with ids 100..102
    for j in range(3):
        rows.append((100 + j, [float(x) * (1.0 + 0.0005 * j) for x in base]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    kept = sorted(
        r.id
        for r in embedding_dedup_star_keep(
            df, 0.95, nbits=PROD_EMB_LSH["nbits"],
            band_bits=PROD_EMB_LSH["band_bits"],
        ).collect()
    )
    assert kept == list(range(10)) + [100]  # cluster -> min id 100


def test_emb_lsh_banded_recall_and_subquadratic(spark):
    """PROD_EMB_LSH (64 planes, 4 bands of 16 bits) must (a) find a planted
    near-identical pair via >= 1 shared band and (b) keep CANDIDATE volume
    ~linear on a random corpus, while the old single 8-bit-signature
    profile emits n^2/256 candidates (quadratic-over-a-constant)."""
    from redpajama_v2_processing_spark.config import PROD_EMB_LSH
    from redpajama_v2_processing_spark.operators.ann import embedding_near_dup_pairs

    def corpus(n):
        rng = np.random.RandomState(100 + n)
        vecs = rng.randn(n, 64).astype("float64")
        rows = [(i, [float(x) for x in vecs[i]]) for i in range(n)]
        # planted near-dup of vector 0 (cosine ~ 1.0)
        rows.append((n, [float(x) * 1.001 for x in vecs[0]]))
        return spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def prod_candidates(df):
        # threshold=-1 accepts every LSH candidate -> measures volume
        return embedding_near_dup_pairs(
            df, -1.0, nbits=PROD_EMB_LSH["nbits"],
            band_bits=PROD_EMB_LSH["band_bits"],
        ).count()

    # (a) recall: the planted pair survives the real threshold
    found = embedding_near_dup_pairs(
        corpus(60), 0.95, nbits=PROD_EMB_LSH["nbits"],
        band_bits=PROD_EMB_LSH["band_bits"],
    ).collect()
    assert any(r.src == 0 and r.dst == 60 for r in found)

    # (b) candidate growth ~linear for banded prod, quadratic for 8-bit
    small, big = prod_candidates(corpus(60)), prod_candidates(corpus(300))
    assert big <= max(small, 1) * 10  # ~linear, not 25x
    quad = embedding_near_dup_pairs(corpus(300), -1.0, nbits=8).count()
    assert quad > big * 10  # the old default really is the quadratic one


def test_cosine_topk_matches_numpy(spark):
    rng = np.random.RandomState(3)
    vecs = rng.randn(50, 16).astype("float32")
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(50)],
        "vec_id long, embedding array<float>",
    )
    q = [float(x) for x in vecs[7]]
    got = [(r.vec_id, r.cos) for r in cosine_topk(df, q, k=10).collect()]
    sims = vecs @ vecs[7] / (np.linalg.norm(vecs, axis=1) * np.linalg.norm(vecs[7]))
    want = sorted(range(50), key=lambda i: (-round(float(sims[i]), 4), i))[:10]
    assert [g[0] for g in got] == want
    assert got[0][0] == 7 and got[0][1] == 1.0


def test_ann_multiprobe_recall_superset(spark):
    """Multiprobe candidates strictly include the single-bucket ones, so
    its top-k recall vs brute force can only improve; the query itself is
    always rank 1."""
    from redpajama_v2_processing_spark.operators.ann import (
        ann_multiprobe_lsh_topk,
    )

    rng = np.random.RandomState(21)
    vecs = rng.randn(60, 8).astype("float32")
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(60)],
        "vec_id long, embedding array<float>",
    )
    q = [float(x) for x in vecs[9]]
    exact = [r.vec_id for r in cosine_topk(df, q, k=10).collect()]
    single = [r.vec_id for r in ann_lsh_topk(df, q, dim=8, nbits=4, k=10).collect()]
    multi = [r.vec_id for r in ann_multiprobe_lsh_topk(df, q, dim=8, nbits=4, k=10).collect()]
    assert multi[0] == 9
    hits = lambda got: len(set(got) & set(exact))  # noqa: E731
    assert hits(multi) >= hits(single)


def test_ann_lsh_bucket_contains_query(spark):
    rng = np.random.RandomState(5)
    vecs = rng.randn(40, 8).astype("float32")
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    q = [float(x) for x in vecs[3]]
    got = ann_lsh_topk(df, q, dim=8, nbits=4, k=5).collect()
    assert got[0].vec_id == 3 and got[0].cos == 1.0  # query's own bucket


def test_label_centroids_match_numpy(spark):
    rng = np.random.RandomState(1)
    vecs = rng.randn(30, 4).astype("float32")
    labels = [i % 3 for i in range(30)]
    df = spark.createDataFrame(
        [(i, labels[i], [float(x) for x in vecs[i]]) for i in range(30)],
        "vec_id long, label int, embedding array<float>",
    )
    got = {(r.label, r.pos): r.centroid for r in label_centroids(df, dim=4).collect()}
    for lb in range(3):
        mean = vecs[np.array(labels) == lb].astype("float64").mean(axis=0)
        for p in range(4):
            assert abs(got[(lb, p)] - round(float(mean[p]), 4)) <= 1e-4


def test_kmeans_converges_on_separated_clusters(spark):
    """3 Lloyd iterations on 4 well-separated clusters (seeded so ids
    0..3 land one per cluster) must recover the per-cluster means to
    exact_mean4 precision."""
    from redpajama_v2_processing_spark.operators.ann import kmeans_cells

    rng = np.random.RandomState(31)
    centers = np.eye(4).repeat(2, axis=1) * 5  # 4 orthogonal-ish centers, dim 8
    rows = []
    for i in range(80):
        lbl = i % 4  # ids 0..3 are one point per cluster -> good init
        rows.append((i, [float(x) for x in centers[lbl] + rng.randn(8) * 0.05]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {}
    for r in kmeans_cells(df, k=4, iters=3).collect():
        got.setdefault(r.cid, {})[r.pos] = r.centroid
    assert len(got) == 4  # no cell collapsed
    vecs = np.array([r[1] for r in rows], dtype="float64")
    for cid in got:
        true_mean = vecs[np.arange(80) % 4 == cid % 4].mean(axis=0)
        for p in range(8):
            assert abs(got[cid][p] - round(float(true_mean[p]), 4)) <= 2e-4


def test_ann_ivf_matches_brute_force_on_clusters(spark):
    """On label-clustered vectors (label = true cluster), IVF with
    n_probe=1 must return the same top-k as exact brute force: all true
    neighbors live in the query's own cell."""
    from redpajama_v2_processing_spark.operators.ann import ann_ivf_topk

    rng = np.random.RandomState(11)
    centers = rng.randn(4, 16) * 3
    rows = []
    for i in range(80):
        lbl = i % 4
        rows.append((i, lbl, [float(x) for x in centers[lbl] + rng.randn(16) * 0.1]))
    df = spark.createDataFrame(rows, "vec_id long, label long, embedding array<float>")
    q = rows[5][2]  # a member of cluster 1
    exact = [r.vec_id for r in cosine_topk(df, q, k=10).collect()]
    ivf = [r.vec_id for r in ann_ivf_topk(df, q, n_probe=1, k=10).collect()]
    assert ivf == exact
    assert all(v % 4 == 1 for v in ivf)  # all from the query's cluster


def test_pq_encode_and_adc_ranking(spark):
    """PQ: vectors from two well-separated clusters encode to different
    code words, and ADC scores rank the query's own cluster above the
    other; encode emits exactly one code per (vector, subspace)."""
    from pyspark.sql import functions as F

    from redpajama_v2_processing_spark.operators.pq import (
        ann_pq_topk, pq_codebooks, pq_encode,
    )

    # cluster A ~ (1,1,...), cluster B ~ (-1,-1,...), dim 8, tiny jitter
    rows = []
    for i in range(10):
        rows.append((i, [1.0 - 0.01 * (i % 3)] * 8))
    for i in range(10, 20):
        rows.append((i, [-1.0 + 0.01 * (i % 3)] * 8))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cb = pq_codebooks(emb, m=2, k_codes=4, iters=2, dim=8)
    codes = pq_encode(emb, cb, m=2, dim=8)
    assert codes.count() == 20 * 2  # one code per (vector, subspace)
    assert codes.groupBy("id").count().where("count != 2").count() == 0
    # A and B members must not share a code word in any subspace
    a_codes = {(r.sub, r.cid) for r in codes.where(F.col("id") < 10).collect()}
    b_codes = {(r.sub, r.cid) for r in codes.where(F.col("id") >= 10).collect()}
    assert not (a_codes & b_codes)
    top = ann_pq_topk(emb, [1.0] * 8, m=2, k_codes=4, iters=2, dim=8, k=10)
    got = [r.vec_id for r in top.collect()]
    assert set(got) == set(range(10))  # the whole of cluster A, no B


@pytest.mark.parametrize("name", ["pq_codebooks", "kmeans_centroids"])
def test_pq_training_frees_iteration_checkpoints(spark, name):
    """The Lloyd iterations (ann._lloyd, shared by the PQ codebooks and
    the k-means coarse quantizer) must not leak superseded checkpoint
    blocks (same hygiene as the CC fixpoint)."""
    from redpajama_v2_processing_spark.operators.ann import kmeans_centroids
    from redpajama_v2_processing_spark.operators.connected_components import (
        _persistent_ids,
    )
    from redpajama_v2_processing_spark.operators.pq import pq_codebooks

    emb = spark.createDataFrame(
        [(i, [float((i * 7 + j) % 5) for j in range(8)]) for i in range(30)],
        "vec_id long, embedding array<double>",
    )
    train = {
        "pq_codebooks": lambda: pq_codebooks(emb, m=2, k_codes=4, iters=3, dim=8),
        "kmeans_centroids": lambda: kmeans_centroids(emb, k=4, iters=3),
    }
    sc = spark.sparkContext
    before = _persistent_ids(sc)
    cells = train[name]()
    cells.count()
    new = _persistent_ids(sc) - before
    assert len(new) <= 1  # only the final iteration's checkpoint survives


def test_simhash_empty_and_null_docs_hash_to_zero(spark):
    """Round-7 explode_outer guard: empty/whitespace/null docs must keep
    simhash 0 under BOTH hash families. The xxhash family is the trap —
    xxhash64 SKIPS null inputs (hash of nothing = seed constant), so an
    unguarded outer-explode row would cast a real ±1 vote and give empty
    docs a nonzero signature."""
    df = spark.createDataFrame(
        [(0, "real words here"), (1, ""), (2, "   "), (3, None)],
        "doc_id long, text string",
    )
    for portable in (True, False):
        got = {
            r.id: r.simhash
            for r in with_simhash(df, "doc_id", portable=portable).collect()
        }
        assert set(got) == {0, 1, 2, 3}, got
        assert got[1] == 0 and got[2] == 0 and got[3] == 0, (portable, got)
        assert got[0] != 0
