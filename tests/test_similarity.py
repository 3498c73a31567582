"""Similarity search: FAISS-Flat-parity brute force vs NumPy, LSH-ANN recall."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from rustserini_spark.operators.similarity import (
    _prefilter_pairs,
    build_ivf_index,
    cosine_neardup_pairs,
    cosine_topk,
    dot_topk,
    ivf_ann_topk,
    ivf_ann_topk_indexed,
    ivf_centroids,
    load_ivf_index,
    lsh_ann_topk,
    lsh_neardup_pairs,
)


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").persist()


@pytest.fixture(scope="module")
def emb_np(emb):
    rows = sorted((r.vec_id, np.array(r.embedding, dtype=np.float64)) for r in emb.collect())
    ids = np.array([r[0] for r in rows])
    mat = np.stack([r[1] for r in rows])
    return ids, mat


def _np_topk(ids, mat, q, k, metric):
    if metric == "cos":
        scores = (mat @ q) / (np.linalg.norm(mat, axis=1) * np.linalg.norm(q))
    else:
        scores = mat @ q
    scores = np.floor(scores * 10000 + 0.5) / 10000
    order = np.lexsort((ids, -scores))[:k]
    return list(zip(ids[order], scores[order]))


@pytest.mark.parametrize("metric", ["cos", "dot"])
def test_brute_force_matches_numpy(spark, emb, emb_np, metric):
    ids, mat = emb_np
    queries = emb.filter(F.col("vec_id") < 5)
    fn = cosine_topk if metric == "cos" else dot_topk
    res = fn(emb, queries, k=10)
    got = {}
    for r in res.collect():
        got.setdefault(r.qid, []).append((r.rank, r.vec_id, getattr(r, metric)))
    for qid in range(5):
        q = mat[np.where(ids == qid)[0][0]]
        expected = _np_topk(ids, mat, q, 10, metric)
        actual = sorted(got[qid])
        assert [a[1] for a in actual] == [int(e[0]) for e in expected], qid
        np.testing.assert_allclose([a[2] for a in actual], [e[1] for e in expected], atol=1e-9)


def test_self_is_rank1_with_cos1(emb):
    queries = emb.filter(F.col("vec_id") < 5)
    res = cosine_topk(emb, queries, k=1).collect()
    for r in res:
        assert r.vec_id == r.qid and r.cos == pytest.approx(1.0, abs=1e-4)


def test_neardup_pairs_symmetric_threshold(emb_np, spark, emb):
    ids, mat = emb_np
    norm = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    cos = norm @ norm.T
    cos = np.floor(cos * 10000 + 0.5) / 10000
    iu = np.triu_indices(len(ids), k=1)
    expected = {(int(ids[i]), int(ids[j])) for i, j in zip(*iu) if cos[i, j] >= 0.5}
    got = {(r.vec_a, r.vec_b) for r in cosine_neardup_pairs(emb, threshold=0.5).collect()}
    assert got == expected


@pytest.mark.parametrize("threshold", [0.5, 0.95])
def test_neardup_pairs_unchanged_by_ordered_prefilter(emb_np, emb, threshold):
    """Folding the vec_a < vec_b order into the raw-cosine prefilter changes
    no output row: the result equals the unfolded pipeline (prefilter, r4,
    then threshold and order), cos values included."""
    ids, mat = emb_np
    norm = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    raw = norm @ norm.T
    ai, bj = np.nonzero(raw >= threshold - 1e-4)
    cos = np.floor(raw[ai, bj] * 10000 + 0.5) / 10000
    keep = (cos >= threshold) & (ids[ai] < ids[bj])
    expected = {
        (int(a), int(b)): c for a, b, c in zip(ids[ai[keep]], ids[bj[keep]], cos[keep])
    }
    got = {(r.vec_a, r.vec_b): r.cos for r in cosine_neardup_pairs(emb, threshold).collect()}
    assert got.keys() == expected.keys()
    for pair, c in expected.items():
        assert got[pair] == pytest.approx(c, abs=1e-12), pair


def test_prefilter_drops_self_and_reversed_pairs():
    """On a dup-heavy block (20 vectors x 5 exact copies) the ordered
    prefilter keeps one orientation of each near-dup pair and no
    self-match: fewer than half the survivors of the unordered mask."""
    rng = np.random.default_rng(3)
    base = rng.normal(size=(20, 16))
    mat = np.repeat(base, 5, axis=0)
    ids = rng.permutation(100).astype(np.int64)
    norm = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    raw = norm @ norm.T
    pre = 0.95 - 1e-4
    unordered = list(zip(*np.nonzero(raw >= pre)))
    ordered = list(zip(*_prefilter_pairs(raw, pre, ids, ids)))
    assert len(ordered) == 20 * 10  # C(5, 2) pairs per group
    assert len(unordered) == 100 + 2 * len(ordered)
    assert set(ordered) == {(i, j) for i, j in unordered if ids[i] < ids[j]}


def test_lsh_ann_recall(spark, emb, emb_np):
    ids, mat = emb_np
    dim = mat.shape[1]
    queries = emb.filter(F.col("vec_id") < 8)
    approx = lsh_ann_topk(emb, queries, dim=dim, k=10, n_planes=6)
    got = {}
    for r in approx.collect():
        got.setdefault(r.qid, set()).add(r.vec_id)
    hits = total = 0
    for qid in range(8):
        q = mat[np.where(ids == qid)[0][0]]
        exact = {int(v) for v, _ in _np_topk(ids, mat, q, 10, "cos")}
        assert qid in got[qid]  # identical vector -> identical bucket -> always found
        hits += len(got.get(qid, set()) & exact)
        total += len(exact)
    assert hits / total > 0.15  # approximate by construction; bucketing must beat noise


@pytest.fixture(scope="module")
def clustered(spark):
    """Clustered vectors (the realistic ANN regime: neighbors are close, not
    uniform noise): 40 clusters x 50 points, dim 32."""
    rng = np.random.default_rng(7)
    centers = rng.standard_normal((40, 32))
    pts = np.repeat(centers, 50, axis=0) + 0.05 * rng.standard_normal((2000, 32))
    rows = [(i, [float(x) for x in pts[i]]) for i in range(2000)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>").persist()
    ids = np.arange(2000)
    # use float32-rounded values as ground truth (what Spark stores)
    mat = np.stack([np.array(r[1], dtype=np.float32).astype(np.float64) for r in rows])
    return df, ids, mat


def test_lsh_ann_multiprobe_recall_at_12_planes(spark, clustered):
    """Multi-probe (exact + all Hamming-1 buckets) holds recall >= 0.9 at
    n_planes=12 — the regime where single-probe recall collapses (4096
    buckets, ~0.5 vectors per bucket)."""
    df, ids, mat = clustered
    queries = df.filter(F.col("vec_id") < 16)
    approx = lsh_ann_topk(df, queries, dim=32, k=10, n_planes=12)
    got = {}
    for r in approx.collect():
        got.setdefault(r.qid, set()).add(r.vec_id)
    hits = total = 0
    for qid in range(16):
        exact = {int(v) for v, _ in _np_topk(ids, mat, mat[qid], 10, "cos")}
        hits += len(got.get(qid, set()) & exact)
        total += len(exact)
    assert hits / total >= 0.9, hits / total


def test_ivf_ann_recall_clustered(spark, clustered):
    """IVF,nprobe on clustered data: with a codebook near the true cluster
    count and 8/40 cells probed, recall vs brute-force cosine >= 0.9, and the
    query vector itself is always found (its own cell is always probed)."""
    df, ids, mat = clustered
    queries = df.filter(F.col("vec_id") < 16)
    approx = ivf_ann_topk(df, queries, dim=32, k=10, n_centroids=40, n_probe=8)
    got = {}
    for r in approx.collect():
        got.setdefault(r.qid, set()).add(r.vec_id)
    hits = total = 0
    for qid in range(16):
        q = mat[qid]
        exact = {int(v) for v, _ in _np_topk(ids, mat, q, 10, "cos")}
        assert qid in got[qid]
        hits += len(got.get(qid, set()) & exact)
        total += len(exact)
    assert hits / total >= 0.9, hits / total


def test_ivf_indexed_matches_per_call_path(spark, clustered, tmp_path):
    """The materialized cell-partitioned index answers IDENTICALLY to the
    per-call path (same codebook seed => same cells => same candidates =>
    same exact re-rank), while reading only probed cells' files. Also:
    load_ivf_index round-trips the codebook, and a re-build with the same
    fingerprint REUSES the stage instead of rewriting it."""
    import json
    import os

    df, ids, mat = clustered
    queries = df.filter(F.col("vec_id") < 16)
    base = str(tmp_path / "ivf")
    ivf = build_ivf_index(df, dim=32, base_dir=base, n_centroids=40)
    got_idx = {
        (r.qid, r.rank): (r.vec_id, r.cos)
        for r in ivf_ann_topk_indexed(spark, ivf, queries, k=10, n_probe=8).collect()
    }
    got_call = {
        (r.qid, r.rank): (r.vec_id, r.cos)
        for r in ivf_ann_topk(df, queries, dim=32, k=10, n_centroids=40, n_probe=8).collect()
    }
    assert got_idx == got_call and len(got_idx) == 160

    # round-trip + idempotent rebuild
    loaded = load_ivf_index(base)
    np.testing.assert_array_equal(loaded.centroids, ivf.centroids)
    with open(os.path.join(base, "ivf_cells", "_MANIFEST.json")) as f:
        first_write = json.load(f)["written_at_unix"]
    build_ivf_index(df, dim=32, base_dir=base, n_centroids=40)
    with open(os.path.join(base, "ivf_cells", "_MANIFEST.json")) as f:
        assert json.load(f)["written_at_unix"] == first_write  # reused, not rewritten

    # the table really is cell-partitioned on disk (one dir per cell)
    cells = {d for d in os.listdir(os.path.join(base, "ivf_cells")) if d.startswith("cell=")}
    assert len(cells) == 40


def test_ivf_centroids_deterministic_across_partitioning(spark, clustered):
    """The codebook is a pure function of the (id, vector) set + seed —
    identical at any input partitioning (the property cluster-size rank
    parity needs); a sample smaller than n_centroids yields one centroid per
    sample point."""
    df, _, _ = clustered
    a = ivf_centroids(df, dim=32, n_centroids=16, sample_mod=4)
    b = ivf_centroids(df.repartition(7), dim=32, n_centroids=16, sample_mod=4)
    assert a.shape == (16, 32)
    np.testing.assert_array_equal(a, b)
    tiny = df.filter(F.col("vec_id") < 8)
    c = ivf_centroids(tiny, dim=32, n_centroids=16)
    assert c.shape == (8, 32)


def test_lsh_neardup_composed_finds_planted_dups(spark, clustered):
    """The composed buckets->verify path finds planted near-identical pairs
    and never emits a pair below threshold (verify stage is exact)."""
    df, ids, mat = clustered
    # plant 5 near-identical twins of vectors 0..4 as ids 10000..10004
    twins = [
        (10000 + i, [float(x) for x in (mat[i] + 0.001 * np.random.default_rng(i).standard_normal(32))])
        for i in range(5)
    ]
    aug = df.unionByName(
        spark.createDataFrame(twins, "vec_id long, embedding array<float>")
    )
    got = {(r.vec_a, r.vec_b): r.cos for r in
           lsh_neardup_pairs(aug, dim=32, threshold=0.999, n_planes=10).collect()}
    for i in range(5):
        assert (i, 10000 + i) in got, (i, sorted(got))
    assert all(c >= 0.999 for c in got.values())


def test_lsh_neardup_bucket_cap_bounds_quadratic_work(spark):
    """A degenerate boilerplate cluster (all-identical vectors) stays bounded:
    with max_bucket=m the largest bucket contributes at most m(m-1)/2 pairs."""
    rows = [(i, [1.0] * 16) for i in range(500)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = lsh_neardup_pairs(df, dim=16, threshold=0.99, n_planes=8, max_bucket=20)
    n = pairs.count()
    assert 0 < n <= 20 * 19 // 2
