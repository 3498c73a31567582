"""Similarity search over embedding columns (array<float>).

Reference parity: the dense path is FAISS ``Flat`` / InnerProduct — exact
brute-force top-k (/root/reference/src/encode/vector_writer.rs:350,
/root/reference/src/searcher/faiss/searcher.rs:81-118). Here:

* ``cosine_topk`` / ``dot_topk`` — exact brute force, the FAISS-Flat
  equivalent: the (small) query set rides in the task closure as one NumPy
  matrix; every Arrow batch scores with ONE BLAS matmul (not per-element
  Catalyst folds — measured 10-100x slower at dim 768) and emits only its
  per-batch top-k per query, so the shuffle is O(batches·queries·k), not
  O(corpus·queries). Scales linearly with the corpus, no shuffle until the
  tiny top-k merge.
* ``cosine_neardup_pairs`` — exact embedding-cosine near-duplicate pairs
  (O(n^2) verify semantics, for oracles and within-bucket use).
* ``lsh_neardup_pairs`` — the composed 100 TB near-dup path: random-hyperplane
  LSH buckets -> within-bucket exact cosine verify (bounded bucket size),
  never an all-pairs stage.
* ``lsh_ann_topk`` — approximate NN with MULTI-PROBE: each query probes its
  exact bucket plus all Hamming-distance-1 buckets, recovering the recall
  that single-probe loses as n_planes grows. Approximate by construction
  (recall<1), so the driver records a rows-only check; pytest asserts recall
  against brute force.
* ``ivf_ann_topk`` — the FAISS IVF,nprobe composition: k-means codebook on a
  deterministic sample (driver NumPy), one map-pass cell assignment, probe
  the n_probe nearest cells per query via a broadcast join, exact re-rank in
  the candidate set. The scale path when the corpus is written
  cell-partitioned (probes become partition pruning).

Float results crossing the DuckDB comparison boundary use the shared
floor-based r4 (functions/parity.py) — `_r4_np` is its NumPy twin; rankings
order by the rounded score so last-ulp summation differences (BLAS vs SQL
fold order) can never flip a rank.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from rustserini_spark.session import fan_out, local_rows_df


def _r4_np(x: np.ndarray) -> np.ndarray:
    """NumPy twin of parity.r4 / sql_r4: floor(x*10000 + 0.5) / 10000."""
    return np.floor(x * 10000.0 + 0.5) / 10000.0


def _collect_queries(queries: DataFrame, id_col: str, vec_col: str):
    """Driver-side query matrix (the query set is small by contract — it is
    broadcast either way; FAISS holds it in RAM too). toPandas, not
    collect(): the Arrow transfer is an order of magnitude faster than
    pickled Rows for array columns, and cosine_neardup_pairs routes its
    (bounded, but tens-of-thousands-row) corpus matrix through here too."""
    pdf = queries.select(id_col, vec_col).toPandas()
    if pdf.empty:
        return np.empty(0, dtype=np.int64), np.empty((0, 0))
    qids = pdf[id_col].to_numpy().astype(np.int64)
    qmat = np.array([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
    return qids, qmat


def _stack(series) -> np.ndarray:
    return np.array([np.asarray(v, dtype=np.float64) for v in series])


def batch_topk_frame(
    ids: np.ndarray,
    m: np.ndarray,
    qids: np.ndarray,
    qmat: np.ndarray,
    qn: np.ndarray,
    metric: str,
    k: int,
    out: str,
) -> pd.DataFrame:
    """One BLAS matmul batch -> its per-query top-k rows (the shared scoring
    kernel of the brute-force and fused encode+score paths — one body so the
    two are float-identical by construction)."""
    s = m @ qmat.T  # (n_batch, n_queries)
    if metric == "cos":
        cn = np.sqrt((m * m).sum(axis=1))
        s = s / (cn[:, None] * qn[None, :])
    s = _r4_np(s)
    take = min(k, ids.size)
    out_q, out_id, out_s = [], [], []
    for j in range(qids.size):
        top = np.lexsort((ids, -s[:, j]))[:take]
        out_q.append(np.full(take, qids[j], dtype=np.int64))
        out_id.append(ids[top])
        out_s.append(s[top, j])
    return pd.DataFrame(
        {
            "qid": np.concatenate(out_q),
            "vec_id": np.concatenate(out_id),
            out: np.concatenate(out_s),
        }
    )


def topk_window(partial: DataFrame, k: int, out: str) -> DataFrame:
    """Global top-k merge over per-batch partials: rounded-score desc, vec_id
    asc tie-break (the Lucene ordering the BM25 path uses too)."""
    w = Window.partitionBy("qid").orderBy(F.desc(out), F.asc("vec_id"))
    return partial.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def _matmul_topk_factory(qids: np.ndarray, qmat: np.ndarray, metric: str, k: int, id_col: str, vec_col: str, out: str):
    """mapInPandas generator: one BLAS matmul per Arrow batch, emit only the
    per-batch top-k per query (global top-k ⊆ union of batch top-ks)."""
    qn = np.sqrt((qmat * qmat).sum(axis=1))

    def gen(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf[id_col].to_numpy().astype(np.int64)
            m = _stack(pdf[vec_col])
            yield batch_topk_frame(ids, m, qids, qmat, qn, metric, k, out)

    return gen


def _brute_topk(
    corpus: DataFrame, queries: DataFrame, k: int, metric: str, out: str, id_col: str, vec_col: str
) -> DataFrame:
    spark = corpus.sparkSession
    qids, qmat = _collect_queries(queries, id_col, vec_col)
    schema = f"qid long, vec_id long, {out} double"
    if qids.size == 0:
        return local_rows_df(spark, [], schema)
    partial = corpus.select(id_col, vec_col).mapInPandas(
        _matmul_topk_factory(qids, qmat, metric, k, id_col, vec_col, out), schema
    )
    return topk_window(partial, k, out)


def cosine_topk(
    corpus: DataFrame, queries: DataFrame, k: int = 10, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    return _brute_topk(corpus, queries, k, "cos", "cos", id_col, vec_col)


def dot_topk(
    corpus: DataFrame, queries: DataFrame, k: int = 10, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """FAISS Flat/InnerProduct parity: exact max-inner-product top-k."""
    return _brute_topk(corpus, queries, k, "dot", "dot", id_col, vec_col)


def _prefilter_pairs(raw: np.ndarray, pre: float, a_ids: np.ndarray, ids: np.ndarray):
    """Cells (i, j) of a batch-by-corpus cosine block with raw >= ``pre`` and
    a_ids[i] < ids[j]: the id order folds into the prefilter, so self-matches
    and the reversed orientation of every pair never reach the rounding."""
    return np.nonzero((raw >= pre) & (a_ids[:, None] < ids[None, :]))


def cosine_neardup_pairs(corpus: DataFrame, threshold: float = 0.95, id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """(vec_a, vec_b, cos) for pairs with cosine >= threshold, vec_a < vec_b.

    Exact O(n^2) VERIFY semantics — the oracle definition, and the
    within-bucket stage of the composed path. Never call this on a full
    web-scale corpus: use lsh_neardup_pairs, which applies exactly this
    predicate inside bounded LSH buckets.

    Executed as a BLAS block matmul: the (small, by contract) corpus matrix
    is collected/normalized once driver-side and each Arrow batch multiplies
    its rows against it — one vectorized pass, O(n^2 * dim) flops in BLAS.
    The previous form was a `vec_a < vec_b` theta-join, which Spark can only
    plan as BroadcastNestedLoopJoin with a per-PAIR Catalyst `aggregate`
    fold for the dot product: measured 54s vs <1s for ~5k vectors at sf0.1,
    same rows (the r4 rounding absorbs BLAS-vs-fold summation-order fp
    noise, exactly as the matmul top-k paths already rely on)."""
    spark = corpus.sparkSession
    ids, mat = _collect_queries(corpus, id_col, vec_col)
    if ids.size == 0:
        return local_rows_df(spark, [], "vec_a long, vec_b long, cos double")
    matn = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-300)

    # survivors-only rounding: r4 can raise a value by at most 5e-5, so a
    # raw-cosine prefilter at (threshold - 1e-4) keeps every pair the final
    # rounded filter can keep. The elementwise r4 (3 ops + three full-matrix
    # temporaries over every one of the n^2/P cells per task) then runs only
    # on the tiny surviving set — measured 3-4x on the whole exact pass at
    # 20k vectors, bit-identical output (the reported cos is still the
    # rounded float64 value).
    pre = float(threshold) - 1e-4

    def gen(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            m = _stack(pdf[vec_col])
            mn = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-300)
            a_ids = pdf[id_col].to_numpy().astype(np.int64)
            raw = mn @ matn.T
            ai, bj = _prefilter_pairs(raw, pre, a_ids, ids)
            cos = _r4_np(raw[ai, bj])
            keep = cos >= threshold
            yield pd.DataFrame(
                {"vec_a": a_ids[ai[keep]], "vec_b": ids[bj[keep]], "cos": cos[keep]}
            )

    return fan_out(corpus.select(id_col, vec_col)).mapInPandas(
        gen, "vec_a long, vec_b long, cos double"
    )


def dot_topk_prf(
    corpus: DataFrame, queries: DataFrame, k: int = 10, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """PRF variant (reference O20): hits plus the raw query vector, mirroring
    PRFDenseSearchResult {docid, score, prf_score}
    (/root/reference/src/searcher/faiss/searcher.rs:25-38, :101-107)."""
    hits = dot_topk(corpus, queries, k, id_col, vec_col)
    qvec = queries.select(F.col(id_col).alias("qid"), F.col(vec_col).alias("prf_vector"))
    return hits.join(F.broadcast(qvec), "qid")


# ---------------------------------------------------------------- LSH ANN ---


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> np.ndarray:
    return np.random.default_rng(seed).standard_normal((n_planes, dim))


def lsh_signatures(
    vecs: DataFrame, dim: int, n_planes: int = 12, seed: int = 42, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """(vec_id, bucket): sign-bit bucket from seeded random hyperplanes.
    Arrow-batched matrix multiply — one pass, no shuffle."""
    planes = _hyperplanes(dim, n_planes, seed)

    def sig(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            m = _stack(pdf[vec_col])
            bits = (m @ planes.T) > 0
            bucket = (bits * (1 << np.arange(n_planes))).sum(axis=1).astype(np.int64)
            yield pd.DataFrame({"vec_id": pdf[id_col].astype("int64"), "bucket": bucket})

    return vecs.select(id_col, vec_col).mapInPandas(sig, "vec_id long, bucket long")


def lsh_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    n_planes: int = 8,
    seed: int = 42,
    n_probe_bits: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate NN with multi-probe: each query probes its exact bucket
    plus every Hamming-distance-1 bucket (n_planes+1 probes — near-boundary
    hyperplane flips are the dominant miss mode of single-probe LSH, so recall
    recovers without lowering n_planes). One bucket-join shuffle; candidate
    count ~ (n_planes+1)·n/2^planes per query, independent of corpus size.
    Exact cosine re-rank (BLAS matmul) inside the candidate set."""
    spark = corpus.sparkSession
    planes = _hyperplanes(dim, n_planes, seed)
    qids, qmat = _collect_queries(queries, id_col, vec_col)
    if qids.size == 0:
        return local_rows_df(spark, [], "qid long, vec_id long, cos double, rank int")
    if n_probe_bits is None:
        n_probe_bits = n_planes  # probe all Hamming-1 neighbors by default

    bits = (qmat @ planes.T) > 0
    base = (bits * (1 << np.arange(n_planes))).sum(axis=1).astype(np.int64)
    probe_rows = [(int(q), int(b)) for q, b in zip(qids, base)]
    for flip in range(n_probe_bits):
        for q, b in zip(qids, base):
            probe_rows.append((int(q), int(b ^ (1 << flip))))
    probes = local_rows_df(spark, probe_rows, "qid long, bucket long")

    csig = lsh_signatures(corpus, dim, n_planes, seed, id_col, vec_col)
    cand = csig.join(F.broadcast(probes), "bucket").select("qid", "vec_id").distinct()
    c = corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("_vec"))
    return _rerank_cosine(cand.join(c, "vec_id"), qids, qmat, k)


def _rerank_cosine(joined: DataFrame, qids: np.ndarray, qmat: np.ndarray, k: int) -> DataFrame:
    """Exact cosine re-rank of (qid, vec_id, _vec) candidate rows against the
    driver-side query matrix: one vectorized row-wise product per Arrow batch,
    then the tiny global top-k window. Shared by the LSH and IVF ANN paths."""
    qidx = {int(q): i for i, q in enumerate(qids)}
    qn = np.sqrt((qmat * qmat).sum(axis=1))

    def score(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            m = _stack(pdf["_vec"])
            qi = np.array([qidx[int(q)] for q in pdf["qid"]], dtype=np.int64)
            s = (m * qmat[qi]).sum(axis=1)
            cn = np.sqrt((m * m).sum(axis=1))
            cos = _r4_np(s / (cn * qn[qi]))
            yield pd.DataFrame(
                {
                    "qid": pdf["qid"].to_numpy().astype(np.int64),
                    "vec_id": pdf["vec_id"].to_numpy().astype(np.int64),
                    "cos": cos,
                }
            )

    scored = joined.mapInPandas(score, "qid long, vec_id long, cos double")
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("vec_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


# ---------------------------------------------------------------- IVF ANN ---


def ivf_centroids(
    corpus: DataFrame,
    dim: int,
    n_centroids: int = 64,
    seed: int = 42,
    sample_mod: int | None = None,
    n_iters: int = 5,
    max_sample: int = 65536,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Deterministic IVF codebook: k-means (Lloyd) on a hash-deterministic
    corpus sample, trained driver-side in NumPy.

    FAISS trains IVF codebooks on a bounded sample too (total corpus k-means
    is never the practice at scale); ``sample_mod`` keeps the sample
    corpus-size-independent — rows with xxhash64(id) % sample_mod == 0 are
    the training set (pure function of the id set, independent of
    partitioning/cluster size). ``sample_mod=None`` derives it from one count
    so the collected sample stays <= ~``max_sample`` rows at ANY corpus size
    (the driver never holds corpus-scale data). Empty cells re-seed from the
    farthest sample point; a sample smaller than ``n_centroids`` yields one
    centroid per sample point (a codebook cannot exceed its training set)."""
    sample = corpus.select(id_col, vec_col)
    if sample_mod is None:
        # ceil division: floor would collect up to ~2x max_sample rows for
        # corpus sizes just under 2*max_sample
        sample_mod = max(1, -(-sample.count() // max_sample))
    if sample_mod > 1:
        sample = sample.filter(F.pmod(F.xxhash64(F.col(id_col)), F.lit(sample_mod)) == 0)
    rows = sample.orderBy(id_col).collect()
    if not rows:
        raise ValueError("ivf_centroids: empty training sample")
    m = np.array([np.asarray(r[1], dtype=np.float64) for r in rows])
    rng = np.random.default_rng(seed)
    init = rng.choice(len(m), size=min(n_centroids, len(m)), replace=False)
    cent = m[np.sort(init)].copy()
    for _ in range(n_iters):
        # cosine assignment: normalize once, argmax dot
        cn = np.linalg.norm(cent, axis=1, keepdims=True)
        assign = np.argmax((m @ (cent / np.maximum(cn, 1e-12)).T), axis=1)
        for c in range(cent.shape[0]):
            members = m[assign == c]
            if len(members):
                cent[c] = members.mean(axis=0)
            else:  # re-seed dead cell deterministically: farthest point
                # true cosine distance: normalize BOTH sides (an unnormalized
                # centroid would bias the farthest-point choice toward
                # large-norm centroids)
                mn_ = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
                cn_ = cent / np.maximum(np.linalg.norm(cent, axis=1, keepdims=True), 1e-12)
                d = 1.0 - (mn_ @ cn_.T).max(axis=1)
                cent[c] = m[int(np.argmax(d))]
    return cent


def ivf_assignments(
    corpus: DataFrame,
    centroids: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, cell): nearest-centroid (cosine) cell per vector — one Arrow
    map pass, one matmul per batch, no shuffle. At warehouse scale this is
    materialized once and the vector table is written cell-partitioned, so a
    probe reads only its cells' files (partition pruning)."""
    cn = centroids / np.maximum(np.linalg.norm(centroids, axis=1, keepdims=True), 1e-12)

    def assign(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            m = _stack(pdf[vec_col])
            mn = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
            cell = np.argmax(mn @ cn.T, axis=1).astype(np.int32)
            yield pd.DataFrame({"vec_id": pdf[id_col].astype("int64"), "cell": cell})

    return corpus.select(id_col, vec_col).mapInPandas(assign, "vec_id long, cell int")


def ivf_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    n_centroids: int = 64,
    n_probe: int = 8,
    seed: int = 42,
    sample_mod: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF approximate NN — the classic FAISS IVF,nprobe composition in
    DataFrame form (/root/reference/src/encode/vector_writer.rs:372-375 uses
    the Flat index; IVF is its documented scale-out sibling):

      1. codebook: k-means on a deterministic sample (driver NumPy);
      2. invert: cell per corpus vector (one map pass, matmul per batch);
      3. probe: each query's ``n_probe`` nearest cells (driver NumPy) become
         a broadcast (qid, cell) relation;
      4. candidates: one broadcast-hash join cell==cell — candidate count
         ~ n_probe/n_centroids of the corpus per query, tunable recall/cost;
      5. exact cosine re-rank inside the candidate set (shared _rerank_cosine).

    Approximate by construction (recall < 1 when a true neighbor's cell is
    outside the probe set); pytest gates recall against brute-force cosine."""
    spark = corpus.sparkSession
    qids, qmat = _collect_queries(queries, id_col, vec_col)
    if qids.size == 0:
        return local_rows_df(spark, [], "qid long, vec_id long, cos double, rank int")
    cent = ivf_centroids(corpus, dim, n_centroids, seed, sample_mod, id_col=id_col, vec_col=vec_col)
    order = _probe_cells_for(qmat, cent, n_probe)
    probe_rows = [
        (int(q), int(c)) for q, cells in zip(qids, order) for c in cells
    ]
    probes = local_rows_df(spark, probe_rows, "qid long, cell int")

    cells = ivf_assignments(corpus, cent, id_col, vec_col)
    cand = cells.join(F.broadcast(probes), "cell").select("qid", "vec_id")
    c = corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("_vec"))
    return _rerank_cosine(cand.join(c, "vec_id"), qids, qmat, k)


def _probe_cells_for(qmat: np.ndarray, centroids: np.ndarray, n_probe: int) -> np.ndarray:
    """(n_queries, n_probe) nearest-centroid (cosine) cells per query —
    driver NumPy, the query set and codebook are both small by contract."""
    cn = centroids / np.maximum(np.linalg.norm(centroids, axis=1, keepdims=True), 1e-12)
    qn = qmat / np.maximum(np.linalg.norm(qmat, axis=1, keepdims=True), 1e-12)
    return np.argsort(-(qn @ cn.T), axis=1)[:, : min(n_probe, centroids.shape[0])]


@dataclass
class IvfIndex:
    """A materialized IVF index: cell-partitioned vector table + codebook.

    The scale path the FAISS searcher models (index trained/persisted once,
    opened for every search — /root/reference/src/searcher/faiss/searcher.rs:41-64):
    the corpus is written ONCE partitioned by cell, so each query batch reads
    only its probed cells' files (Catalyst partition pruning at the scan) —
    unlike ``ivf_ann_topk`` which re-derives the codebook and re-scans/
    re-assigns the full corpus on every call.
    """

    path: str
    centroids: np.ndarray
    id_col: str = "vec_id"
    vec_col: str = "embedding"

    def table(self, spark) -> DataFrame:
        return spark.read.parquet(self.path)


IVF_STAGE = "ivf_cells"
IVF_META = "ivf_meta.json"


def build_ivf_index(
    corpus: DataFrame,
    dim: int,
    base_dir: str,
    n_centroids: int = 64,
    seed: int = 42,
    sample_mod: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> IvfIndex:
    """Train the codebook, assign cells, and write the vector table
    partitioned by cell (one build-time shuffle on ``cell`` so each cell's
    rows coalesce into its own files). Idempotent via the catalog stage
    fingerprint — a matching prior build is reused, not rewritten."""
    from rustserini_spark.sources.catalog import Catalog, fingerprint

    cat = Catalog(base_dir)
    cent = ivf_centroids(
        corpus, dim, n_centroids, seed, sample_mod, id_col=id_col, vec_col=vec_col
    )
    fp = fingerprint("ivf", n_centroids, seed, sample_mod, id_col, vec_col,
                     np.round(cent, 9).tolist())
    vec_type = corpus.schema[vec_col].dataType.simpleString()
    cn = cent / np.maximum(np.linalg.norm(cent, axis=1, keepdims=True), 1e-12)

    def assign_with_vec(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            m = _stack(pdf[vec_col])
            mn = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
            cell = np.argmax(mn @ cn.T, axis=1).astype(np.int32)
            yield pd.DataFrame(
                {
                    "vec_id": pdf[id_col].astype("int64"),
                    "cell": cell,
                    "embedding": pdf[vec_col],
                }
            )

    assigned = corpus.select(id_col, vec_col).mapInPandas(
        assign_with_vec, f"vec_id long, cell int, embedding {vec_type}"
    )
    cat.write_stage(
        IVF_STAGE, assigned, fp,
        partition_by=["cell"], repartition_by=["cell"],
        n_partitions=max(1, n_centroids),
    )
    cat.write_json(IVF_META, {
        "fingerprint": fp, "dim": dim, "n_centroids": int(cent.shape[0]),
        "seed": seed, "id_col": id_col, "vec_col": vec_col,
        "centroids": cent.tolist(),
    })
    return IvfIndex(
        path=f"{base_dir}/{IVF_STAGE}", centroids=cent, id_col=id_col, vec_col=vec_col
    )


def load_ivf_index(base_dir: str) -> IvfIndex:
    """Open a previously built IVF index (codebook from the catalog meta)."""
    from rustserini_spark.sources.catalog import Catalog

    meta = Catalog(base_dir).read_json(IVF_META)
    if meta is None:
        raise FileNotFoundError(f"no IVF index at {base_dir}")
    return IvfIndex(
        path=f"{base_dir}/{IVF_STAGE}",
        centroids=np.asarray(meta["centroids"], dtype=np.float64),
        id_col=meta["id_col"],
        vec_col=meta["vec_col"],
    )


def ivf_ann_topk_indexed(
    spark,
    ivf: IvfIndex,
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 8,
) -> DataFrame:
    """IVF,nprobe search over a MATERIALIZED cell-partitioned table: the scan
    carries ``cell IN (probed)`` as a partition filter, so only the probed
    cells' files are read — candidate cost per batch is
    O(n_probe/n_centroids · corpus), never a full-corpus scan/re-assign
    (tests assert the pruned scan in test_plans.py)."""
    qids, qmat = _collect_queries(queries, ivf.id_col, ivf.vec_col)
    if qids.size == 0:
        return local_rows_df(spark, [], "qid long, vec_id long, cos double, rank int")
    order = _probe_cells_for(qmat, ivf.centroids, n_probe)
    probe_rows = [(int(q), int(c)) for q, cells in zip(qids, order) for c in cells]
    probes = local_rows_df(spark, probe_rows, "qid long, cell int")
    wanted = sorted({c for _, c in probe_rows})

    tbl = ivf.table(spark).filter(F.col("cell").isin(wanted))  # partition pruning
    cand = tbl.join(F.broadcast(probes), "cell").select(
        "qid", F.col("vec_id"), F.col("embedding").alias("_vec")
    )
    return _rerank_cosine(cand, qids, qmat, k)


def lsh_neardup_pairs(
    corpus: DataFrame,
    dim: int,
    threshold: float = 0.95,
    n_planes: int = 12,
    seed: int = 42,
    max_bucket: int = 10_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Composed embedding near-dup for web scale: LSH buckets -> within-bucket
    exact cosine verify (one pairwise matmul per bucket). The quadratic work is
    bounded by the LARGEST BUCKET, never the corpus: buckets above
    ``max_bucket`` are truncated to their lowest-id members (a bucket that
    large is a degenerate boilerplate cluster — its members are already
    near-dups of the kept prefix; exact-dedup upstream is the right tool).
    Approximate by construction (a pair split across buckets is missed — the
    standard LSH recall trade; raise recall by lowering n_planes or running
    multiple seeds and unioning)."""
    planes = _hyperplanes(dim, n_planes, seed)

    def sig_with_vec(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            m = _stack(pdf[vec_col])
            bits = (m @ planes.T) > 0
            bucket = (bits * (1 << np.arange(n_planes))).sum(axis=1).astype(np.int64)
            yield pd.DataFrame(
                {
                    "bucket": bucket,
                    "vec_id": pdf[id_col].to_numpy().astype(np.int64),
                    "_vec": pdf[vec_col],
                }
            )

    tagged = fan_out(corpus.select(id_col, vec_col)).mapInPandas(
        sig_with_vec, f"bucket long, vec_id long, _vec {corpus.schema[vec_col].dataType.simpleString()}"
    )

    def bucket_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pd.DataFrame({"vec_a": [], "vec_b": [], "cos": []}).astype(
                {"vec_a": np.int64, "vec_b": np.int64, "cos": np.float64}
            )
        pdf = pdf.sort_values("vec_id")
        if len(pdf) > max_bucket:
            pdf = pdf.iloc[:max_bucket]
        ids = pdf["vec_id"].to_numpy().astype(np.int64)
        m = _stack(pdf["_vec"])
        n = np.sqrt((m * m).sum(axis=1))
        raw = (m @ m.T) / (n[:, None] * n[None, :])
        ai, bi = np.triu_indices(ids.size, k=1)
        # survivors-only rounding (same slack argument as the exact verify:
        # r4 raises a value by at most 5e-5, so prefiltering raw cosine at
        # threshold - 1e-4 keeps every pair the rounded filter can keep) —
        # a max_bucket-sized bucket would otherwise r4 its whole n^2 matrix.
        pre = raw[ai, bi] >= (threshold - 1e-4)
        ai, bi = ai[pre], bi[pre]
        cos = _r4_np(raw[ai, bi])
        keep = cos >= threshold
        return pd.DataFrame(
            {"vec_a": ids[ai[keep]], "vec_b": ids[bi[keep]], "cos": cos[keep]}
        )

    pairs = tagged.groupBy("bucket").applyInPandas(
        bucket_pairs, "vec_a long, vec_b long, cos double"
    )
    # a pair sharing several buckets (multiple seeds / unioned runs) dedups here
    return pairs.groupBy("vec_a", "vec_b").agg(F.first("cos").alias("cos"))
