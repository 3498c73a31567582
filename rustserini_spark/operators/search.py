"""BM25 top-k retrieval over the block-compressed index (SURVEY.md §2 O11-O15).

The reference hands queries to Lucene's SimpleSearcher over JNI
(/root/reference/src/searcher/lucene/searcher.rs:86-90) where analysis, BM25
scoring (k1=0.9, b=0.4), WAND pruning and the top-k heap all happen. Here the
same lifecycle is a Spark plan:

  queries -> analyze (SAME UDF as indexing) -> (qid, term, qtf)
  -> broadcast-join dictionary (idf, per-term upper bound)        [O11]
  -> IN-filter + join postings blocks (parquet min/max pruning)   [O12]
  -> score                                                        [O13]
  -> top-k with Lucene's tie-break (score desc, doc_id asc)       [O14]

Two scoring strategies, both returning identical rankings:

* ``bm25_search`` (exhaustive, arbitrarily scalable): decode every matching
  block in ``mapInPandas`` -> partial scores -> groupBy(qid, doc_id) sum ->
  window top-k. One shuffle on (qid, doc_id), one on qid. Use for huge fan-out
  or head-term-dominated workloads: nothing ever materializes one query's full
  postings in a single task.

* ``bm25_search_pruned`` (block-max pruned): ``_score_blocks`` runs a lossless
  MaxScore/block-max algorithm in NumPy over a doc-disjoint group of matched
  blocks — blocks whose upper bound cannot reach the running top-k threshold
  are never decoded. Which process runs it depends on the batch:

  - a small batch (at most ``DRIVER_ROUTE_MAX_QUERY_TERMS`` analyzed
    (qid, term) rows, and Σ df over its terms within
    ``DECODE_CACHE_MAX_POSTINGS``) is scored on the DRIVER, like the
    reference's one-process searcher: one JVM-only job fetches the matched
    blocks (no Python worker, no exchange), ``_score_blocks`` runs once over
    all of them, and the ranked result comes back as a local relation. The
    fetch runs before the call returns;
  - a larger batch runs ``_score_blocks`` per cached partition
    (``mapInPandas``, doc-aligned indexes) or per shard group
    (``applyInPandas``, disk-opened indexes), and a window merges the local
    top-k lists. Queries parallelize across tasks (the reference's
    batch_search threads ⇔ Spark tasks, its
    src/searcher/lucene/searcher.rs:101-154);
  - a batch above ``MAX_LOCAL_QUERY_TERMS`` falls back to ``bm25_search``.

  Rankings are identical on every route; a score may differ between routes
  in the last ulp, because the per-doc sums add in a different order.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from rustserini_spark.operators.compress import (
    block_upper_bound,
    bm25_impact,
    decode_blocks_batch,
    decode_posting_block,
)
from rustserini_spark.operators.index_build import BM25Index, tokens_col_for
from rustserini_spark.session import col_in, local_rows_df

# Above this many analyzed (qid, term) rows the pruned path's driver-side
# query/idf closure stops being "tiny"; fall back to the fully distributed
# exhaustive plan instead of silently shipping a huge closure to every task.
MAX_LOCAL_QUERY_TERMS = 100_000

# Batches with at most this many analyzed (qid, term) rows (about 64
# queries) are scored on the driver when their matched postings also fit one
# decode memo. Per-query NumPy work runs single-threaded there, so big
# batches belong on the executors: on perfbench's 6,000-doc serve index in
# 4 partitions (local[4], median call ms, driver vs distributed) 1 query
# read 86 vs 251, 256 queries 151 vs 240, and 1,024 queries 395 vs 365. The
# crossover falls as cores grow.
DRIVER_ROUTE_MAX_QUERY_TERMS = 256

# Per-shard-task decode memo budget (decoded postings retained), so a
# head-term-heavy batch cannot hold an unbounded slice of the corpus decoded
# in one task. It also caps the matched postings (Σ df) of a batch scored on
# the driver.
DECODE_CACHE_MAX_POSTINGS = 4_000_000

# Above this pickled size the per-batch query state (per-query term weights +
# idf map) ships as a TorrentBroadcast instead of riding in the task closure:
# a 2048-query batch is ~160 KB which would otherwise be re-serialized into
# every task binary (O(tasks) driver-serial work per batch — measured as part
# of round 3's fixed query floor); broadcast is O(executors) and the python
# workers unpickle it once per process.
BROADCAST_QUERY_STATE_BYTES = 32 << 10

# Doc-aligned search: max bytes of COMPRESSED matched blocks accumulated into
# one in-task scoring group before flushing (plus at most one segment's tail).
# Groups are unions of complete segments, so each stays doc-disjoint.
DOC_ALIGNED_GROUP_BUDGET_BYTES = 256 << 20

RESULT_SCHEMA = T.StructType(
    [
        T.StructField("qid", T.StringType(), False),
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("score", T.DoubleType(), False),
        T.StructField("rank", T.IntegerType(), False),
    ]
)


def query_terms(queries: DataFrame, analyzer: str, qid_col: str = "qid", query_col: str = "query") -> DataFrame:
    """(qid, term, qtf): a duplicated query term scores once per occurrence in
    Lucene's BooleanQuery, i.e. its contribution is multiplied by qtf.

    Distributed variant — use for huge query batches (millions of rows).
    Interactive search uses query_terms_local instead: a handful of query
    strings does not justify a Python-UDF stage across the cluster.
    """
    tok = tokens_col_for(analyzer)
    return (
        queries.select(F.col(qid_col).cast("string").alias("qid"), tok(query_col).alias("terms"))
        .select("qid", F.explode("terms").alias("term"))
        .groupBy("qid", "term")
        .agg(F.count(F.lit(1)).alias("qtf"))
    )


def query_terms_local(queries, analyzer: str, qid_col: str = "qid", query_col: str = "query"):
    """Driver-side query analysis with the SAME shared analyze function the
    index build uses (parity by construction). Returns (rows, terms): rows =
    [(qid, term, qtf)], terms = sorted distinct term list for scan pruning.

    ``queries`` is a DataFrame OR a plain list of (qid, query) pairs — the
    reference's batch_search takes Vec<String> directly
    (/root/reference/src/searcher/lucene/searcher.rs:101-111), and for an
    interactive batch the list form skips a whole createDataFrame->collect
    driver round-trip job (part of round 3's measured fixed per-batch floor)."""
    from collections import Counter

    from rustserini_spark.analysis import analyze_text, simple_tokenize_text

    analyze = analyze_text if analyzer == "porter" else simple_tokenize_text
    if isinstance(queries, DataFrame):
        pairs = [(r[qid_col], r[query_col]) for r in queries.select(qid_col, query_col).collect()]
    else:
        pairs = queries
    rows = []
    terms = set()
    for qid, query in pairs:
        c = Counter(analyze(query))
        for term, qtf in c.items():
            rows.append((str(qid), term, qtf))
            terms.add(term)
    return rows, sorted(terms)


def _matching_blocks(index: BM25Index, queries: DataFrame):
    """Join the analyzed query set with dictionary + posting blocks.

    Query analysis happens driver-side (tiny) and the term list becomes an
    IN filter (one py4j call, ``col_in``) that Catalyst pushes into the
    parquet scan — at scale this is what prunes a term-bucketed postings
    table down to a handful of files.
    The (qid, term, qtf) frame is a single-partition broadcast.
    """
    spark = index.postings.sparkSession
    qt_rows, terms = query_terms_local(queries, index.analyzer)
    if not terms:
        return None
    qt = local_rows_df(spark, qt_rows, "qid string, term string, qtf long").coalesce(1)
    dict_sub = index.dictionary.filter(col_in("term", terms)).select("term", "idf")
    blocks = index.postings.filter(col_in("term", terms))
    return blocks.join(F.broadcast(qt), "term").join(F.broadcast(dict_sub), "term")


def _empty_result(spark) -> DataFrame:
    return local_rows_df(spark, [], RESULT_SCHEMA)


def _topk(scored: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "doc_id", "score", "rank")
    )


def bm25_search(index: BM25Index, queries, k: int = 10) -> DataFrame:
    """Exhaustive distributed scoring (no pruning): rank-identical reference
    semantics, scales to any posting-list size. ``queries``: DataFrame or
    list of (qid, query) pairs."""
    joined = _matching_blocks(index, queries)
    if joined is None:
        return _empty_result(index.postings.sparkSession)
    k1, b, avgdl = index.k1, index.b, (index.avgdl or 1.0)

    def score_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            ns = pdf["n_docs"].to_numpy()
            d, t, l, block_idx = decode_blocks_batch(list(pdf["postings_bin"]), ns)
            idf = pdf["idf"].to_numpy(dtype=np.float64)[block_idx]
            qtf = pdf["qtf"].to_numpy(dtype=np.float64)[block_idx]
            imp = bm25_impact(t, l, idf, k1, b, avgdl) * qtf
            yield pd.DataFrame(
                {
                    "qid": pdf["qid"].to_numpy()[block_idx],
                    "doc_id": d,
                    "partial": imp,
                }
            )

    partial_schema = "qid string, doc_id long, partial double"
    scored = (
        joined.mapInPandas(score_batches, partial_schema)
        .groupBy("qid", "doc_id")
        .agg(F.sum("partial").alias("score"))
    )
    return _topk(scored, k)


def _shard_topk(
    rows: np.ndarray,
    qtf_row: np.ndarray,
    bufs: list,
    n_docs_arr: np.ndarray,
    first_doc: np.ndarray,
    last_doc: np.ndarray,
    max_impact: np.ndarray,
    idf: np.ndarray,
    term_idx: np.ndarray,
    n_terms: int,
    k: int,
    k1: float,
    b: float,
    avgdl: float,
    decoded_cache: "_DecodeCache",
) -> tuple[np.ndarray, np.ndarray]:
    """Lossless block-max MaxScore for one query on one doc shard (pure NumPy),
    with TRUE MaxScore term ordering (the reference's Lucene BMW progressive
    threshold, delegated at /root/reference/src/searcher/lucene/searcher.rs:86-90):

    1. Terms are processed in DESCENDING per-term score-bound order (U = qtf ·
       max block impact), their blocks in descending block-bound order.
    2. The threshold θ is re-tightened from the running exact top-k after every
       decoded block chunk, so by the time a low-bound head term is reached θ
       is already high and its blocks stop qualifying as candidate generators:
       a block is skipped when qtf·max_impact(block) + Σ_{other terms} U < θ.
    3. Term early-exit: once U(tᵢ) + Σ_{j>i} U(tⱼ) < θ, no doc unseen so far
       can reach the top-k from the remaining terms — candidate generation
       stops entirely (head-term candidate explosion is bounded by this).
    4. Exact verification: every candidate is scored exactly against every
       term, decoding only blocks whose docid range intersects the candidates.

    Losslessness: a doc that never became a candidate either (a) appeared in a
    processed term's skipped block B — then score(doc) ≤ qtf·bound(B) +
    Σ_{other} U < θ_at_skip ≤ θ_final, or (b) appeared only in terms after the
    early-exit — then score(doc) ≤ Σ_remaining U < θ_final. Either way it
    cannot beat the exact kth score.

    ``rows`` indexes this query's blocks within the shard's arrays; decoded
    blocks are memoized in ``decoded_cache`` so queries sharing head terms
    decode each block once per shard.

    A query with at most ``CHUNK`` blocks on this shard is scored exactly with
    every block decoded: pruning could skip at most one chunk of decodes, and
    the MaxScore bookkeeping costs more than those decodes.
    """
    CHUNK = 16  # blocks decoded between θ re-tightenings

    def decode_rows(sub: np.ndarray):
        """sub: positions within `rows`. Returns (doc_ids, weighted_impacts)."""
        parts_d, parts_imp = [], []
        todo = []
        for pos in sub:
            r = int(rows[pos])
            hit = decoded_cache.get(r)
            if hit is None:
                todo.append(pos)
            else:
                parts_d.append(hit[0])
                parts_imp.append(hit[1] * qtf_row[pos])
        if todo:
            todo_rows = rows[todo]
            d, t, l, bidx = decode_blocks_batch(
                [bufs[i] for i in todo_rows], n_docs_arr[todo_rows]
            )
            base_imp = bm25_impact(t, l, idf[todo_rows][bidx], k1, b, avgdl)
            for j, pos in enumerate(todo):
                sel = bidx == j
                hit = (d[sel], base_imp[sel])
                decoded_cache.put(int(rows[pos]), hit)
                parts_d.append(hit[0])
                parts_imp.append(hit[1] * qtf_row[pos])
        if not parts_d:
            z = np.empty(0)
            return z.astype(np.int64), z
        return np.concatenate(parts_d), np.concatenate(parts_imp)

    if rows.size <= CHUNK:
        d, imp = decode_rows(np.arange(rows.size))
        cand, inv = np.unique(d, return_inverse=True)
        scores = np.zeros(cand.size)
        np.add.at(scores, inv, imp)
        order = np.lexsort((cand, -scores))[:k]
        return cand[order], scores[order]

    weighted_max = qtf_row * max_impact[rows]
    t_idx = term_idx[rows]
    U = np.zeros(n_terms)
    np.maximum.at(U, t_idx, weighted_max)
    sumU = float(U.sum())
    fd, ld = first_doc[rows], last_doc[rows]

    def exact_scores(cand: np.ndarray) -> np.ndarray:
        scores = np.zeros(cand.size, dtype=np.float64)
        if cand.size == 0:
            return scores
        lo = np.searchsorted(cand, fd, side="left")
        hi = np.searchsorted(cand, ld, side="right")
        sub = np.flatnonzero(lo != hi)
        if sub.size == 0:
            return scores
        d, imp = decode_rows(sub)
        idx = np.searchsorted(cand, d)
        ok = idx < cand.size
        match = np.zeros(d.size, dtype=bool)
        match[ok] = cand[idx[ok]] == d[ok]
        np.add.at(scores, idx[match], imp[match])
        return scores

    # term order: descending per-term bound; suffix[i] = Σ bounds after pos i
    present = np.unique(t_idx)
    t_order = present[np.argsort(-U[present], kind="stable")]
    u_ord = U[t_order]
    suffix = np.concatenate([np.cumsum(u_ord[::-1])[::-1][1:], [0.0]])

    cand = np.empty(0, dtype=np.int64)  # sorted candidate ids, exact scores
    cscores = np.empty(0)
    theta = 0.0

    for pos in range(t_order.size):
        if u_ord[pos] + suffix[pos] < theta:
            break  # remaining terms cannot produce a new top-k doc
        t = int(t_order[pos])
        others = sumU - U[t]
        trows = np.flatnonzero(t_idx == t)
        tb = weighted_max[trows]
        bo = np.argsort(-tb, kind="stable")  # this term's blocks, bound desc
        for c0 in range(0, bo.size, CHUNK):
            sel = bo[c0 : c0 + CHUNK]
            sel = sel[tb[sel] + others >= theta]
            if sel.size == 0:
                break  # descending bounds: every later block fails too
            d = np.unique(decode_rows(trows[sel])[0])
            new = np.setdiff1d(d, cand, assume_unique=True)
            if new.size:
                ns = exact_scores(new)
                at = np.searchsorted(cand, new)
                cand = np.insert(cand, at, new)
                cscores = np.insert(cscores, at, ns)
                if cand.size >= k:
                    theta = float(
                        np.partition(cscores, cscores.size - k)[cscores.size - k]
                    )

    n = min(k, cand.size)
    if n == 0:
        return np.empty(0, dtype=np.int64), np.empty(0)
    order = np.lexsort((cand, -cscores))[:n]
    return cand[order], cscores[order]


class _DecodeCache:
    """Per-shard-task decode memo with a posting-count budget: queries sharing
    head terms decode each block once, but a head-term-heavy batch can never
    hold more than ``max_postings`` decoded postings in one task (epoch
    eviction: cheap, bounded, and re-decode amortizes within an epoch)."""

    def __init__(self, max_postings: int = DECODE_CACHE_MAX_POSTINGS):
        self._d: dict[int, tuple] = {}
        self._n = 0
        self._max = max_postings
        self.n_blocks_decoded = 0  # pruning effectiveness metric (tested)

    def get(self, key: int):
        return self._d.get(key)

    def put(self, key: int, hit: tuple) -> None:
        self.n_blocks_decoded += 1
        if self._n + hit[0].size > self._max:
            self._d.clear()
            self._n = 0
        self._d[key] = hit
        self._n += hit[0].size


def _score_blocks(
    pdf: pd.DataFrame,
    per_query: dict[str, dict[str, float]],
    idf_by_term: dict[str, float],
    k: int,
    k1: float,
    b: float,
    avgdl: float,
) -> pd.DataFrame:
    """Exact top-k (qid, doc_id, score) per query over one DOC-DISJOINT group
    of matched blocks: every doc in ``pdf`` has all its matched postings in
    ``pdf``, so its local top-k holds every doc of the group's global top-k.
    Each query's rows come out in rank order. ``per_query`` maps qid ->
    {term: qtf}."""
    if pdf.empty:
        return pd.DataFrame(columns=["qid", "doc_id", "score"])
    terms_arr = pdf["term"].to_numpy()
    uniq_terms, term_idx = np.unique(terms_arr, return_inverse=True)
    # each term's rows, ascending: one stable sort of the term index
    by_term = np.argsort(term_idx, kind="stable")
    bounds = np.searchsorted(term_idx[by_term], np.arange(uniq_terms.size + 1))
    rows_of = {t: by_term[bounds[i] : bounds[i + 1]] for i, t in enumerate(uniq_terms)}
    n_docs_arr = pdf["n_docs"].to_numpy(dtype=np.int64)
    first_doc = pdf["first_doc"].to_numpy(dtype=np.int64)
    last_doc = pdf["last_doc"].to_numpy(dtype=np.int64)
    idf = np.array([idf_by_term.get(t, 0.0) for t in terms_arr])
    max_impact = block_upper_bound(
        pdf["max_tf"].to_numpy(), pdf["min_dl"].to_numpy(), idf, k1, b, avgdl
    )
    bufs = list(pdf["postings_bin"])
    decoded_cache = _DecodeCache()

    out_qid, out_doc, out_score = [], [], []
    for qid, tw in per_query.items():
        present = [t for t in tw if t in rows_of]
        if not present:
            continue
        rows = np.concatenate([rows_of[t] for t in present])
        qtf_row = np.concatenate([np.full(rows_of[t].size, tw[t]) for t in present])
        docs, scores = _shard_topk(
            rows, qtf_row, bufs, n_docs_arr, first_doc, last_doc, max_impact,
            idf, term_idx, uniq_terms.size, k, k1, b, avgdl, decoded_cache,
        )
        out_qid.extend([qid] * docs.size)
        out_doc.append(docs)
        out_score.append(scores)
    if not out_qid:
        return pd.DataFrame(columns=["qid", "doc_id", "score"])
    return pd.DataFrame(
        {
            "qid": out_qid,
            "doc_id": np.concatenate(out_doc),
            "score": np.concatenate(out_score),
        }
    )


def bm25_search_pruned(index: BM25Index, queries, k: int = 10) -> DataFrame:
    """Block-max pruned top-k. ``queries``: DataFrame or list of (qid, query)
    pairs. Rankings are the same on every route; a score may differ between
    routes in the last ulp (the per-doc sums add in a different order).

    Driver route: a batch with at most ``DRIVER_ROUTE_MAX_QUERY_TERMS``
    analyzed (qid, term) rows whose terms' Σ df is within
    ``DECODE_CACHE_MAX_POSTINGS``. The matched blocks of its in-vocabulary
    terms are fetched in one JVM-only job and scored in this process. That
    is exact on any index — doc-aligned, disk-opened, or an uncompacted
    union of segments — because the union of all blocks holds every doc's
    complete postings. The job runs before this function returns; the result
    is a local relation, so collecting it runs none. A batch with no
    in-vocabulary term runs no job at all.

    Distributed routes (larger batches; above ``MAX_LOCAL_QUERY_TERMS`` the
    exhaustive ``bm25_search`` instead) — document-sharded, the
    distributed-IR standard. Doc-aligned indexes score each cached partition
    in place (zero block shuffle); other indexes shuffle matched blocks ONCE
    to their doc-shard group — never per query. Shards hold disjoint doc
    sets, so every doc is fully scored inside its shard, each shard emits an
    exact local top-k per query, and a doc in the global top-k is
    necessarily in its shard's local top-k. The global merge is a window over
    shards x queries x k rows (tiny). Query terms/idf travel in the task
    closure (driver-analyzed, small — huge query batches fall back to the
    fully distributed exhaustive plan), so the plan has no join fan-out.

    Block score bounds are computed HERE from the idf-free (max_tf, min_dl)
    block metadata with the index's current global idf/avgdl — so pruning is
    exact on any index, including a union of independently built segments
    (open_segmented_index) with no compaction.
    """
    spark = index.postings.sparkSession
    qt_rows, terms = query_terms_local(queries, index.analyzer)
    if not terms:
        return _empty_result(spark)
    if len(qt_rows) > MAX_LOCAL_QUERY_TERMS:
        return bm25_search(index, queries, k)
    per_query: dict[str, dict[str, float]] = {}
    for qid, term, qtf in qt_rows:
        per_query.setdefault(qid, {})[term] = float(qtf)
    # cached on the index (one-time at materialize, or memoized lookups):
    # no per-batch driver job — round 3's ~2.5s fixed per-batch floor
    stats = index.idf_for_terms(terms)
    idf_by_term = {t: idf for t, (idf, _df) in stats.items()}
    k1, b, avgdl = index.k1, index.b, (index.avgdl or 1.0)

    if (
        len(qt_rows) <= DRIVER_ROUTE_MAX_QUERY_TERMS
        and sum(df for _idf, df in stats.values()) <= DECODE_CACHE_MAX_POSTINGS
    ):
        if not idf_by_term:
            return _empty_result(spark)
        blocks = (
            index.postings.filter(col_in("term", sorted(idf_by_term)))
            .select("term", "n_docs", "first_doc", "last_doc", "max_tf", "min_dl", "postings_bin")
            .toPandas()
        )
        top = _score_blocks(blocks, per_query, idf_by_term, k, k1, b, avgdl)
        top["rank"] = top.groupby("qid", sort=False).cumcount() + 1
        return local_rows_df(spark, top, RESULT_SCHEMA)

    # large query batches: ship query state once per executor (broadcast),
    # not once per task binary
    import pickle

    _qstate = (per_query, idf_by_term)
    if len(pickle.dumps(_qstate)) > BROADCAST_QUERY_STATE_BYTES:
        # one broadcast SLOT per index: unpersist the previous batch's blocks
        # before creating this batch's, so long-lived sessions issuing many
        # big batches never accumulate TorrentBroadcast blocks waiting on GC.
        # unpersist() (not destroy) keeps the driver copy — a still-lazy
        # result DataFrame from an earlier batch simply re-fetches on use.
        prev = index.meta.get("_qstate_broadcast")
        if prev is not None:
            prev.unpersist(blocking=False)
        _qstate_bv = spark.sparkContext.broadcast(_qstate)
        index.meta["_qstate_broadcast"] = _qstate_bv
        _qstate = None
    else:
        _qstate_bv = None

    def shard_search(pdf: pd.DataFrame) -> pd.DataFrame:
        per_query, idf_by_term = _qstate_bv.value if _qstate_bv is not None else _qstate
        return _score_blocks(pdf, per_query, idf_by_term, k, k1, b, avgdl)

    blocks = index.postings.filter(col_in("term", terms))
    out_schema = "qid string, doc_id long, score double"
    if index.meta.get("doc_aligned"):
        # In-memory one-pass indexes are DOC-ALIGNED: every cached partition
        # holds complete postings for a disjoint doc set (a doc's postings
        # never leave the task that encoded them), so exact local top-k per
        # PARTITION is valid with no grouping — zero shuffle for the blocks,
        # at build time or per batch. The frame may span several shards;
        # their union is still doc-disjoint, which is all _shard_topk needs.
        #
        # MEMORY BOUND: a partition's matched blocks are never all concatenated
        # into one frame. Segments (salt) arrive as contiguous runs in emit
        # order; any union of COMPLETE segments is doc-disjoint, so the stream
        # flushes a group to shard_search whenever the accumulated complete
        # segments exceed a byte budget, carrying the incomplete tail segment —
        # a head-term batch holds at most budget + one segment's blocks.
        def partition_search(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            buf: list[pd.DataFrame] = []
            buf_bytes = 0
            carry: pd.DataFrame | None = None
            seen_salts: set[int] = set()

            def flush():
                nonlocal buf, buf_bytes
                if buf:
                    out = shard_search(pd.concat(buf, ignore_index=True))
                    buf, buf_bytes = [], 0
                    if len(out):
                        yield out

            for pdf in batches:
                if pdf.empty:
                    continue
                if carry is not None:
                    pdf = pd.concat([carry, pdf], ignore_index=True)
                    carry = None
                salts = pdf["salt"].to_numpy()
                # guard the contiguous-segment-run invariant the flush relies
                # on: a salt reappearing after its run closed would split a
                # doc's postings across groups (fail loud, never corrupt)
                closing = salts[np.concatenate(([True], salts[1:] != salts[:-1]))]
                news = set(int(s) for s in closing)
                if len(news) != closing.size or news & seen_salts:
                    raise AssertionError("doc-aligned postings: segment runs not contiguous")
                seen_salts |= set(int(s) for s in closing[:-1])
                n_tail = int((salts[::-1] == salts[-1]).cumprod().sum())
                cut = len(pdf) - n_tail
                carry = pdf.iloc[cut:].reset_index(drop=True)
                if cut:
                    head = pdf.iloc[:cut]
                    buf.append(head)
                    buf_bytes += int(head["postings_bin"].map(len).sum())
                if buf_bytes >= DOC_ALIGNED_GROUP_BUDGET_BYTES:
                    yield from flush()
            if carry is not None and len(carry):
                buf.append(carry)
            yield from flush()

        local = blocks.mapInPandas(partition_search, out_schema)
    else:
        # disk/opened indexes: one shuffle of matched blocks to shard groups
        local = blocks.groupBy("shard").applyInPandas(shard_search, out_schema)
    return _topk(local, k)
