"""End-to-end rank/score parity: Spark engine vs pure-NumPy oracle.

Mirrors the reference's parity-test strategy
(/root/reference/tests/searcher_test.rs:81-125): fixed corpus, fixed queries,
assert identical top-k docids and scores. Runs over the driver's documents
table (500 docs at sf0.001) plus a tiny hand-checkable corpus.
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from oracle.bm25_ref import bm25_rank
from rustserini_spark.operators.index_build import build_index, expected_idf
from rustserini_spark.operators.search import bm25_search, bm25_search_pruned

TINY_CORPUS = {
    0: "The presence of communication amid scientific minds was equally important "
    "to the success of the Manhattan Project as scientific intellect was.",
    1: "The Manhattan Project and its atomic bomb helped bring an end to World War II.",
    2: "Essay on the manhattan project: the manhattan project was the project to "
    "develop the first nuclear weapon.",
    3: "Nor will it attempt to substitute for the courtroom.",
    4: "Scientific minds gather at the conference.",
    5: "",
    6: "communication communication communication",
}

QUERIES = [
    ("q0", "did scientific minds lead to the success of the manhattan project"),
    ("q1", "communication"),
    ("q2", "nuclear weapon essay"),
    ("q3", "zzzunknownterm"),
    ("q4", ""),
    ("q5", "manhattan manhattan"),  # duplicated query term => doubled weight
]


@pytest.fixture(scope="module")
def tiny_index(spark):
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": list(TINY_CORPUS), "text": list(TINY_CORPUS.values())})
    )
    # tiny seg_docs/block_size force multi-segment, multi-block, multi-shard paths
    return build_index(spark, docs, block_size=4, seg_docs=3, n_shards=4)


@pytest.fixture(scope="module")
def queries_df(spark):
    return spark.createDataFrame(pd.DataFrame(QUERIES, columns=["qid", "query"]))


def _collect(result_df):
    out = {}
    for r in result_df.collect():
        out.setdefault(r.qid, []).append((r.rank, r.doc_id, r.score))
    for v in out.values():
        v.sort()
    return out


def _assert_parity(got, k=10, queries=QUERIES):
    for qid, query in queries:
        expected = bm25_rank(TINY_CORPUS, query, k=k)
        actual = got.get(qid, [])
        assert len(actual) == len(expected), (qid, actual, expected)
        for (rank, doc, score), (edoc, escore) in zip(actual, expected):
            assert doc == edoc, (qid, rank, actual, expected)
            assert score == pytest.approx(escore, abs=1e-9)


def test_index_stats(tiny_index):
    assert tiny_index.n_docs == 7
    dls = {r.doc_id: r.dl for r in tiny_index.doclen.collect()}
    assert dls[5] == 0 and dls[6] == 3
    d = {r.term: r for r in tiny_index.dictionary.collect()}
    assert d["manhattan"].df == 3
    assert d["manhattan"].idf == pytest.approx(expected_idf(3, 7), abs=1e-12)
    assert d["commun"].cf == 4  # 1 in doc0 + 3 in doc6


def test_exhaustive_matches_oracle(tiny_index, queries_df):
    _assert_parity(_collect(bm25_search(tiny_index, queries_df, k=10)))


def test_pruned_matches_oracle(tiny_index, pruned_routes):
    """On every route: the batch on the driver route, and the same batch
    counted as above the driver route's cut on the doc-aligned and
    shard-group routes."""
    for _route, result in pruned_routes.each(tiny_index, QUERIES, k=10):
        _assert_parity(_collect(result))


def test_pruned_equals_exhaustive_small_k(tiny_index, queries_df, pruned_routes):
    a = _collect(bm25_search(tiny_index, queries_df, k=2))
    for route, result in pruned_routes.each(tiny_index, QUERIES, k=2):
        b = _collect(result)
        assert set(b) == {q for q, _ in QUERIES if q in a}, route
        # identical rankings; scores may differ in the last ulp (summation order)
        for q, v in b.items():
            assert [(r, d) for r, d, _ in v] == [(r, d) for r, d, _ in a[q]], (route, q)
            for (_, _, sb), (_, _, sa) in zip(v, a[q]):
                assert sa == pytest.approx(sb, abs=1e-9)


def test_list_queries_match_dataframe_queries(tiny_index, queries_df):
    """The reference's batch_search takes raw query strings (Vec<String>) —
    the list fast path must produce identical results to the DataFrame path
    (and skips a createDataFrame->collect round trip per batch)."""
    _assert_parity(_collect(bm25_search_pruned(tiny_index, list(QUERIES), k=10)))
    _assert_parity(_collect(bm25_search(tiny_index, list(QUERIES), k=10)))


def test_idf_cache_preloaded_no_per_batch_dictionary_job(tiny_index):
    """materialize() preloads the driver idf map; a pruned batch must then
    resolve idf without ANY dictionary scan (round 3's measured ~2.5s fixed
    per-batch floor was exactly this per-batch .collect())."""
    tiny_index.materialize()
    assert tiny_index.idf_cache is not None and "manhattan" in tiny_index.idf_cache
    # poison the dictionary DataFrame: any per-batch access would now blow up
    saved = tiny_index.dictionary
    try:
        tiny_index.dictionary = None
        got = _collect(bm25_search_pruned(tiny_index, list(QUERIES), k=10))
    finally:
        tiny_index.dictionary = saved
    _assert_parity(got)


def test_idf_memo_fallback_matches_cache(tiny_index, queries_df):
    """Vocabularies above MAX_IDF_CACHE_TERMS fall back to memoized filtered
    lookups — same answers, and the memo converges (2nd call = zero lookups)."""
    import rustserini_spark.operators.index_build as ib

    saved_cache, saved_memo = tiny_index.idf_cache, dict(tiny_index._idf_memo)
    try:
        tiny_index.idf_cache = None
        tiny_index._idf_memo.clear()
        _assert_parity(_collect(bm25_search_pruned(tiny_index, list(QUERIES), k=10)))
        memo_after_first = dict(tiny_index._idf_memo)
        assert memo_after_first.get("zzzunknownterm", "absent") is None  # OOV negative-cached
        _assert_parity(_collect(bm25_search_pruned(tiny_index, list(QUERIES), k=10)))
        assert tiny_index._idf_memo == memo_after_first
    finally:
        tiny_index.idf_cache, tiny_index._idf_memo = saved_cache, saved_memo
    assert ib.MAX_IDF_CACHE_TERMS >= 1_000_000  # web-vocab guard stays in place


def test_df_beside_idf_sums_to_fetched_postings(tiny_index):
    """The pruned search sizes a batch by Σ df over its terms, read beside
    idf without a job. On the preloaded cache and on the memo fallback alike,
    that sum equals Σ n_docs of the blocks the batch's fetch returns."""
    from rustserini_spark.operators.search import query_terms_local
    from rustserini_spark.session import col_in

    _, terms = query_terms_local(QUERIES, tiny_index.analyzer)
    fetched = tiny_index.postings.filter(col_in("term", terms)).agg(F.sum("n_docs")).collect()[0][0]
    assert fetched > 0
    tiny_index.materialize()
    assert sum(df for _, df in tiny_index.idf_for_terms(terms).values()) == fetched
    saved_cache, saved_memo = tiny_index.idf_cache, dict(tiny_index._idf_memo)
    try:
        tiny_index.idf_cache = None
        tiny_index._idf_memo.clear()
        assert sum(df for _, df in tiny_index.idf_for_terms(terms).values()) == fetched
    finally:
        tiny_index.idf_cache, tiny_index._idf_memo = saved_cache, saved_memo


def test_canonical_query_top1(tiny_index, queries_df):
    # reference parity style: top-1 docid for the canonical Manhattan-Project
    # query is doc 0 (/root/reference/tests/searcher_test.rs:99)
    got = _collect(bm25_search_pruned(tiny_index, queries_df, k=10))
    assert got["q0"][0][1] == 0


@pytest.mark.parametrize("n_shards", [8, 128])
def test_n_shards_is_a_build_parameter(spark, documents, n_shards):
    """Doc-shard count plumbs through the build (reference behavior target:
    batch_search thread fan-out, /root/reference/src/searcher/lucene/
    searcher.rs:101-154): results identical at any shard count, shards
    populated (not collapsed onto one), recorded on the index."""
    queries = [
        ("d0", "spark query window merge"),
        ("d1", "customer the batch value"),
        ("d2", "hash join stream data"),
    ]
    qdf = spark.createDataFrame(pd.DataFrame(queries, columns=["qid", "query"]))
    index = build_index(spark, documents, seg_docs=16, n_shards=n_shards)
    assert index.n_shards == n_shards
    shard_rows = index.postings.select("shard").distinct().collect()
    shards_used = {r.shard for r in shard_rows}
    assert all(0 <= s < n_shards for s in shards_used)
    # 500 docs / seg_docs=16 ≈ 32 segments hash-mixed over shards: the mix
    # must spread them (the round-1 modulo bug collapsed all onto shard 0)
    assert len(shards_used) >= min(n_shards, 32) // 2
    corpus = {r.doc_id: r.text for r in documents.collect()}
    got = _collect(bm25_search_pruned(index, qdf, k=10))
    for qid, query in queries:
        expected = bm25_rank(corpus, query, k=10)
        assert [a[1] for a in got.get(qid, [])] == [e[0] for e in expected], qid


@pytest.mark.parametrize("pruned", [False, True])
def test_parity_on_documents_table(spark, documents, pruned, pruned_routes):
    """500-doc driver corpus, multi-term queries sampling head/mid/tail terms;
    the pruned search on every route."""
    corpus = {r.doc_id: r.text for r in documents.collect()}
    queries = [
        ("d0", "spark query window merge"),
        ("d1", "customer the batch value"),
        ("d2", "slow small filter"),
        ("d3", "hash join stream data"),
    ]
    index = build_index(spark, documents, block_size=32, seg_docs=64, n_shards=8)
    if pruned:
        runs = list(pruned_routes.each(index, queries, k=10))
    else:
        qdf = spark.createDataFrame(pd.DataFrame(queries, columns=["qid", "query"]))
        runs = [("exhaustive", bm25_search(index, qdf, k=10))]
    expected_of = {query: bm25_rank(corpus, query, k=10) for _, query in queries}
    for route, result in runs:
        got = _collect(result)
        for qid, query in queries:
            expected = expected_of[query]
            actual = got.get(qid, [])
            assert [a[1] for a in actual] == [e[0] for e in expected], (route, qid)
            np.testing.assert_allclose(
                [a[2] for a in actual], [e[1] for e in expected], atol=1e-9
            )


def test_maxscore_head_term_decode_bound():
    """True MaxScore term ordering: on a Zipf-pathological query (one head
    term matching EVERY doc + one rare term), candidate generation must stop
    before decoding the head term's posting blocks — decoded-block count stays
    a small fraction of the matched-block count, while the top-k remains
    exactly the brute-force ranking."""
    from rustserini_spark.analysis import simple_tokenize_text
    from rustserini_spark.operators.compress import block_upper_bound
    from rustserini_spark.operators.index_build import _encode_segment_pdf, expected_idf
    from rustserini_spark.operators.search import _DecodeCache, _shard_topk

    n, k = 4096, 10
    texts = [
        "head" + (" rare rare rare" if i % 200 == 7 else "") for i in range(n)
    ]
    # block_size=8 -> the head term alone spans n/8 = 512 blocks
    pdf = _encode_segment_pdf(
        simple_tokenize_text, np.arange(n, dtype=np.int64), pd.Series(texts),
        seg=0, block_size=8, n_shards=1,
    )
    corpus = {i: t for i, t in enumerate(texts)}
    expected = bm25_rank(corpus, "head rare", k=k, analyzer="simple")

    # mirror shard_search's prologue
    terms_arr = pdf["term"].to_numpy()
    uniq_terms, term_idx = np.unique(terms_arr, return_inverse=True)
    n_rare = sum("rare" in t for t in texts)
    idf_by = {"head": expected_idf(n, n), "rare": expected_idf(n_rare, n)}
    avgdl = sum(len(simple_tokenize_text(t)) for t in texts) / n
    k1, b = 0.9, 0.4
    idf = np.array([idf_by[t] for t in terms_arr])
    max_impact = block_upper_bound(
        pdf["max_tf"].to_numpy(), pdf["min_dl"].to_numpy(), idf, k1, b, avgdl
    )
    rows = np.flatnonzero(np.isin(terms_arr, ["head", "rare"]))
    qtf_row = np.ones(rows.size)
    cache = _DecodeCache()
    docs, scores = _shard_topk(
        rows, qtf_row, list(pdf["postings_bin"]),
        pdf["n_docs"].to_numpy(dtype=np.int64),
        pdf["first_doc"].to_numpy(dtype=np.int64),
        pdf["last_doc"].to_numpy(dtype=np.int64),
        max_impact, idf, term_idx, uniq_terms.size, k, k1, b, avgdl, cache,
    )
    assert list(docs) == [e[0] for e in expected]
    np.testing.assert_allclose(scores, [e[1] for e in expected], atol=1e-9)
    n_matched_blocks = rows.size
    assert n_matched_blocks > 500
    # rare blocks (~3) + exact-verify decodes of head blocks intersecting the
    # ~21 candidates (<= 21) -- far below the 512+ matched blocks
    assert cache.n_blocks_decoded <= n_matched_blocks // 8, (
        cache.n_blocks_decoded, n_matched_blocks,
    )


def test_adaptive_cut_survives_boundary_rounded_ties(spark):
    """Property test for the adaptive candidate cut (round-4 ADVICE #5):
    60 docs whose raw BM25 scores differ only in the 8th decimal (one query
    term, tf=1, document lengths ~10k differing by one token) all round-tie
    at r4 — and the RAW ordering is the REVERSE of the doc_id tie-break the
    rounded ranking uses. A fixed raw-score top-50 cut therefore excludes
    exactly the 10 documents the rounded oracle ranks first; the adaptive
    wrapper must detect the boundary tie (min retrieved r4 == rank-k r4),
    extend the cut, and return the oracle's answer."""
    import __spark_entry__ as e

    # doc_id 0 gets the LONGEST doc (lowest raw score) ... doc_id 59 the
    # shortest (highest): raw top-50 = doc_ids 10..59, rounded top-10 = 0..9
    rows = [
        (i, "manhattan " + " ".join(f"filler{j:05d}" for j in range(10000 + (59 - i))))
        for i in range(60)
    ]
    docs = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    index = build_index(spark, docs, analyzer="simple")
    qdf = spark.createDataFrame(pd.DataFrame([("q0", "manhattan")], columns=["qid", "query"]))

    # precondition: the naive fixed-cut answer is actually wrong on this corpus
    naive = bm25_search_pruned(index, qdf, k=50)
    assert min(r.doc_id for r in naive.collect()) == 10

    got = e._rerank_rounded_adaptive(lambda cut: bm25_search_pruned(index, qdf, k=cut), 10)
    assert sorted((r.rank, r.doc_id) for r in got.collect()) == [
        (k, k - 1) for k in range(1, 11)
    ]


def test_batch_build_round_trips_independent_of_term_count(
    tiny_index, py4j_round_trips, pruned_routes
):
    """A pruned-search call costs a fixed number of py4j round trips on
    either route: the term predicate is one ``col_in`` call, not one ``lit``
    per distinct term (thousands of round trips for a 512-query batch).
    Each route is compared with itself: a driver-route call runs its fetch
    job, a distributed one only builds its plan."""
    rng = np.random.default_rng(7)
    letters = np.array(list("bcdfghjklmnpqrstvwxz"))

    def word():
        return "".join(rng.choice(letters, 12))

    def round_trips(queries, route):
        result = []
        n = py4j_round_trips.of(
            lambda: result.append(bm25_search_pruned(tiny_index, queries, k=10))
        )
        assert pruned_routes.route_of(result[0]) == route
        return n

    tiny_index.materialize()  # idf from the preloaded cache: no lookup job
    # driver route: one term vs every vocabulary word plus 120 unknown words
    words = sorted({w for t in TINY_CORPUS.values() for w in t.lower().split()})
    one = round_trips([("q0", "manhattan")], "driver")
    batch = round_trips(
        [(f"q{i}", f"{words[i % len(words)]} {word()}") for i in range(120)], "driver"
    )
    assert batch <= one + 20, ("driver", one, batch)

    # distributed route (every batch counted as above the cut): one term vs
    # 512 queries of two unknown words each
    with pruned_routes.above_cut():
        one = round_trips([("q0", "manhattan")], "doc_aligned")
        batch = round_trips([(f"q{i}", f"{word()} {word()}") for i in range(512)], "doc_aligned")
    assert batch <= one + 20, ("distributed", one, batch)


def test_porter_apostrophe_term_ranks(spark):
    """Porter keeps internal apostrophes (``don't`` is one token), so the
    quoted term must survive the scan predicate's SQL escaping."""
    corpus = {
        0: "I don't know.",
        1: "Do not go there.",
        2: "dont panic",
        3: "Don't stop, don't stop the rock’n’roll",
        4: "it's a donut",
    }
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": list(corpus), "text": list(corpus.values())})
    )
    index = build_index(spark, docs, block_size=4, seg_docs=3, n_shards=2)
    for query in ("don't", "rock’n’roll don't"):
        expected = bm25_rank(corpus, query, k=10)
        assert 0 in [d for d, _ in expected]
        for search in (bm25_search, bm25_search_pruned):
            got = _collect(search(index, [("q", query)], k=10))["q"]
            assert [d for _, d, _ in got] == [d for d, _ in expected], (search, query)
            np.testing.assert_allclose([s for _, _, s in got], [s for _, s in expected], atol=1e-9)


@pytest.fixture(scope="module")
def zipf_segment():
    """One block_size=8 segment over 1,024 docs drawn from a 60-word Zipf
    vocabulary: head words span 100+ blocks, tail words a few. Returns the
    corpus, each term's block count, a function running ``_shard_topk`` for
    one query the way ``_score_blocks`` does (its prologue mirrored here),
    and one running ``_score_blocks`` itself on the segment."""
    import types

    from rustserini_spark.analysis import simple_tokenize_text
    from rustserini_spark.operators.compress import block_upper_bound
    from rustserini_spark.operators.index_build import _encode_segment_pdf
    from rustserini_spark.operators.search import _DecodeCache, _score_blocks, _shard_topk

    rng = np.random.default_rng(2024)
    vocab = np.array([f"w{i}" for i in range(60)])
    p = 1.0 / np.arange(1, 61) ** 1.5
    p /= p.sum()
    n = 1024
    texts = [" ".join(rng.choice(vocab, int(rng.integers(5, 60)), p=p)) for _ in range(n)]
    corpus = dict(enumerate(texts))
    pdf = _encode_segment_pdf(
        simple_tokenize_text, np.arange(n, dtype=np.int64), pd.Series(texts),
        seg=0, block_size=8, n_shards=1,
    )
    terms_arr = pdf["term"].to_numpy()
    uniq_terms, term_idx = np.unique(terms_arr, return_inverse=True)
    toks = [set(simple_tokenize_text(t)) for t in texts]
    idf_by = {t: expected_idf(sum(t in s for s in toks), n) for t in uniq_terms}
    avgdl = sum(len(simple_tokenize_text(t)) for t in texts) / n
    k1, b = 0.9, 0.4
    idf = np.array([idf_by[t] for t in terms_arr])
    max_impact = block_upper_bound(
        pdf["max_tf"].to_numpy(), pdf["min_dl"].to_numpy(), idf, k1, b, avgdl
    )
    bufs = list(pdf["postings_bin"])
    n_docs_arr = pdf["n_docs"].to_numpy(dtype=np.int64)
    first_doc = pdf["first_doc"].to_numpy(dtype=np.int64)
    last_doc = pdf["last_doc"].to_numpy(dtype=np.int64)

    def search(query_terms, k, cache):
        rows = np.concatenate([np.flatnonzero(terms_arr == t) for t in query_terms])
        docs, scores = _shard_topk(
            rows, np.ones(rows.size), bufs, n_docs_arr, first_doc, last_doc,
            max_impact, idf, term_idx, uniq_terms.size, k, k1, b, avgdl, cache,
        )
        return docs, scores, rows.size

    def kernel(query_terms, k, _cache):
        top = _score_blocks(pdf, {"q": {t: 1.0 for t in query_terms}}, idf_by, k, k1, b, avgdl)
        n_blocks = int(np.isin(terms_arr, query_terms).sum())
        return top["doc_id"].to_numpy(), top["score"].to_numpy(dtype=np.float64), n_blocks

    blocks = dict(zip(*np.unique(terms_arr, return_counts=True)))
    return types.SimpleNamespace(
        corpus=corpus, blocks=blocks, search=search, kernel=kernel, new_cache=_DecodeCache
    )


def _assert_segment_parity(seg, queries, k, n_blocks_ok, run=None):
    run = run or seg.search
    cache = seg.new_cache()  # shared across queries, as in one shard task
    for query_terms in queries:
        docs, scores, n_blocks = run(query_terms, k, cache)
        assert n_blocks_ok(n_blocks), (query_terms, n_blocks)
        expected = bm25_rank(seg.corpus, " ".join(query_terms), k=k, analyzer="simple")
        assert list(docs) == [d for d, _ in expected], query_terms
        np.testing.assert_allclose(scores, [s for _, s in expected], atol=1e-9)


def test_maxscore_path_parity_multi_chunk(zipf_segment):
    """Queries spanning more than CHUNK blocks take the MaxScore path (θ
    re-tightening, block skips, term early-exit) and must still rank exactly
    like the brute-force oracle."""
    head = sorted(zipf_segment.blocks, key=zipf_segment.blocks.get)[-6:]
    rest = sorted(set(zipf_segment.blocks) - set(head))
    rng = np.random.default_rng(5)
    queries = [
        [str(rng.choice(head))] + list(rng.choice(rest, int(rng.integers(1, 4)), replace=False))
        for _ in range(24)
    ]
    _assert_segment_parity(zipf_segment, queries, 10, lambda n: n > 16)


def test_one_chunk_path_parity(zipf_segment):
    """Queries with at most CHUNK blocks fit the batch kernel's postings
    bound, so ``_score_blocks`` scores them exhaustively there: same top-k
    as the oracle, for k below and above the match count."""
    tail = sorted(t for t, n in zipf_segment.blocks.items() if n <= 8)
    assert len(tail) >= 4
    rng = np.random.default_rng(9)
    queries = [
        list(rng.choice(tail, int(rng.integers(1, 3)), replace=False)) for _ in range(20)
    ]
    for k in (3, 10, 1000):
        _assert_segment_parity(zipf_segment, queries, k, lambda n: n <= 16, zipf_segment.kernel)
