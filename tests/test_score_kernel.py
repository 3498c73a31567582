"""The batch kernel inside ``_score_blocks`` against MaxScore and the oracle.

``_score_blocks`` scores every query whose matched postings in a group fit
``KERNEL_MAX_QUERY_POSTINGS`` in one vectorized pass (``_kernel_topk``) and
the rest with ``_shard_topk``'s MaxScore. Each case here runs the same group
twice, once as shipped and once with the split set so that every query goes
to ``_shard_topk``, and checks that (qid, doc_id, rank) agree and that both
match the brute-force oracle at 1e-9. Pure NumPy: no Spark session.
"""

import numpy as np
import pandas as pd
import pytest

from oracle.bm25_ref import bm25_rank
from rustserini_spark.analysis import simple_tokenize_text
from rustserini_spark.operators import search
from rustserini_spark.operators.index_build import _encode_segment_pdf, expected_idf

K1, B = 0.9, 0.4
N_DOCS = 2600
SEG_DOCS = 650


def _corpus() -> dict[int, str]:
    """Every doc holds ``head`` (2,600 postings: above the kernel's 2,048);
    ``mid`` is in every 3rd doc and the ``tNN`` words are rare. Docs 1..19
    are copies of doc 0 (exact score ties), and doc 2599 is one too, in the
    last segment."""
    rng = np.random.default_rng(31)
    tail = [f"t{i:02d}" for i in range(40)]
    texts = {}
    for d in range(N_DOCS):
        words = ["head"] * int(rng.integers(1, 4))
        if d % 3 == 0:
            words.append("mid")
        words += list(rng.choice(tail, int(rng.integers(0, 3))))
        words += ["filler"] * int(rng.integers(0, 12))
        texts[d] = " ".join(words)
    for d in list(range(1, 20)) + [N_DOCS - 1]:
        texts[d] = texts[0] = "t07 t07 t08 head filler"
    return texts


CORPUS = _corpus()


def _group(ids: np.ndarray) -> pd.DataFrame:
    """Matched-block frame of a doc-disjoint group: one segment per
    ``SEG_DOCS`` docs, default block size, doc ids ``ids``."""
    texts = pd.Series([CORPUS[d] for d in range(N_DOCS)])
    parts = [
        _encode_segment_pdf(
            simple_tokenize_text, ids[lo : lo + SEG_DOCS], texts.iloc[lo : lo + SEG_DOCS],
            seg=lo // SEG_DOCS, block_size=128, n_shards=1,
        )
        for lo in range(0, N_DOCS, SEG_DOCS)
    ]
    return pd.concat(parts, ignore_index=True)


@pytest.fixture(scope="module")
def stats():
    toks = [simple_tokenize_text(t) for t in CORPUS.values()]
    df: dict[str, int] = {}
    for ts in toks:
        for t in set(ts):
            df[t] = df.get(t, 0) + 1
    idf = {t: expected_idf(n, N_DOCS) for t, n in df.items()}
    # in the vocabulary (another group holds it) but without a block here
    idf["ghost"] = expected_idf(5, N_DOCS)
    avgdl = sum(len(ts) for ts in toks) / N_DOCS
    return idf, avgdl


@pytest.fixture(scope="module")
def group():
    return _group(np.arange(N_DOCS, dtype=np.int64))


QUERIES = {
    "qtf2": "t07 t07 t03",
    "oov_mixed": "t05 zzqunknown t11",
    "ghost": "ghost t12 mid",
    "ties": "t07 t08",
    "single_rare": "t21",
    "mid_tail": "mid t02 t30",
    "head": "head t07",
    "head_qtf2": "head head mid",
    "all_oov": "zzqunknown",
}


def _per_query(queries: dict[str, str]) -> dict[str, dict[str, float]]:
    out = {}
    for qid, text in queries.items():
        tw: dict[str, float] = {}
        for t in simple_tokenize_text(text):
            tw[t] = tw.get(t, 0.0) + 1.0
        out[qid] = tw
    return out


def _ranked(top: pd.DataFrame) -> dict[str, list]:
    """qid -> [(rank, doc_id, score)] in output order (each query's rows
    come out in rank order)."""
    out: dict[str, list] = {}
    for qid, doc, score in zip(top["qid"], top["doc_id"], top["score"]):
        rows = out.setdefault(qid, [])
        rows.append((len(rows) + 1, int(doc), float(score)))
    return out


def _both(pdf, queries, stats, k, monkeypatch):
    """(shipped, MaxScore-only) rankings of one group."""
    idf, avgdl = stats
    per_query = _per_query(queries)
    got = _ranked(search._score_blocks(pdf, per_query, idf, k, K1, B, avgdl))
    with monkeypatch.context() as m:
        m.setattr(search, "KERNEL_MAX_QUERY_POSTINGS", -1)
        ref = _ranked(search._score_blocks(pdf, per_query, idf, k, K1, B, avgdl))
    return got, ref


def _check(got, ref, queries, k, doc_of=lambda d: d):
    assert set(got) == set(ref)
    for qid, text in queries.items():
        g, r = got.get(qid, []), ref.get(qid, [])
        assert [(rank, d) for rank, d, _ in g] == [(rank, d) for rank, d, _ in r], qid
        np.testing.assert_allclose([s for *_, s in g], [s for *_, s in r], atol=1e-9)
        expected = bm25_rank(CORPUS, text, k=k, analyzer="simple")
        assert [doc_of(d) for _, d, _ in g] == [d for d, _ in expected], qid
        np.testing.assert_allclose([s for *_, s in g], [s for _, s in expected], atol=1e-9)


def _postings(pdf, text) -> int:
    terms = set(simple_tokenize_text(text))
    return int(pdf.loc[pdf["term"].isin(terms), "n_docs"].sum())


def test_group_mixes_both_sides_of_the_split(group, stats, monkeypatch):
    """One group, queries on both sides of the 2,048-postings split: qtf 2,
    OOV mixed with real terms, a vocabulary term with no block in the group,
    exact ties, and queries with no in-group term at all."""
    assert search.KERNEL_MAX_QUERY_POSTINGS == 2048
    sizes = {qid: _postings(group, q) for qid, q in QUERIES.items()}
    assert sizes["head"] > 2048 and sizes["head_qtf2"] > 2048
    assert 0 < sizes["mid_tail"] <= 2048 and sizes["all_oov"] == 0
    got, ref = _both(group, QUERIES, stats, 10, monkeypatch)
    assert "all_oov" not in got
    _check(got, ref, QUERIES, 10)


def test_exact_ties_rank_by_doc_id(group, stats, monkeypatch):
    """Docs 0..19 and 2599 are the same text: their scores are equal and
    doc_id ascending breaks the tie, across segments too."""
    queries = {"ties": QUERIES["ties"]}
    for k in (5, 21):
        got, ref = _both(group, queries, stats, k, monkeypatch)
        scores = [s for *_, s in got["ties"]]
        assert len(set(scores)) == 1
        assert [d for _, d, _ in got["ties"]] == (list(range(20)) + [N_DOCS - 1])[:k]
        _check(got, ref, queries, k)


def test_k_above_the_candidates(group, stats, monkeypatch):
    queries = {q: QUERIES[q] for q in ("single_rare", "qtf2", "oov_mixed", "head")}
    got, ref = _both(group, queries, stats, 5000, monkeypatch)
    assert len(got["single_rare"]) == _postings(group, QUERIES["single_rare"]) < 5000
    _check(got, ref, queries, 5000)


def test_single_query_group(group, stats, monkeypatch):
    for qid in ("qtf2", "head"):
        queries = {qid: QUERIES[qid]}
        got, ref = _both(group, queries, stats, 10, monkeypatch)
        _check(got, ref, queries, 10)


def test_empty_group(group, stats):
    idf, avgdl = stats
    per_query = _per_query(QUERIES)
    for pdf in (group.iloc[:0], group[group["term"] == "filler"]):
        top = search._score_blocks(pdf, per_query, idf, 10, K1, B, avgdl)
        assert top.empty and list(top.columns) == ["qid", "doc_id", "score"]


def test_kernel_batches_of_whole_queries(group, stats, monkeypatch):
    """With a pair budget below one query, every kernel batch holds whole
    queries and the answer does not change."""
    small = {q: t for q, t in QUERIES.items() if 0 < _postings(group, t) <= 2048}
    got, ref = _both(group, small, stats, 10, monkeypatch)
    monkeypatch.setattr(search, "KERNEL_MAX_PAIRS", 7)
    idf, avgdl = stats
    batched = _ranked(search._score_blocks(group, _per_query(small), idf, 10, K1, B, avgdl))
    assert batched == got
    _check(got, ref, small, 10)


def test_sparse_doc_ids(stats, monkeypatch):
    """Doc ids spread so wide that (query, doc) no longer fits one int64 key
    directly: the kernel keys on the docs' dense rank instead."""
    step = 1 << 50
    pdf = _group(np.arange(N_DOCS, dtype=np.int64) * step + 3)
    got, ref = _both(pdf, QUERIES, stats, 10, monkeypatch)
    _check(got, ref, QUERIES, 10, doc_of=lambda d: (d - 3) // step)
