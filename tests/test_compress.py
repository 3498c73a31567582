"""Round-trip and bound tests for posting compression (operators O8/O10)."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from rustserini_spark.operators.compress import (
    block_upper_bound,
    bm25_impact,
    decode_posting_block,
    encode_posting_block,
    encode_runs_blocks,
    varint_decode,
    varint_encode,
)


def test_varint_roundtrip_basic():
    vals = np.array([0, 1, 127, 128, 129, 16383, 16384, 2**32, 2**63 - 1], dtype=np.uint64)
    assert np.array_equal(varint_decode(varint_encode(vals)), vals)


def test_varint_empty():
    assert varint_encode(np.array([], dtype=np.uint64)) == b""
    assert varint_decode(b"").size == 0


@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2**62), max_size=300))
def test_varint_roundtrip_property(xs):
    vals = np.array(xs, dtype=np.uint64)
    assert np.array_equal(varint_decode(varint_encode(vals)), vals)


@settings(max_examples=100, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10**12),
            st.integers(min_value=1, max_value=1000),
            st.integers(min_value=1, max_value=100000),
        ),
        min_size=1,
        max_size=500,
        unique_by=lambda t: t[0],
    )
)
def test_posting_block_roundtrip(postings):
    postings.sort()
    d = np.array([p[0] for p in postings], dtype=np.int64)
    t = np.array([p[1] for p in postings], dtype=np.int64)
    l = np.array([p[2] for p in postings], dtype=np.int64)
    buf = encode_posting_block(d, t, l)
    d2, t2, l2 = decode_posting_block(buf, len(postings))
    assert np.array_equal(d2, d) and np.array_equal(t2, t) and np.array_equal(l2, l)


def test_block_bound_is_upper_bound_under_any_global_stats():
    """Blocks carry idf-free (max_tf, min_dl); the bound evaluated with ANY
    global idf/avgdl at query time must dominate every posting's impact under
    those same stats — this is what makes segments mergeable."""
    rng = np.random.default_rng(42)
    d = np.sort(rng.choice(10**9, size=1000, replace=False))
    t = rng.integers(1, 50, 1000)
    l = rng.integers(10, 5000, 1000)
    k1, b = 0.9, 0.4
    cols = encode_runs_blocks(np.zeros(d.size, dtype=np.int64), d, t, l, block_size=128)
    blocks = [{k: v[i] for k, v in cols.items()} for i in range(len(cols["postings_bin"]))]
    assert sum(bl["n_docs"] for bl in blocks) == 1000
    prev_last = -1
    for bl in blocks:
        dd, tt, ll = decode_posting_block(bl["postings_bin"], bl["n_docs"])
        assert bl["max_tf"] == tt.max() and bl["min_dl"] == ll.min()
        assert bl["block_cf"] == tt.sum()
        for idf, avgdl in ((3.7, 431.0), (0.01, 431.0), (9.9, 12.0), (1.0, 50000.0)):
            ub = block_upper_bound(bl["max_tf"], bl["min_dl"], idf, k1, b, avgdl)
            assert ub >= bm25_impact(tt, ll, idf, k1, b, avgdl).max() - 1e-12
        assert bl["first_doc"] == dd[0] and bl["last_doc"] == dd[-1]
        assert dd[0] > prev_last  # blocks are docid-range disjoint & ordered
        prev_last = dd[-1]


@settings(max_examples=60, deadline=None)
@given(
    st.lists(  # (run, doc, tf, dl) tuples; runs interleaved, docs unique per run
        st.tuples(
            st.integers(min_value=0, max_value=6),
            st.integers(min_value=0, max_value=10**9),
            st.integers(min_value=1, max_value=1000),
            st.integers(min_value=1, max_value=100000),
        ),
        min_size=1,
        max_size=400,
        unique_by=lambda t: (t[0], t[1]),
    ),
    st.integers(min_value=1, max_value=64),
)
def test_encode_runs_blocks_roundtrip(rows, block_size):
    rows.sort(key=lambda r: r[0])  # run_id must be non-decreasing
    run = np.array([r[0] for r in rows], dtype=np.int64)
    d = np.array([r[1] for r in rows], dtype=np.int64)
    t = np.array([r[2] for r in rows], dtype=np.int64)
    l = np.array([r[3] for r in rows], dtype=np.int64)
    cols = encode_runs_blocks(run, d, t, l, block_size=block_size)
    assert int(np.sum(cols["n_docs"])) == len(rows)
    # reconstruct per run: sorted docids, exact tf/dl multiset
    uniq_runs = np.unique(run)
    got: dict[int, list] = {int(r): [] for r in uniq_runs}
    for i, buf in enumerate(cols["postings_bin"]):
        dd, tt, ll = decode_posting_block(buf, int(cols["n_docs"][i]))
        rid = int(uniq_runs[cols["run_idx"][i]])
        got[rid].append((int(cols["block_seq"][i]), dd, tt, ll))
    for rid in got:
        got[rid].sort(key=lambda x: x[0])
        dd = np.concatenate([g[1] for g in got[rid]])
        sel = run == rid
        order = np.argsort(d[sel])
        assert np.array_equal(dd, d[sel][order])
        assert np.array_equal(np.concatenate([g[2] for g in got[rid]]), t[sel][order])
        assert np.array_equal(np.concatenate([g[3] for g in got[rid]]), l[sel][order])


def test_compression_ratio_beats_raw():
    # delta+varint on dense docids should be far smaller than 8 bytes/posting
    d = np.arange(0, 100000, 3, dtype=np.int64)
    t = np.ones(d.size, dtype=np.int64)
    l = np.full(d.size, 100, dtype=np.int64)
    buf = encode_posting_block(d, t, l)
    assert len(buf) < d.size * 4  # ~3 bytes per posting here vs 24 raw
