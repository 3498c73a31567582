"""Delta-gap + varint posting compression and block-max metadata (NumPy-vectorized).

Reference parity target (SURVEY.md §2 O8/O10): Lucene stores postings delta-gap +
VInt encoded in blocks with block-max impact metadata (BMW); the reference consumes
that format opaquely via JNI (/root/reference/src/searcher/lucene/index.rs:57-58).
This module owns the same on-disk semantics natively: postings live in BinaryType
columns, one row per (term, salt, block), each block carrying its docid range and
IDF-FREE score-bound metadata (``max_tf``, ``min_dl``): the BM25 contribution
idf * tf / (tf + k1*(1-b+b*dl/avgdl)) is increasing in tf and decreasing in dl, so
idf * bound(max_tf, min_dl) evaluated with the CURRENT global idf/avgdl at query
time upper-bounds every posting in the block. Because nothing collection-global is
baked into the block, segments built independently (streaming micro-batches,
incremental merges) keep exact pruning validity under the merged global stats —
the property Lucene gets from per-segment norms + query-time similarity.

Everything here is pure NumPy (no Python-per-value loops on the decode path) so it
runs Arrow-batch-at-a-time inside pandas UDFs.
"""

from __future__ import annotations

import numpy as np

BLOCK_SIZE_DEFAULT = 128


def _varint_nbytes(v: np.ndarray) -> np.ndarray:
    """Per-value encoded byte count: max(1, ceil(bit_length/7))."""
    nbits = np.zeros(v.shape, dtype=np.int64)
    tmp = v.copy()
    while True:
        nz = tmp > 0
        if not nz.any():
            break
        nbits[nz] += 1
        tmp >>= np.uint64(1)
    return np.maximum(1, (nbits + 6) // 7)


def varint_encode_with_sizes(values: np.ndarray) -> tuple[bytes, np.ndarray]:
    """LEB128-encode (vectorized over byte positions); also returns per-value
    byte sizes so callers can slice the buffer at value boundaries."""
    v = np.asarray(values, dtype=np.uint64)
    if v.size == 0:
        return b"", np.empty(0, dtype=np.int64)
    nbytes = _varint_nbytes(v)
    offsets = np.concatenate(([0], np.cumsum(nbytes)[:-1]))
    out = np.zeros(int(nbytes.sum()), dtype=np.uint8)
    for j in range(int(nbytes.max())):
        mask = nbytes > j
        chunk = (v[mask] >> np.uint64(7 * j)) & np.uint64(0x7F)
        cont = (nbytes[mask] > j + 1).astype(np.uint8) << 7
        out[offsets[mask] + j] = chunk.astype(np.uint8) | cont
    return out.tobytes(), nbytes


def varint_encode(values: np.ndarray) -> bytes:
    return varint_encode_with_sizes(values)[0]


def varint_decode(buf: bytes) -> np.ndarray:
    """Inverse of varint_encode (vectorized via reduceat)."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size == 0:
        return np.empty(0, dtype=np.uint64)
    is_last = (b & 0x80) == 0
    starts = np.concatenate(([0], np.flatnonzero(is_last)[:-1] + 1))
    grp = np.cumsum(np.concatenate(([False], is_last[:-1])))
    pos = np.arange(b.size) - starts[grp]
    shifted = (b & 0x7F).astype(np.uint64) << (np.uint64(7) * pos.astype(np.uint64))
    return np.bitwise_or.reduceat(shifted, starts)


def encode_posting_block(doc_ids: np.ndarray, tfs: np.ndarray, dls: np.ndarray) -> bytes:
    """One block: varint(delta(doc_ids)) ++ varint(tfs) ++ varint(dls).

    ``doc_ids`` must be sorted ascending and distinct within the block; the first
    delta is the absolute first doc_id.
    """
    deltas = np.diff(doc_ids, prepend=0).astype(np.uint64)
    return varint_encode(deltas) + varint_encode(tfs) + varint_encode(dls)


def decode_posting_block(buf: bytes, n: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    vals = varint_decode(buf)
    assert vals.size == 3 * n, f"expected {3*n} varints, got {vals.size}"
    doc_ids = np.cumsum(vals[:n].astype(np.int64))
    return doc_ids, vals[n : 2 * n].astype(np.int64), vals[2 * n :].astype(np.int64)


def decode_blocks_batch(
    bufs: list[bytes], ns: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Decode MANY blocks in one vectorized pass.

    Varints end on value boundaries, so the concatenation of block buffers
    decodes as one stream; per-block docid cumsums are recovered with the
    segmented-cumsum trick (global cumsum minus the value at each segment
    start). Returns (doc_ids, tfs, dls, block_idx) flat arrays where block_idx
    maps each posting back to its input block row. This is the query-path
    decode: one NumPy pass per Arrow batch instead of a Python loop per block.
    """
    ns = np.asarray(ns, dtype=np.int64)
    if len(bufs) == 0 or ns.sum() == 0:
        z = np.empty(0, dtype=np.int64)
        return z, z, z, z
    vals = varint_decode(b"".join(bufs))
    total = int(ns.sum())
    assert vals.size == 3 * total, f"expected {3*total} varints, got {vals.size}"

    # value layout per block: [deltas(n) tfs(n) dls(n)]
    block_val_starts = np.concatenate(([0], np.cumsum(3 * ns)[:-1]))
    idx = np.arange(total)
    block_idx = np.repeat(np.arange(ns.size), ns)
    within = idx - np.repeat(np.concatenate(([0], np.cumsum(ns)[:-1])), ns)
    delta_pos = block_val_starts[block_idx] + within
    deltas = vals[delta_pos].astype(np.int64)
    tfs = vals[delta_pos + ns[block_idx]].astype(np.int64)
    dls = vals[delta_pos + 2 * ns[block_idx]].astype(np.int64)

    # segmented cumsum: global cumsum minus its value just before each segment
    g = np.cumsum(deltas)
    seg_starts = np.concatenate(([0], np.cumsum(ns)[:-1]))
    g_before = np.concatenate(([0], g[:-1]))[seg_starts]
    doc_ids = g - np.repeat(g_before, ns)
    return doc_ids, tfs, dls, block_idx


def bm25_impact(tf: np.ndarray, dl: np.ndarray, idf: float, k1: float, b: float, avgdl: float) -> np.ndarray:
    """Per-posting BM25 score contribution (Lucene BM25Similarity shape):
    idf * tf / (tf + k1 * (1 - b + b * dl/avgdl)). float64 internally.
    """
    tf = tf.astype(np.float64)
    dl = dl.astype(np.float64)
    return idf * tf / (tf + k1 * (1.0 - b + b * dl / avgdl))


def block_upper_bound(
    max_tf: np.ndarray,
    min_dl: np.ndarray,
    idf,
    k1: float,
    b: float,
    avgdl: float,
) -> np.ndarray:
    """Per-block BM25 score upper bound from idf-free metadata, evaluated with
    the CURRENT global idf/avgdl: valid because bm25_impact is monotonically
    increasing in tf and decreasing in dl. ``idf`` may be scalar or per-block."""
    mt = np.asarray(max_tf, dtype=np.float64)
    md = np.asarray(min_dl, dtype=np.float64)
    return idf * mt / (mt + k1 * (1.0 - b + b * md / avgdl))


def encode_runs_blocks(
    run_id: np.ndarray,
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    block_size: int = BLOCK_SIZE_DEFAULT,
) -> dict[str, np.ndarray | list]:
    """Encode MANY posting runs into blocks in ONE vectorized pass.

    ``run_id`` is a non-decreasing int array assigning each posting to its run
    (one run = one term's — or one (term, shard, salt)'s — posting sublist;
    doc_ids must be distinct within a run). Rows within a run may arrive in any
    doc order; one lexsort orders the entire batch. All per-posting math
    (deltas, reduceat metadata, varint byte sizes) is computed over the whole
    batch at once — the only per-block Python cost is the final bytes slice.
    At web scale the encode stage runs millions of blocks; per-run NumPy
    pipelines were the round-1 build bottleneck.

    Returns per-block arrays: run_idx (ordinal of the block's run within the
    batch, for the caller to map back to term/shard/salt), block_seq,
    first_doc, last_doc, n_docs, max_tf, min_dl, block_cf, postings_bin.
    Block format per block is unchanged: varint(deltas) ++ varint(tfs) ++
    varint(dls), first delta in each block absolute.
    """
    r = np.asarray(run_id, dtype=np.int64)
    n = r.size
    if n == 0:
        e = np.empty(0, dtype=np.int64)
        return {
            "run_idx": e, "block_seq": e, "first_doc": e, "last_doc": e,
            "n_docs": e, "max_tf": e, "min_dl": e, "block_cf": e,
            "postings_bin": [],
        }
    order = np.lexsort((doc_ids, r))
    r = r[order]
    d = np.asarray(doc_ids, dtype=np.int64)[order]
    t = np.asarray(tfs, dtype=np.int64)[order]
    l = np.asarray(dls, dtype=np.int64)[order]

    idx = np.arange(n)
    is_run_start = np.empty(n, dtype=bool)
    is_run_start[0] = True
    is_run_start[1:] = r[1:] != r[:-1]
    run_of = np.cumsum(is_run_start) - 1  # dense run ordinal per posting
    run_starts = idx[is_run_start]
    within_run = idx - run_starts[run_of]

    is_block_start = (within_run % block_size) == 0  # run starts are block starts
    block_starts = idx[is_block_start]
    block_of = np.cumsum(is_block_start) - 1
    n_blocks = block_starts.size
    block_ends = np.concatenate((block_starts[1:], [n]))
    lens = block_ends - block_starts

    run_idx = run_of[block_starts]
    first_block_of_run = (np.cumsum(is_block_start) - 1)[run_starts]
    block_seq = np.arange(n_blocks) - first_block_of_run[run_idx]

    max_tf = np.maximum.reduceat(t, block_starts)
    min_dl = np.minimum.reduceat(l, block_starts)
    block_cf = np.add.reduceat(t, block_starts)

    deltas = np.empty(n, dtype=np.int64)
    deltas[0] = d[0]
    deltas[1:] = d[1:] - d[:-1]
    deltas[block_starts] = d[block_starts]  # first delta per block is absolute

    # interleaved value layout per block: [deltas_b, tfs_b, dls_b]; block b's
    # values occupy [3*block_start_b, 3*block_end_b) because blocks are
    # contiguous posting ranges
    w = idx - block_starts[block_of]
    pos_delta = 3 * block_starts[block_of] + w
    pos_tf = pos_delta + lens[block_of]
    pos_dl = pos_tf + lens[block_of]
    vals = np.empty(3 * n, dtype=np.uint64)
    vals[pos_delta] = deltas.astype(np.uint64)
    vals[pos_tf] = t.astype(np.uint64)
    vals[pos_dl] = l.astype(np.uint64)

    buf, sizes = varint_encode_with_sizes(vals)
    byte_ends = np.cumsum(sizes)
    block_byte_ends = byte_ends[3 * block_ends - 1]
    block_byte_starts = np.concatenate(([0], block_byte_ends[:-1]))

    return {
        "run_idx": run_idx,
        "block_seq": block_seq,
        "first_doc": d[block_starts],
        "last_doc": d[block_ends - 1],
        "n_docs": lens,
        "max_tf": max_tf,
        "min_dl": min_dl,
        "block_cf": block_cf,
        "postings_bin": [
            buf[s:e] for s, e in zip(block_byte_starts, block_byte_ends)
        ],
    }
