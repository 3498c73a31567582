"""Deduplication operators for web-scale corpus curation.

Four families, all engine-agnostic-deterministic (hashes are md5 of explicit
strings, never engine-internal hash functions) so every one of them has an
exact DuckDB oracle:

* exact            — md5(text) groupBy; the 100 TB shape is a single shuffled
                     hash-agg with map-side combine, keeper = min(doc_id).
* minhash + LSH    — one Arrow kernel per batch: shingle -> one md5-derived
                     28-bit base hash -> 16 universal-hash lanes
                     min((A[i]*h+B[i]) % P) (the datasketch /
                     Spark-MinHashLSH multiply-mod-prime family,
                     approximately min-wise independent), one signature row
                     per input row (an incremental snapshot: the same
                     lanes as JVM SQL) -> 8 bands of 2 -> band-bucket join
                     produces candidate pairs. Only the band join shuffles;
                     no O(n^2) stage.
* n-gram Jaccard   — exact pairwise Jaccard over distinct 3-gram shingles via
                     shingle-inverted self-join (the verify stage behind LSH),
                     with an optional hot-shingle df cap for web scale.
* simhash          — 64-bit sign fingerprint from md5-derived +-1 projections
                     (Arrow-batched, one md5 per distinct token), 4x16-bit
                     Hamming bands for near-dup candidate generation: two docs
                     within Hamming distance 3 share >=1 exact band
                     (pigeonhole), so candidates come from 4 band-bucket
                     joins, never an all-pairs stage.

The reference has no dedup surface (single-purpose IR engine); these are the
first-class additions a training-data pipeline over the same corpus needs.
"""

from __future__ import annotations

import hashlib
from itertools import islice

import numpy as np
from pyspark.sql import DataFrame, functions as F

from rustserini_spark.functions.parity import r4
from rustserini_spark.functions.text import shingles_col, with_tokens
from rustserini_spark.session import barrier, fan_out, filter_unpushed

N_MINHASHES = 16
N_BANDS = 8  # rows-per-band = 2

# Universal-hash minhash lanes: lane_i(x) = (A[i] * h(x) + B[i]) mod P over a
# 28-bit md5-derived base hash h (the datasketch / Spark-MinHashLSH family —
# multiply-mod-prime over a hashed domain is approximately min-wise
# independent). ONE md5 per distinct shingle instead of one per (lane,
# shingle): the signature pass was 16x-md5 compute-bound, and the integer
# lanes are 3.7x faster end-to-end (measured, 50k docs / 4 cores). All
# constants are engine-portable literals so DuckDB replays the lanes exactly:
# h = CAST('0x' || substr(md5(shingle), 1, 7) AS BIGINT) < 2^28,
# A[i] < P, so A[i]*h + B[i] < 2^59 never overflows a signed 64-bit int.
MINHASH_P = 2147483647  # 2^31 - 1 (Mersenne prime)
MINHASH_A = tuple((0x9E3779B1 * (i + 1)) % MINHASH_P or 1 for i in range(N_MINHASHES))
MINHASH_B = tuple((0x85EBCA77 * (i + 1)) % MINHASH_P for i in range(N_MINHASHES))

SIMHASH_BITS = 64
SIMHASH_BANDS = 4  # 4 x 16-bit bands -> exact-band match for Hamming <= 3


def require_integral_id(df: DataFrame, id_col: str, where: str) -> None:
    """Fail fast when an operator that carries ids as int64 (SimHash
    signatures, and anything keyed on them) is handed a non-integral id
    column: a silent cast of string/UUID ids produces NULL doc_ids that
    downstream keeper joins drop or mis-keep WITHOUT any error. Callers with
    string ids should assign a surrogate integer and thread the original id
    alongside."""
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    id_type = df.schema[id_col].dataType
    if not isinstance(id_type, (ByteType, ShortType, IntegerType, LongType)):
        raise TypeError(
            f"{where} requires an integral {id_col!r} column, got "
            f"{id_type.simpleString()}: casting would turn non-numeric ids "
            "into NULLs and silently corrupt keeper resolution"
        )


def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(text_hash, n_dups, keeper): one row per distinct text, keeper = min id."""
    return (
        docs.groupBy(F.md5(F.col(text_col)).alias("text_hash"))
        .agg(
            F.count(F.lit(1)).alias("n_dups"),
            F.min(F.col(id_col)).alias("keeper"),
        )
    )


def doc_shingles(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """(doc_id, shingle) — the exploded shingle-inverted relation, one row
    per shingle occurrence."""
    # fan_out: tokenize+explode is the heavy pre-shuffle map pass of every
    # shingle consumer; a single-file input would otherwise run it 1-task
    # (no-op for many-partition inputs — see session.fan_out)
    toks = with_tokens(fan_out(docs.select(F.col(id_col), F.col(text_col))), text_col)
    return toks.select(
        F.col(id_col).alias("doc_id"), F.explode(shingles_col("toks", n)).alias("shingle")
    )


# items (tokens or shingles) reduced per kernel step, by both Arrow kernels:
# bounds a chunk's memo and its gathered table — (items x 64) int8 SimHash
# signs, 256 KiB; (items x 16) int64 minhash lanes, 512 KiB — whatever the
# Arrow batch size (batches reach 131,072 rows). 64k-item chunks ran no
# faster and left each Python worker's RSS ~7 MB higher after a 250-doc
# batch. Shingles are nearly all distinct, so a memo spanning the whole
# batch would grow with the batch.
_KERNEL_CHUNK = 1 << 12
_LANE_A = np.array(MINHASH_A, dtype=np.int64)
_LANE_B = np.array(MINHASH_B, dtype=np.int64)


def _chunked(seqs, reduce_chunk, combine):
    """Per-row reductions in chunks of at most ``_KERNEL_CHUNK`` items, so a
    kernel's temporary memory does not grow with the Arrow batch.

    ``seqs`` yields ``(row, items)`` with at least one item.
    ``reduce_chunk(items, lens)`` reduces the concatenated items of
    consecutive rows (``lens`` items each) to one result per row. A row with
    more items than a chunk is reduced alone, slice by slice, and
    ``combine(parts)`` folds its slices' results into one. Yields
    ``(rows, result)`` per chunk."""
    limit = _KERNEL_CHUNK
    rows: list[int] = []
    items: list = []
    lens: list[int] = []
    for row, seq in seqs:
        if rows and len(items) + len(seq) > limit:
            yield rows, reduce_chunk(items, lens)
            rows, items, lens = [], [], []
        if len(seq) > limit:
            slices = (seq[s : s + limit] for s in range(0, len(seq), limit))
            yield [row], combine([reduce_chunk(part, [len(part)]) for part in slices])
            continue
        rows.append(row)
        items.extend(seq)
        lens.append(len(seq))
    if rows:
        yield rows, reduce_chunk(items, lens)


def _map_text(df: DataFrame, text_col: str, fields: list, kernel) -> DataFrame:
    """``df`` with ``text_col`` replaced by ``fields``, in ONE Arrow pass.
    ``kernel(texts)`` maps one batch's texts to ``(rows, arrays)``: the
    indices of the rows it keeps (None keeps every row) and one Arrow array
    per field. Every other column passes through as the same Arrow array
    Spark sent (taken at ``rows``), so its type and nulls survive exactly;
    only the text is read, and it is not sent back."""
    import pyarrow as pa
    from pyspark.sql.types import StructType

    names = [f.name for f in df.schema.fields if f.name != text_col]
    out_names = names + [f.name for f in fields]

    def gen(batches):
        for batch in batches:
            rows, arrays = kernel(batch.column(text_col).to_pylist())
            cols = [batch.column(n) for n in names]
            if rows is not None and len(rows) < batch.num_rows:
                take = pa.array(rows, pa.int64())
                cols = [c.take(take) for c in cols]
            yield pa.RecordBatch.from_arrays(cols + arrays, names=out_names)

    return df.mapInArrow(gen, StructType([df.schema[n] for n in names] + fields))


def _shingles(toks: list[str]) -> list[str]:
    """Space-joined 3-token shingles, as ``shingles_col(toks, 3)`` builds them."""
    return list(map(" ".join, zip(toks, toks[1:], toks[2:])))


def _chunk_minhash(shingles: list[str], lens: list[int], n_hashes: int, with_sets: bool):
    """Lane minima of consecutive docs whose shingles are concatenated in
    ``shingles`` (``lens`` per doc): a (len(lens), n_hashes) int64 array,
    and with ``with_sets`` each doc's sorted distinct 64-bit shingle keys."""
    index: dict[str, int] = {}
    setdefault = index.setdefault
    ids = np.fromiter(
        (setdefault(s, len(index)) for s in shingles), dtype=np.int64, count=len(shingles)
    )
    digests = np.frombuffer(
        b"".join(hashlib.md5(s.encode("utf-8")).digest() for s in index), dtype=np.uint8
    ).reshape(-1, 16)
    # h = int(md5[:7 hex]): the top 28 bits of the digest's first 4 bytes
    h = (digests[:, :4].copy().view(">u4").reshape(-1) >> 4).astype(np.int64)
    # exact in int64: h < 2^28 and A, B < 2^31, so A*h + B < 2^60
    lanes = (h[:, None] * _LANE_A[:n_hashes] + _LANE_B[:n_hashes]) % MINHASH_P
    starts = np.cumsum([0] + lens[:-1])
    mins = np.minimum.reduceat(lanes[ids], starts, axis=0)
    if not with_sets:
        return mins, None
    keys = digests[:, :8].copy().view(">i8").reshape(-1).astype(np.int64)[ids]
    return mins, [np.unique(keys[s : s + n]) for s, n in zip(starts, lens)]


def _minhash_batch(texts, n_hashes: int = N_MINHASHES, with_sets: bool = False):
    """Minhash lanes of one Arrow batch of texts (see ``minhash_signatures``).

    Returns ``(rows, lanes, sets)``: the indices of the texts that have at
    least one shingle, their (len(rows), n_hashes) int64 lanes, and with
    ``with_sets`` their sorted distinct shingle keys (else None). Docs are
    reduced by ``_chunked``, each chunk with its own memo (one md5 per
    distinct shingle in the chunk); a longer doc's slices fold by a running
    minimum and a union of their keys."""
    from rustserini_spark.analysis import simple_tokenize_text

    def reduce_chunk(shingles, lens):
        return _chunk_minhash(shingles, lens, n_hashes, with_sets)

    def combine(parts):
        mins = np.minimum.reduce([m for m, _ in parts])
        if not with_sets:
            return mins, None
        return mins, [np.unique(np.concatenate([keys[0] for _, keys in parts]))]

    # fewer than 3 tokens: no shingle, no signature row
    seqs = (
        (row, sh)
        for row, text in enumerate(texts)
        if (sh := _shingles(simple_tokenize_text(text)))
    )
    rows: list[int] = []
    mins: list[np.ndarray] = []
    sets: list[np.ndarray] = []
    for chunk_rows, (m, keys) in _chunked(seqs, reduce_chunk, combine):
        rows.extend(chunk_rows)
        mins.append(m)
        sets.extend(keys or ())
    lanes = np.concatenate(mins) if mins else np.empty((0, n_hashes), dtype=np.int64)
    return np.asarray(rows, dtype=np.int64), lanes, sets if with_sets else None


def minhash_signatures(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = N_MINHASHES,
    with_sets: bool = False,
) -> DataFrame:
    """(doc_id, h0..h{n-1}) bigint lanes: minhash_i = min((A[i]*h + B[i]) % P)
    over the doc's 3-token shingles (``simple_tokenize_text``, space-joined),
    with the per-shingle base hash h = int(md5(shingle)[:7 hex]).

    One Arrow pass (``mapInArrow`` over ``fan_out(docs)``) through the
    batch-vectorized ``_minhash_batch`` kernel: one md5 per distinct shingle
    of a chunk, the lanes as int64 multiply-mod, ``np.minimum.reduceat``
    over the docs. The lanes are plain integer arithmetic, so the DuckDB
    oracle replays every one exactly. ``doc_id`` is ``id_col`` passed
    through as the same Arrow array, so its type is kept exactly.
    ``n_hashes`` is at most ``len(MINHASH_A)`` (16).

    The signature is per ROW, not per id: a duplicated id gets one signature
    row per input row (the same per-row semantics as ``with_simhash`` and
    ``curate_corpus``'s window keepers). A null, empty or whitespace-only
    text, and any doc with fewer than 3 tokens, has no shingle and emits no
    signature row, so it never becomes an LSH candidate.

    ``with_sets`` adds ``_arr``: the doc's sorted, distinct shingle keys,
    each the first 8 bytes of the shingle's md5 read as a big-endian int64
    (see ``build_minhash_table``).
    """
    import pyarrow as pa
    from pyspark.sql.types import ArrayType, LongType, StructField

    _check_n_hashes(n_hashes)
    fields = [StructField(f"h{i}", LongType()) for i in range(n_hashes)]
    if with_sets:
        fields.append(StructField("_arr", ArrayType(LongType(), False)))

    def kernel(texts):
        rows, lanes, sets = _minhash_batch(texts, n_hashes, with_sets)
        arrays = [pa.array(lane) for lane in np.ascontiguousarray(lanes.T)]
        if with_sets:
            offsets = np.cumsum([0] + [len(s) for s in sets], dtype=np.int32)
            values = np.concatenate(sets) if sets else np.empty(0, dtype=np.int64)
            arrays.append(pa.ListArray.from_arrays(pa.array(offsets), pa.array(values)))
        return rows, arrays

    pairs = docs.select(F.col(id_col).alias("doc_id"), F.col(text_col))
    return _map_text(fan_out(pairs), text_col, fields, kernel)


def _check_n_hashes(n_hashes: int) -> None:
    if not 0 < n_hashes <= len(MINHASH_A):
        raise ValueError(
            f"n_hashes must be in 1..{len(MINHASH_A)} (one lane per "
            f"MINHASH_A/MINHASH_B constant), got {n_hashes}"
        )


def snapshot_minhash_signatures(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = N_MINHASHES,
) -> DataFrame:
    """The rows ``minhash_signatures`` emits (bit-identical lanes, one row
    per input row, none for a doc without a shingle, ``doc_id``'s type
    kept), computed by SQL expressions in the JVM: per row, the shingles'
    base hashes in one ``transform`` and each lane as ``array_min`` of its
    multiply-mod. No shuffle and no Python stage.

    The incremental callers sign a SNAPSHOT with it: ``minhash_probe_pairs``'
    new side, ``dedup_increment`` and the streaming ``dedup_batch``. A
    snapshot is small next to the base corpus, and there a Python stage's
    fixed cost (~0.1-0.2 s per pass on a 4-core host, whatever the input)
    outweighs the kernel's per-shingle saving: on the sf0.1 entry snapshot
    (715 docs; local[4], one session, five alternating rounds, medians)
    ``dedup_increment`` ran 1.91 s with the kernel and 1.58 s with this
    pass, ``minhash_probe_pairs`` 1.78 and 1.58 s. Corpus-sized passes
    (``build_minhash_table``, the band table, the verify) keep the kernel,
    whose per-shingle cost is far lower on long text."""
    _check_n_hashes(n_hashes)
    lanes = [
        f"array_min(transform(_h, x -> ({MINHASH_A[i]} * x + {MINHASH_B[i]}) % {MINHASH_P}))"
        f" AS h{i}"
        for i in range(n_hashes)
    ]
    toks = with_tokens(
        fan_out(docs.select(F.col(id_col).alias("doc_id"), F.col(text_col))), text_col
    )
    # pinned above the tokenize projection: pushed below it, the predicate
    # would tokenize every doc a second time
    toks = filter_unpushed(toks, F.expr("size(toks) >= 3"))
    return (
        toks.select("doc_id", shingles_col("toks", 3).alias("_sh"))
        .selectExpr(
            "doc_id",
            "transform(_sh, s -> CAST(conv(substring(md5(s), 1, 7), 16, 10) AS BIGINT)) AS _h",
        )
        .selectExpr("doc_id", *lanes)
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = N_MINHASHES,
    n_bands: int = N_BANDS,
    max_bucket: int | None = None,
    sig: DataFrame | None = None,
) -> DataFrame:
    """Candidate near-duplicate pairs (doc_a < doc_b) from banded minhash LSH.

    Plan shape at scale: one Arrow signature pass (map, see
    ``minhash_signatures``) -> explode bands (map) -> band-bucket self-join
    (one shuffle) -> within-bucket pair expansion. Bucket sizes are bounded by collision
    probability, not corpus size; for boilerplate-heavy web corpora pass
    ``max_bucket`` to drop buckets above the cap (pair expansion is quadratic
    per bucket; a bucket with millions of members is an exact-dup cluster
    better handled by exact_dedup upstream).

    ``sig``: a precomputed signature table (``build_minhash_table``). The
    inline path would recompute the signature pass once per join
    branch of the band self-join (and once more for the bucket counts when
    ``max_bucket`` is set) — at 100 TB that is 2-3 full corpus passes, so the
    scale-safe form materializes signatures to parquet first (the index
    persisted once / opened for search split the reference applies to FAISS,
    /root/reference/src/searcher/faiss/searcher.rs:41-64) and both branches
    read the fixed-width columnar table instead.
    """
    if sig is None:
        # Materialize the signature table even on the "inline" path: the band
        # self-join consumes it on BOTH sides and Catalyst re-derives the
        # whole signature subtree per side (two full corpus passes, no
        # reuse without an exchange) — one pass + a fixed-width parquet
        # barrier is strictly cheaper at every scale.
        sig = build_minhash_table(docs, None, text_col, id_col, n_hashes)
    return _banded_pairs(sig, n_hashes, n_bands, max_bucket)


def build_minhash_table(
    docs: DataFrame,
    path: str | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = N_MINHASHES,
    with_sets: bool = False,
) -> DataFrame:
    """Materialize the minhash signature table (doc_id, h0..h{n-1}) to parquet
    and return the read-back DataFrame — the build half of the
    build-once/probe-many split (pass the result as ``sig`` to
    minhash_lsh_pairs). One corpus pass regardless of how many LSH calls
    consume it; the table is ~n_hashes*32 bytes per doc, tiny next to text.
    ``path`` defaults to a session scratch dir (session.scratch_dir); pass a
    durable path to reuse the table across sessions.

    ``with_sets``: additionally emit the doc's 64-bit-hashed shingle SET as a
    sorted ``_arr`` column from the SAME kernel pass — for an inline verify
    that would otherwise pay a second tokenize pass over candidate docs.
    Leave False for durable tables at corpus scale (the array column turns a
    fixed-width table into a shingle-scale one); downstream consumers that
    only need the lanes are unaffected either way because parquet scans
    prune the column. The kernel emits each doc's finished signature, so
    the build is one map pass into the barrier write, with no shuffle."""
    return barrier(
        minhash_signatures(docs, text_col, id_col, n_hashes, with_sets), "minhash_sig", path
    )


def _band_explode(sig: DataFrame, n_hashes: int, n_bands: int) -> DataFrame:
    """(doc_id, band_id, band_hash) — one row per signature band, map-only.

    band_hash is a 60-bit BIGINT (first 15 hex chars of the band md5, same
    trick as the per-shingle base hash): every band self-join / probe join
    shuffles these rows keyed by band_hash, and a long key is ~2.5x fewer
    shuffle bytes and a word-compare instead of a 32-char string compare —
    measured on the 2M-doc probe decomposition, the join stage is pure
    shuffle fabric, so payload width is its whole cost. 60-bit collisions
    across a 16M-row band relation (~1e-4 birthday odds) at worst add one
    spurious LSH candidate, and identically on both engines (DuckDB replays
    the same truncated-md5 cast), so oracle parity is exact."""
    # ONE SQL expression: one py4j call whatever n_bands * rows_per_band
    rows_per_band = n_hashes // n_bands
    bands = ", ".join(
        f"named_struct('band_id', {bi}, 'band_hash', CAST(conv(substring(md5(concat_ws('|', "
        + ", ".join(f"CAST(h{bi * rows_per_band + j} AS STRING)" for j in range(rows_per_band))
        + ")), 1, 15), 16, 10) AS BIGINT))"
        for bi in range(n_bands)
    )
    return sig.selectExpr("doc_id", f"inline(array({bands}))")


def _drop_hot_buckets(bands: DataFrame, max_bucket: int | None) -> DataFrame:
    """``bands`` without the (band_id, band_hash) buckets holding more than
    ``max_bucket`` rows; ``None`` keeps every bucket."""
    if max_bucket is None:
        return bands
    counts = bands.groupBy("band_id", "band_hash").agg(F.count(F.lit(1)).alias("_n"))
    return bands.join(
        counts.filter(F.col("_n") <= max_bucket).drop("_n"), ["band_id", "band_hash"]
    )


def _banded_pairs(
    sig: DataFrame, n_hashes: int, n_bands: int, max_bucket: int | None
) -> DataFrame:
    exploded = _drop_hot_buckets(_band_explode(sig, n_hashes, n_bands), max_bucket)
    a, b = exploded.alias("a"), exploded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def build_minhash_band_table(
    docs: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = N_MINHASHES,
    n_bands: int = N_BANDS,
    max_bucket: int | None = None,
) -> DataFrame:
    """Materialize the PROBE-READY band table (doc_id, band_id, band_hash)
    to parquet: bands pre-exploded and hot buckets pre-dropped, so a probe
    against this corpus does ZERO base-side compute — no band hashing, no
    bucket-count aggregation, just an equi-join against a fixed-width scan.
    One step further along the build-once/probe-many split than the
    signature table (which still pays band explode + cap agg per probe —
    at 500k docs that base-side work dominated the probe once the
    universal-hash lanes made the snapshot side cheap)."""
    sig = minhash_signatures(docs, text_col, id_col, n_hashes)
    bands = _drop_hot_buckets(_band_explode(sig, n_hashes, n_bands), max_bucket)
    return barrier(bands, "minhash_bands", path)


def minhash_probe_pairs(
    new_docs: DataFrame,
    base_sig: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = N_MINHASHES,
    n_bands: int = N_BANDS,
    max_bucket: int | None = None,
    new_sig: DataFrame | None = None,
    base_bands: DataFrame | None = None,
    broadcast_new: bool = False,
) -> DataFrame:
    """(new_id, base_id) LSH candidate pairs between a NEW crawl snapshot and
    an EXISTING corpus represented only by its materialized signature table.

    This is the incremental-dedup shape that matters at 100 TB: re-running
    pairwise LSH over base+new re-tokenizes the full corpus every snapshot,
    while this probe touches the base corpus only through its fixed-width
    (doc_id, h0..h15) parquet table (built once by ``build_minhash_table``) —
    the same index-persisted-once / opened-many split the reference applies
    to its FAISS index (/root/reference/src/searcher/faiss/searcher.rs:41-64).
    Only the new snapshot pays a signature pass (``snapshot_minhash_signatures``,
    JVM SQL, no Python stage); the join is a plain
    equi-join on (band_id, band_hash), and when the new snapshot is small
    relative to base (the common case) Spark broadcasts the new side.

    ``max_bucket`` caps the BASE side's band buckets (boilerplate megabuckets
    live in the accumulated corpus, not the fresh snapshot).

    ``broadcast_new=True`` pins a broadcast of the snapshot's band relation —
    the 100-TB probe plan: the base side (the one relation that is actually
    corpus-sized) is then NEVER shuffled, just scanned map-side against the
    broadcast hash table, and the only shuffle left is the distinct over
    matched pairs (candidate-sized, tiny). Without the pin Spark must plan
    the join from a computed subtree whose size it cannot estimate, and a
    shuffle join materializes the full base band relation across the wire
    per probe. Use whenever the snapshot is small relative to base (the
    incremental-crawl invariant); leave False when probing two comparably
    sized corpora. Hard-failure mode to size for: Spark caps a broadcast
    relation at 8 GB / 512M rows and the collect lands on the driver, so an
    oversized snapshot fails the job (or OOMs the driver) rather than
    degrading — at ~28 bytes per band row (doc_id + band_id + band_hash,
    pre-serialization) that is roughly 8 bands x ~35M snapshot docs; size
    driver memory accordingly or leave the pin off and take the shuffle.
    """
    return _probe_matches(
        new_docs, base_sig, text_col, id_col, n_hashes, n_bands, max_bucket,
        new_sig, base_bands, broadcast_new,
    ).distinct()


def _probe_matches(
    new_docs, base_sig, text_col, id_col, n_hashes, n_bands, max_bucket,
    new_sig, base_bands, broadcast_new,
) -> DataFrame:
    """(new_id, base_id), one row per colliding band: ``minhash_probe_pairs``
    before its distinct."""
    if base_bands is not None:
        # fail fast on a band table persisted under the pre-BIGINT key
        # format: joining a StringType band_hash against the LongType new
        # side would implicit-cast to NULLs and silently return ZERO pairs
        # (dedup_increment would then keep every duplicate).
        from pyspark.sql.types import LongType

        bh_type = base_bands.schema["band_hash"].dataType
        if not isinstance(bh_type, LongType):
            raise TypeError(
                "minhash_probe_pairs: base_bands.band_hash must be BIGINT "
                f"(got {bh_type.simpleString()}); rebuild the band table "
                "with build_minhash_band_table under the 60-bit BIGINT key "
                "format — a string-keyed table joins as NULL and the probe "
                "silently reports no collisions"
            )
    if new_sig is None:
        new_sig = snapshot_minhash_signatures(new_docs, text_col, id_col, n_hashes)
    new_bands = _band_explode(new_sig, n_hashes, n_bands)
    if base_bands is None:
        # signature-table path: band-hash + (optionally) cap the base side
        # per probe. Pre-build a band table (build_minhash_band_table) when
        # the same base serves many probes — then this whole branch is a
        # parquet scan.
        if base_sig is None:
            raise ValueError("minhash_probe_pairs needs base_sig or base_bands")
        base_bands = _drop_hot_buckets(_band_explode(base_sig, n_hashes, n_bands), max_bucket)
    if broadcast_new:
        # materialize the snapshot band relation BEFORE pinning the
        # broadcast: the broadcast build otherwise collects the computed
        # tokenize+sig+band subtree through the driver as one serial stage
        # per probe (the round-7 N->4N decomposition measured this serial
        # build as the banded probe's Amdahl term — 0.438 efficiency at 2M
        # docs). From a parquet-backed relation the build is a parallel
        # fixed-width scan, and repeat probes of the same snapshot reuse
        # the artifact instead of recomputing the subtree.
        new_bands = F.broadcast(barrier(new_bands, "probe_new_bands"))
    n, b = new_bands.alias("n"), base_bands.alias("b")
    return (
        n.join(
            b,
            (F.col("n.band_id") == F.col("b.band_id"))
            & (F.col("n.band_hash") == F.col("b.band_hash")),
        )
        .select(F.col("n.doc_id").alias("new_id"), F.col("b.doc_id").alias("base_id"))
    )


def dedup_increment(
    new_docs: DataFrame,
    base_sig: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = N_MINHASHES,
    n_bands: int = N_BANDS,
    max_bucket: int | None = None,
    base_bands: DataFrame | None = None,
    broadcast_new: bool = False,
) -> DataFrame:
    """The survivors of an incremental crawl: new docs whose minhash bands
    collide with NO document already in the base corpus (see
    ``minhash_probe_pairs``). Anti-join on the probe result — the new
    snapshot is the only side that is ever tokenized, so appending a 0.1%
    daily snapshot to a 100 TB corpus costs one pass over the snapshot plus
    an equi-join against the signature table (or, with ``base_bands``, the
    pre-capped band table — zero base-side compute per snapshot).
    ``broadcast_new`` as in ``minhash_probe_pairs``."""
    # the anti-join needs no distinct on its right side, so the probe's
    # matches go in as they are: both distincts (pairs, then ids) and their
    # shuffles are skipped
    hits = _probe_matches(
        new_docs, base_sig, text_col, id_col, n_hashes, n_bands, max_bucket,
        None, base_bands, broadcast_new,
    ).select(F.col("new_id").alias(id_col))
    return new_docs.join(hits, id_col, "left_anti")


def ngram_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """(doc_a, doc_b, jaccard) for pairs with shingle-set Jaccard >= threshold.

    Shingle-inverted self-join: only docs sharing >=1 shingle ever pair up.
    At 100 TB the LSH pass above prefilters candidates; this is the exact
    verify applied to its output (compose: pairs.join(this)).

    ``max_shingle_df`` (standard hot-shingle cap): drop shingles appearing in
    more than N docs from the JOIN side only — a shingle shared by millions of
    docs is boilerplate that contributes quadratic join fan-out and almost no
    Jaccard mass. Doc shingle-set sizes stay exact, so reported Jaccard for
    surviving pairs is a (tight) lower bound; true near-dups (J >= 0.8) share
    many rare shingles and still pair up. Default None = exact.
    """
    # shingles hashed to 64-bit ints MAP-SIDE, before the set-dedup shuffle:
    # every downstream shuffle/array then carries an 8-byte long instead of
    # an n-token string (~20-40 bytes on web text) — the same key-narrowing
    # minhash_verified_pairs ships (see its docstring for the collision
    # analysis: jaccard over hashed sets equals jaccard over raw sets unless
    # two distinct shingles of one candidate pair collide in 64 bits,
    # ~1e-11 per doc).
    occ = doc_shingles(docs, text_col, id_col).select(
        "doc_id", F.xxhash64("shingle").alias("shingle")
    )
    if max_shingle_df is None:
        # ONE exchange builds the whole per-doc relation: collect_set dedups
        # the multiset inside the aggregation (no separate distinct shuffle),
        # and after the operators' fan_out every doc's shingles sit in one
        # partition, so the map-side partial aggregation ships ~one complete
        # set per doc. df-1 shingles stay in the arrays — they can never be
        # common to two docs, so they change no intersection count and cost
        # only dead probe rows in the candidate join.
        docs_rel = (
            occ.groupBy("doc_id")
            .agg(F.sort_array(F.collect_set("shingle")).alias("_arr"))
            .withColumn("n_sh", F.size("_arr"))
        )
    else:
        # the df cap is semantic (declared lower-bound jaccard: n_common
        # counts only shingles with df <= cap), so the capped variant needs
        # per-shingle df before the final arrays can be assembled. Build the
        # FULL per-doc sets first (same single collect_set exchange as the
        # uncapped path), barrier them, then derive df by re-exploding the
        # doc-count-sized barrier (no second tokenize pass, no full-width
        # occurrence sort — measured ~30% cheaper than a df window over the
        # deduped occurrence relation at 50k docs, and the gap grows with
        # corpus size). df >= 2 composes as a result-exact extra drop (a
        # df-1 shingle cannot be shared). Set sizes stay EXACT (size of the
        # unfiltered set, carried through the rebuild) per the declared
        # semantics. Docs whose every shingle is capped away drop out of
        # the relation entirely — result-exact, since an empty array can
        # produce neither a prefix row nor a nonzero n_common.
        full = barrier(
            occ.groupBy("doc_id")
            .agg(F.sort_array(F.collect_set("shingle")).alias("_af"))
            .withColumn("n_sh", F.size("_af")),
            "jaccard_full",
        )
        ex = full.select("doc_id", "n_sh", F.explode("_af").alias("shingle"))
        keep = (
            ex.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter((F.col("_df") >= 2) & (F.col("_df") <= max_shingle_df))
            .select("shingle")
        )
        docs_rel = (
            ex.join(keep, "shingle")
            .groupBy("doc_id")
            .agg(
                F.max("n_sh").alias("n_sh"),
                F.sort_array(F.collect_list("shingle")).alias("_arr"),
            )
        )
    # materialize the doc-count-sized (doc_id, n_sh, sorted-array) relation
    # ONCE: it is consumed three times (prefix explode + both verify sides)
    # and Catalyst would otherwise re-derive the tokenize+agg subtree per
    # consumer. Strictly smaller than an occurrence-level barrier (one row
    # per doc vs one per (doc, shingle)).
    docs_rel = barrier(docs_rel, "jaccard_docs")

    # AllPairs/PPJoin prefix filtering, strengthened to a 2-share guarantee
    # (exact): a pair can only reach the final filter if round4(J) >= t,
    # i.e. J >= t - 5e-5 > t2 := t - 1e-4. J >= t2 implies c >= t2 * n_sh
    # for EACH side (c >= t2*(n_a + n_b - c) and n_b >= c give c >= t2*n_a).
    # With every set sorted by one global order and per-side prefix length
    # |arr| - α_s + k, any pair whose (filtered) intersection is >= α shares
    # at least k elements inside BOTH prefixes [Bayardo et al. 2007; Xiao et
    # al. 2008, generalized: if the joint prefix share were <= k-1, all
    # remaining common elements sit in one side's length-(α_s - k) suffix,
    # bounding c <= α_s - 1 < c]. So the inverted self-join runs on array
    # PREFIXES only (~(1-t) of the rows, ~(1-t)² of the quadratic join
    # output — measured at 50k docs: 127M co-occurrence rows -> ~11M) and
    # the pair aggregation keeps only pairs with >= g joint prefix shares,
    # where g = min over sides of (k if α_s >= k else max(α_s, 1)) — the
    # k-share guarantee degrades per side when a (filtered) set is so small
    # that its suffix would be negative (then its whole array IS the prefix
    # and the joint share equals c itself, >= max(α_s, 1)). With k=2 the
    # measured candidate set fell 9.6M -> 269k at 50k docs.
    # α = floor(t2 * n_sh) (floor, not ceil: one element of extra prefix
    # headroom absorbs any double-rounding of t2*n_sh, so the prefix can
    # only be longer than the theorem needs, never shorter).
    thr = float(threshold) - 1e-4
    _k = 2
    alpha = F.floor(F.lit(thr) * F.col("n_sh")).cast("int")
    prefix_len = F.greatest(F.size("_arr") - alpha + F.lit(_k), F.lit(0))
    pref = docs_rel.select(
        "doc_id",
        "n_sh",
        F.explode(F.slice("_arr", F.lit(1), prefix_len)).alias("shingle"),
    )
    a, b = pref.alias("a"), pref.alias("b")
    # size-compatibility prune INSIDE the candidate join (exact, same slack
    # arithmetic as above: J <= min/max of the set sizes, checked against t2
    # with one whole shingle of headroom for the r4 rounding).
    compat = (
        (F.col("a.n_sh") >= thr * F.col("b.n_sh") - 1)
        & (F.col("b.n_sh") >= thr * F.col("a.n_sh") - 1)
    )
    g_pair = F.least(
        F.lit(_k),
        F.greatest(
            F.least(
                F.floor(F.lit(thr) * F.col("n_a")), F.floor(F.lit(thr) * F.col("n_b"))
            ).cast("int"),
            F.lit(1),
        ),
    )
    cand = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & compat,
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(
            F.count(F.lit(1)).alias("_n_pref"),
            F.max(F.col("a.n_sh")).alias("n_a"),
            F.max(F.col("b.n_sh")).alias("n_b"),
        )
        .filter(F.col("_n_pref") >= g_pair)
        .select("doc_a", "doc_b")
    )
    # exact verify entirely in codegen: re-attach both docs' full filtered
    # arrays (planner-governed joins — the doc-count-sized array relation
    # broadcasts while it fits, degrades to keyed shuffle joins at scale)
    # and count the intersection. For the capped variant this reproduces
    # the declared lower-bound n_common exactly: the arrays hold precisely
    # the df-in-[2, cap] shingles, and a df-1 shingle can never be shared.
    arr_a = docs_rel.select(
        F.col("doc_id").alias("doc_a"),
        F.col("n_sh").alias("n_a"),
        F.col("_arr").alias("_arr_a"),
    )
    arr_b = docs_rel.select(
        F.col("doc_id").alias("doc_b"),
        F.col("n_sh").alias("n_b"),
        F.col("_arr").alias("_arr_b"),
    )
    verified = (
        cand.join(arr_a, "doc_a")
        .join(arr_b, "doc_b")
        .withColumn("n_common", F.size(F.array_intersect("_arr_a", "_arr_b")))
    )
    # filter_unpushed: Catalyst would otherwise push the threshold predicate
    # into the join condition with the defining expression substituted,
    # evaluating array_intersect 2-3x per candidate row (plan-verified); the
    # pin keeps one intersection per pair in the projection.
    return (
        filter_unpushed(
            verified.withColumn(
                "jaccard",
                r4(F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common"))),
            ),
            F.col("jaccard") >= threshold,
        )
        .select("doc_a", "doc_b", "jaccard")
    )


def minhash_verified_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    n_hashes: int = N_MINHASHES,
    n_bands: int = N_BANDS,
    max_bucket: int | None = None,
    sig: DataFrame | None = None,
    sig_path: str | None = None,
) -> DataFrame:
    """(doc_a, doc_b, jaccard): banded-LSH candidates, exact-verified.

    The composed near-dup pipeline that minhash_lsh_pairs and
    ngram_jaccard_pairs document separately ("the LSH pass prefilters
    candidates; this is the exact verify applied to its output"), shipped as
    one operator: the banded self-join prunes the pair space to
    band-colliding candidates (``max_bucket`` bounding hot-bucket fan-out on
    boilerplate-heavy corpora), then the exact shingle-set Jaccard is
    computed FOR CANDIDATE PAIRS ONLY. Cost is O(candidates * avg shingles
    per doc) instead of the inverted join's O(sum df^2), and unlike the
    ``max_shingle_df`` cap there is no lower-bound caveat — reported jaccard
    is exact, so the only approximation is LSH candidate recall (~1.0 for
    J >= threshold pairs at the default 16x8 banding, where a J=0.8 pair
    misses all 8 bands with probability (1-0.64)^8 ~ 3e-4).

    Plan shape at scale: banded candidate join (bounded buckets), candidates
    materialized once -> SEMI-JOIN REDUCTION AT THE DOCS LEVEL (candidate
    ids AQE-broadcast against the raw docs BEFORE tokenization, so the
    verify tokenizes/shingles ONLY candidate docs — round 6 semi-joined
    the already-shingled corpus relation, which still paid the full-corpus
    tokenize + distinct shuffle) -> SET-ARRAY verify: the signature kernel
    emits each candidate doc's shingle set as ONE array row, the array
    relation is attached to both pair sides (broadcast under AQE
    while it fits, keyed join otherwise) and `array_intersect` computes
    |a n b| in codegen — the candidate-pair relation is never shuffled and
    per-pair cost is O(|a| + |b|). This replaced the round-7 pair-explode
    form (each pair exploded to its doc ids, joined the exploded shingle
    relation, two shuffle aggregations): at sf1.0 the 2-lane bands
    chance-collide into 544k candidates and the explode pushed ~49M
    (pair, shingle) rows through both aggs — 29s -> 4s measured, identical
    output. Every join is keyed; nothing is all-pairs. (The round-6 note
    that "an array-payload variant was 3x slower" measured arrays joined
    against EXPLODED shingle rows; aggregating to one array row per doc
    first is what makes the attach joins broadcast-sized.)

    Mirrors the reference's near-dup intent (candidate generation delegated
    to an index, exact scoring on the candidate set —
    /root/reference/src/searcher/faiss/searcher.rs:41-64 pattern).

    Signatures are MATERIALIZED BY DEFAULT: the candidate stage consumes the
    signature relation in three branches (both sides of the band self-join +
    the bucket counts when ``max_bucket`` is set), so the inline form pays
    2-3 full signature corpus passes — the build-once/probe-many
    split (``build_minhash_table``) is the only scale-safe shape, and making
    the composed op default to the non-scale-safe variant was round-6 verdict
    #3. When ``sig`` is None the table is built ONCE to ``sig_path`` (a
    session scratch dir if not given, deleted on ``spark.stop()`` — pass an
    explicit path at real scale so the artifact lands on durable storage and
    later calls reuse it) as an EAGER side effect at op-construction time,
    then every branch reads the fixed-width columnar table.

    Signatures and shingle sets are per row (see ``minhash_signatures``): a
    duplicated id contributes one set per input row, so a pair involving it
    is verified once per row combination and comes back once per
    combination that passes the threshold, each with its own jaccard. The
    result is unique per (doc_a, doc_b) only when ids are unique; a caller
    that needs one row per pair aggregates (e.g. max(jaccard) per pair).
    """
    inline_arrs = None
    if sig is None:
        # inline build: emit the hashed shingle-set array IN THE SAME
        # kernel pass as the 16 lanes (with_sets) — the verify then attaches
        # arrays straight from the signature barrier and the second
        # (candidate-doc) tokenize pass + its separate barrier disappear.
        # Durable/caller-supplied tables stay fixed-width; that path keeps
        # the candidate-docs semi-join + re-tokenize below, which is the
        # scale shape (verify work ~ candidate set, table ~ 16 longs/doc).
        sig = build_minhash_table(docs, sig_path, text_col, id_col, n_hashes, with_sets=True)
        inline_arrs = sig.select("doc_id", F.col("_arr").alias("_sh"))
        sig = sig.drop("_arr")
    cand = minhash_lsh_pairs(docs, text_col, id_col, n_hashes, n_bands, max_bucket, sig)
    if inline_arrs is None:
        # caller-supplied-table path: candidate pairs are consumed by TWO
        # branches below (the docs-level semi-join id set AND the verify
        # input), so materialize them once — same build-once policy as the
        # signature table; without this the banded self-join + distinct runs
        # once per consumer (measured sf1.0: ~2x the candidate stage inside
        # the verified op). The inline path has a single consumer (arrays
        # attach straight from the signature barrier), so it skips the
        # barrier — one fewer write job.
        cand = barrier(cand, "minhash_cand")
    # semi-join reduction AT THE DOCS LEVEL: only docs in a candidate pair
    # need shingling in the verify, so the candidate-id set filters the RAW
    # docs before tokenization — tokenize + shingle-dedup work scales with
    # the candidate set (~dup docs), not the corpus. At 100 TB near-dup
    # rates the reduction is 100-1000x. No broadcast hint: AQE turns the
    # semi-join into a map-side broadcast when the candidate set is small,
    # and degrades gracefully to a keyed shuffle join when a pathological
    # corpus makes it large (a forced broadcast would OOM the driver
    # exactly there).
    if inline_arrs is None:
        cand_docs = (
            cand.select(F.explode(F.array("doc_a", "doc_b")).alias(id_col)).distinct()
        )
        docs_c = docs.select(F.col(id_col), F.col(text_col)).join(
            cand_docs, id_col, "left_semi"
        )
    # verify-side shingle sets hold 64-bit keys (the first 8 bytes of each
    # shingle's md5, from the same kernel pass as the lanes), so the arrays
    # and the attach joins carry an 8-byte long per shingle instead of a raw
    # 3-token string (~20-30 bytes on web text). Jaccard over hashed sets
    # equals jaccard over raw shingle sets unless two DISTINCT shingles of
    # one candidate doc collide in 64 bits (P ~ s^2/2^65 per doc, ~1e-11 at
    # s=10k shingles) — the op's error is still dominated by LSH candidate
    # recall.
    if threshold <= 0:
        raise ValueError(
            "minhash_verified_pairs requires threshold > 0: the verify only "
            "computes intersections for pairs sharing >= 1 shingle, and a "
            "zero-overlap candidate pair has jaccard 0 by definition"
        )
    # set-array verify: the candidate-doc shingle SETS aggregate to one
    # array row per doc (~8 bytes x shingles-per-doc), a relation bounded by
    # the candidate-doc count — attach it to both pair sides and compute
    # |a n b| with array_intersect in codegen. The candidate-pair relation
    # is never shuffled (both attach joins broadcast under AQE while the
    # array relation fits, degrading to keyed joins when a pathological
    # candidate set makes it large), and per-pair cost is O(|a| + |b|).
    # Result-identical to the exploded-relation verifies for threshold > 0
    # (a pair whose doc has zero shingles scores jaccard 0 both ways).
    # Why not the inverted-index verify ngram_jaccard_pairs uses: its cost
    # is O(sum df^2) over the candidate docs' shared shingles, which is
    # unbounded by the candidate count — measured at sf1.0 (tiny synthetic
    # vocabulary, every shingle shared ~90 ways) it emits 127M co-occurrence
    # rows to verify 544k candidates, while this pass touches
    # O(candidates x shingles-per-doc) ~ 50M array cells with no shuffle.
    # (The round-6 "array-payload variant 3x slower" measurement joined
    # EXPLODED shingle rows against wide arrays; aggregating to one array
    # row per doc first is what makes the attach joins broadcast-sized.)
    if inline_arrs is None:
        # one kernel pass over the candidate docs: the sorted distinct key
        # set arrives per row, with no shingle explode and no set shuffle
        arrs = barrier(
            minhash_signatures(docs_c, text_col, id_col, n_hashes, with_sets=True).select(
                "doc_id", F.col("_arr").alias("_sh")
            ),
            "minhash_varr",
        )
    else:
        # inline path: the arrays already sit in the signature barrier
        # (built with_sets in the same pass as the lanes) — the attach joins
        # below restrict them to candidate docs, so the semi-join +
        # re-tokenize machinery above was skipped entirely.
        arrs = inline_arrs
    aa = arrs.select(F.col("doc_id").alias("doc_a"), F.col("_sh").alias("_sh_a"))
    ab = arrs.select(F.col("doc_id").alias("doc_b"), F.col("_sh").alias("_sh_b"))
    # size-compatibility prune BEFORE the intersection (exact, same slack
    # arithmetic as ngram_jaccard_pairs: r4 can raise jaccard by <= 5e-5, so
    # check min/max set-size ratio against t - 1e-4 with one shingle of
    # headroom) — J <= min(|a|,|b|)/max(|a|,|b|), so size-incompatible
    # candidate pairs drop on two integer compares instead of an
    # O(|a| + |b|) array_intersect; at the default banding most chance
    # collisions are size-incompatible.
    thr2 = float(threshold) - 1e-4
    na, nb = F.size(F.col("_sh_a")), F.size(F.col("_sh_b"))
    # the size-compat prune SHOULD be pushed into the attach joins (cheap
    # integer compares), but the threshold predicate must not be: pushed, it
    # lands in a join condition with the full array_intersect expression
    # substituted 2-3x per candidate row — filter_unpushed keeps exactly one
    # intersection per pair in the projection.
    return (
        filter_unpushed(
            cand.join(aa, "doc_a")
            .join(ab, "doc_b")
            .filter((na >= thr2 * nb - 1) & (nb >= thr2 * na - 1))
            .withColumn("_inter", F.size(F.array_intersect("_sh_a", "_sh_b")))
            .withColumn(
                "jaccard",
                r4(
                    F.col("_inter")
                    / (F.size(F.col("_sh_a")) + F.size(F.col("_sh_b")) - F.col("_inter"))
                ),
            ),
            F.col("jaccard") >= threshold,
        )
        .select("doc_a", "doc_b", "jaccard")
    )


def _ws_tokens(docs: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(doc_id, toks): raw whitespace tokens, case/punctuation preserved —
    substring dedup must be able to REBUILD text, so it cannot use the
    lossy analyzer tokenization the doc-level ops shingle over."""
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.expr(f"filter(split(trim({text_col}), '\\\\s+'), t -> t != '')").alias("toks"),
    )


def _span_occurrences(toks: DataFrame, w: int) -> DataFrame:
    """(doc_id, pos, h): every w-token window, 0-based start position,
    md5 of the space-joined window (narrow fixed-width shuffle key)."""
    return toks.select(
        "doc_id", F.posexplode(shingles_col("toks", w)).alias("pos", "span")
    ).select("doc_id", "pos", F.md5("span").alias("h"))


def duplicate_span_stats(
    docs: DataFrame,
    w: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, n_spans, dup_spans, dup_frac): substring-level duplication
    profile — for each doc, how many of its w-token windows occur more than
    once ANYWHERE in the corpus (including elsewhere in the same doc).

    The third canonical dedup class for training corpora after doc-exact and
    doc-near (Lee et al. 2021, "Deduplicating Training Data Makes Language
    Models Better": exact duplicated substrings of >= 50 tokens): boilerplate
    and quoted passages duplicate at substring granularity even when no doc
    pair is near-identical. dup_frac feeds quality filtering directly.

    Plan shape at scale: window explode (map, ~len rows per doc) -> hash agg
    on the 32-byte window hash (one shuffle) -> keyed join back -> per-doc
    agg. Everything is linear passes + hash joins on bounded keys; no
    all-pairs stage. Docs shorter than w tokens report (0, 0, 0.0).
    """
    toks = _ws_tokens(docs, text_col, id_col)
    occ = _span_occurrences(toks, w)
    counts = occ.groupBy("h").agg(F.count(F.lit(1)).alias("occ_n"))
    stats = (
        occ.join(counts, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(F.when(F.col("occ_n") > 1, 1).otherwise(0)).alias("dup_spans"),
        )
    )
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(stats, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_spans", F.lit(0)).alias("n_spans"),
            F.coalesce("dup_spans", F.lit(0)).alias("dup_spans"),
            r4(
                F.when(
                    F.coalesce("n_spans", F.lit(0)) > 0,
                    F.col("dup_spans") / F.col("n_spans"),
                ).otherwise(F.lit(0.0))
            ).alias("dup_frac"),
        )
    )


def strip_duplicate_spans(
    docs: DataFrame,
    w: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, text_clean): remove exact duplicated w-token substrings,
    keeping the globally-first occurrence (min (doc_id, pos)) of each span.

    Semantics (deterministic, oracle-replayable): a token is dropped when it
    is covered by ANY non-canonical occurrence of a duplicated window;
    text_clean is the surviving tokens joined by single spaces (i.e. the
    output is whitespace-normalized — substring dedup operates on the token
    stream, not raw bytes). Repetitions WITHIN a doc are also removed (the
    second occurrence of a looped passage is non-canonical). A canonical
    occurrence can still lose tokens to a different overlapping duplicated
    window — inherent to greedy span removal, as in Lee et al.'s cut-all-
    but-one-occurrence procedure.

    Plan shape at scale: window explode -> hash agg carrying
    min(struct(doc_id,pos)) per hash (one shuffle, no window function over
    corpus order) -> keyed join back to occurrences -> covered-offset explode
    (<= w rows per DUPLICATED occurrence only) -> per-doc covered-position
    set (one agg over dup occurrences, not corpus tokens) -> keyed join onto
    the one-row-per-doc token arrays -> MAP-SIDE rebuild:
    `array_except(sequence(0, len-1), covered)` (hash-set membership, O(len +
    |covered|) per doc) mapped back through `get(toks, pos)` (O(1) array
    index). An earlier `filter(toks, (tok, i) -> !array_contains(cov, i))`
    rebuild was O(len x |covered|) per doc — quadratic for a long fully-
    boilerplate doc, exactly the document the operator exists for. The corpus
    token stream is never exploded into a row-per-token relation and never
    anti-joined; the only corpus-scale shuffles are the window hash agg and
    (at worst) the final doc_id join, which AQE turns into a broadcast when
    the covered set is small. Per-doc state bounded by doc length.
    """
    toks = _ws_tokens(docs, text_col, id_col)
    occ = _span_occurrences(toks, w)
    counts = occ.groupBy("h").agg(
        F.count(F.lit(1)).alias("occ_n"),
        F.min(F.struct("doc_id", "pos")).alias("keep"),
    )
    noncanon = (
        occ.join(counts.filter(F.col("occ_n") > 1), "h")
        .filter(
            ~(
                (F.col("doc_id") == F.col("keep.doc_id"))
                & (F.col("pos") == F.col("keep.pos"))
            )
        )
        .select("doc_id", "pos")
    )
    covered = (
        noncanon.select(
            "doc_id",
            F.explode(F.sequence(F.col("pos"), F.col("pos") + F.lit(w - 1))).alias("tokpos"),
        )
        .groupBy("doc_id")
        .agg(F.collect_set("tokpos").alias("cov"))
    )
    no_cov = F.array().cast("array<int>")
    # surviving positions in one hash-set pass (array_except keeps the
    # ascending sequence order), then O(1) positional gets; guard the empty
    # token array — sequence(0, -1) would yield a DESCENDING [0, -1]
    keep_pos = F.array_except(
        F.sequence(F.lit(0), F.size("toks") - F.lit(1)),
        F.coalesce(F.col("cov"), no_cov),
    )
    rebuilt = F.array_join(F.transform(keep_pos, lambda p: F.get("toks", p)), " ")
    return toks.join(covered, "doc_id", "left").select(
        "doc_id",
        F.coalesce(  # null toks (null text) -> "" like the empty case
            F.when(F.size("toks") <= 0, F.lit("")).otherwise(rebuilt), F.lit("")
        ).alias("text_clean"),
    )


# SimHash bit b reads bit (b % 4) of hex digit (b // 4) of md5(token): the
# high nibble of digest byte b // 8 when b // 4 is even, else the low nibble.
# The same formulation DuckDB replays (md5 + substr + strpos arithmetic).
_SIGN_BYTE = np.arange(SIMHASH_BITS) // 8
_SIGN_SHIFT = (np.arange(SIMHASH_BITS) // 4 % 2 == 0) * 4 + np.arange(SIMHASH_BITS) % 4
def _token_signs(tokens: list[str]) -> np.ndarray:
    """(len(tokens), 64) int8 table of ±1 signs, one md5 per token."""
    digests = b"".join(hashlib.md5(t.encode("utf-8")).digest()[:8] for t in tokens)
    raw = np.frombuffer(digests, dtype=np.uint8).reshape(-1, 8)
    bits = (raw[:, _SIGN_BYTE] >> _SIGN_SHIFT) & 1
    return (2 * bits - 1).astype(np.int8)


def _pack_positive(sums: np.ndarray) -> np.ndarray:
    """(n, 64) per-bit sums -> n int64 fingerprints, bit b set when sum > 0."""
    return np.packbits(sums > 0, axis=1, bitorder="little").view("<i8").reshape(-1)


def _simhash64_batch(texts) -> np.ndarray:
    """int64 SimHash of every text in one Arrow batch (see
    ``simhash64_signatures``). Tokens get batch-local ids from one dict and
    each distinct token is hashed once per batch; docs are summed by
    ``_chunked`` (a longer doc alone, in slices), so temporary memory does
    not grow with the batch."""
    from rustserini_spark.analysis import simple_tokenize_text

    out = np.zeros(len(texts), dtype=np.int64)
    index: dict[str, int] = {}
    setdefault = index.setdefault
    table = np.empty((1024, SIMHASH_BITS), dtype=np.int8)
    n_signed = 0

    def reduce_chunk(tokens: list[str], lens: list[int]) -> np.ndarray:
        nonlocal table, n_signed
        ids = np.fromiter(
            (setdefault(t, len(index)) for t in tokens), dtype=np.int64, count=len(tokens)
        )
        if len(index) > n_signed:
            fresh = list(islice(reversed(index), len(index) - n_signed))[::-1]
            if len(index) > len(table):
                grown = np.empty((max(len(index), 2 * len(table)), SIMHASH_BITS), np.int8)
                grown[:n_signed] = table[:n_signed]
                table = grown
            table[n_signed : len(index)] = _token_signs(fresh)
            n_signed = len(index)
        starts = np.cumsum([0] + lens[:-1])
        return np.add.reduceat(table[ids], starts, axis=0, dtype=np.int32)

    # no tokens: every sum is 0, no bit set
    seqs = (
        (row, toks) for row, text in enumerate(texts) if (toks := simple_tokenize_text(text))
    )
    total = lambda parts: np.sum(parts, axis=0, dtype=np.int64)  # noqa: E731
    for rows, sums in _chunked(seqs, reduce_chunk, total):
        out[rows] = _pack_positive(sums)
    return out


def with_simhash(df: DataFrame, text_col: str = "text") -> DataFrame:
    """``df`` with ``text_col`` replaced by ``simhash`` (int64, see
    ``simhash64_signatures``), in ONE Arrow pass (``_map_text``) through the
    ``_simhash64_batch`` kernel; every other column passes through
    untouched."""
    import pyarrow as pa
    from pyspark.sql.types import LongType, StructField

    return _map_text(
        df,
        text_col,
        [StructField("simhash", LongType())],
        lambda texts: (None, [pa.array(_simhash64_batch(texts), pa.int64())]),
    )


def simhash64_signatures(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, simhash): 64-bit simhash — bit b set when the
    occurrence-weighted ±1 sum over tokens is positive. One Arrow pass
    (``with_simhash``) through the batch-vectorized ``_simhash64_batch``
    kernel, one md5 per distinct token per batch. ``simhash`` is the
    two's-complement int64 of the 64-bit pattern.

    Degenerate text: a null, empty, whitespace-only or punctuation-only doc
    has no tokens, so every bit sum is 0 and its simhash is 0 — all such docs
    share the fingerprint 0 and pair with each other at Hamming distance 0.

    ``id_col`` must be an integral column: the signature schema carries it as
    int64, and a silent cast of a string/UUID id would produce NULL doc_ids
    that downstream keeper joins drop or mis-keep without any error. Callers
    with string ids should assign a surrogate (e.g. the dense ordinal the
    index build already produces) and thread the original id alongside."""
    require_integral_id(docs, id_col, "simhash64_signatures")
    pairs = docs.select(F.col(id_col).cast("long").alias("doc_id"), F.col(text_col))
    return with_simhash(fan_out(pairs), text_col)


def simhash_dedup_groups(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(simhash, n_docs, keeper): docs sharing an identical 64-bit simhash are
    near-dup candidates (for Hamming-tolerant matching use
    simhash_neardup_pairs — banded, never all-pairs)."""
    return (
        simhash64_signatures(docs, text_col, id_col)
        .groupBy("simhash")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("keeper"))
    )


def build_simhash_table(
    docs: DataFrame,
    path: str | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Materialize the (doc_id, simhash) signature table to parquet and return
    the read-back DataFrame — pass it as ``sig`` to simhash_neardup_pairs so
    the band self-join's branches scan a 16-byte-per-doc columnar table
    instead of re-running the full-corpus Arrow signature pass per branch
    (2-3 corpus passes at 100 TB; round-5 verdict residual #4). ``path``
    defaults to a session scratch dir (session.scratch_dir)."""
    return barrier(simhash64_signatures(docs, text_col, id_col), "simhash_sig", path)


def simhash_neardup_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    n_bands: int | None = None,
    max_bucket: int | None = None,
    sig: DataFrame | None = None,
) -> DataFrame:
    """(doc_a, doc_b, hamming) for pairs within simhash Hamming distance
    ``max_hamming``. Complete by pigeonhole when n_bands > max_hamming
    (default n_bands = max_hamming + 1): the fingerprint splits into n_bands
    disjoint bit slices, so a pair differing in <= max_hamming bits matches
    exactly on >= 1 band. Short docs flip more bits per edit than long ones —
    pick max_hamming (and thus band width) per corpus.

    Plan shape at scale: one signature map pass -> n_bands band-bucket
    self-joins (each a hash shuffle on a band value + band id) -> distinct
    candidate pairs -> exact popcount verify. No all-pairs stage; quadratic
    work is bounded per band bucket, optionally capped with ``max_bucket``
    (drop buckets larger than the cap — a band value shared by millions of
    docs is boilerplate, better handled by exact dedup upstream).
    """
    if n_bands is None:
        # smallest divisor of 64 strictly above max_hamming (pigeonhole)
        n_bands = next(d for d in (1, 2, 4, 8, 16, 32, 64) if d > max_hamming)
    if SIMHASH_BITS % n_bands:
        raise ValueError(f"n_bands must divide {SIMHASH_BITS}")
    if n_bands <= max_hamming:
        raise ValueError("need n_bands > max_hamming for pigeonhole completeness")
    if sig is None:
        # Materialize the signature table even on the inline path: the band
        # self-join consumes it on both sides and Catalyst re-derives the
        # Arrow signature pass per side (plan-verified: two MapInPandas
        # nodes, zero reuse) — one corpus pass + a 16-byte-per-doc parquet
        # barrier is strictly cheaper at every scale.
        sig = build_simhash_table(docs, None, text_col, id_col)
    # band values and their explode as ONE SQL expression: disjoint
    # bit-slices of the fingerprint (unsigned shifts, so the sign bit is
    # handled); a full-width band (n_bands=1, i.e. max_hamming=0) is the
    # fingerprint itself — its all-ones mask would not fit a signed literal
    width = SIMHASH_BITS // n_bands
    mask = (1 << width) - 1

    def band(col: str, j: int) -> str:
        if width == SIMHASH_BITS:
            return col
        return f"(shiftrightunsigned({col}, {width * j}) & {mask})"

    structs = ", ".join(
        f"named_struct('band_id', {j}, 'band_val', {band('simhash', j)})" for j in range(n_bands)
    )
    bands = sig.selectExpr("doc_id", "simhash", f"inline(array({structs}))")
    if max_bucket is not None:
        counts = bands.groupBy("band_id", "band_val").agg(F.count(F.lit(1)).alias("_n"))
        bands = bands.join(
            counts.filter(F.col("_n") <= max_bucket).drop("_n"), ["band_id", "band_val"]
        )
    a = bands.alias("a")
    b = bands.alias("b")
    cand = a.join(
        b,
        (F.col("a.band_id") == F.col("b.band_id"))
        & (F.col("a.band_val") == F.col("b.band_val"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        F.col("a.band_id").alias("band_id"),
        (F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias("_xor"),
    )
    # Verify BEFORE any pair-level shuffle: hamming is a pure function of the
    # row, so filtering first is result-identical to the old
    # distinct-then-filter — but the popcount filter kills the quadratic
    # bucket fan-out (tens of millions of rows at 8-bit bands over 50k docs)
    # inside the join's codegen stage instead of shuffling it into a
    # 4-column DISTINCT hash-aggregate (measured at sf1.0: that distinct WAS
    # the query — 118s wall, and the heap-OOM suspect in the driver's rep 2).
    cand = cand.filter(F.expr("bit_count(_xor)") <= max_hamming)
    if max_bucket is None and n_bands > 1:
        # Dedup multi-band matches WITHOUT a shuffle: emit a pair only from
        # its FIRST matching band. Band j matches iff bit-slice j of the xor
        # is zero, so `band_id == (position of first zero slice)` holds for
        # exactly one of the pair's join rows — the output is unique by
        # construction and the post-join plan is shuffle-free. (Only valid
        # when no bucket cap can drop an earlier matching band's bucket.)
        slice_is_zero = ", ".join(f"{band('_xor', j)} = 0" for j in range(n_bands))
        cand = cand.filter(F.expr(f"band_id = array_position(array({slice_is_zero}), true) - 1"))
    else:
        cand = cand.select("doc_a", "doc_b", "_xor").distinct()
    return cand.select(
        "doc_a", "doc_b", F.expr("bit_count(_xor)").cast("long").alias("hamming")
    )


def dup_clusters(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iters: int = 50,
) -> DataFrame:
    """(doc_id, cluster_id) connected components over a near-dup pair graph —
    the keeper-resolution step every pairs-producing detector here
    (minhash_lsh_pairs, simhash_neardup_pairs, ngram_jaccard_pairs,
    lsh_neardup_pairs) needs before it can DELETE anything: near-duplication
    is not transitive, so "drop doc_b of every pair" over-deletes chained
    groups (A~B, B~C, A!~C would drop B and C when one of them is the only
    copy of its content worth keeping). cluster_id is the smallest doc_id in
    the component; keep WHERE doc_id = cluster_id (plus every unpaired doc).

    Algorithm: distributed min-label propagation WITH POINTER JUMPING.
    label(v) starts at v; each round v takes min over its neighbours' labels
    AND its label's label (label(label(v)) — the component minimum is always
    itself a node, so the lookup is total). The jump halves every node's
    label-distance to the component minimum, so convergence is O(log
    diameter) rounds instead of O(diameter) — a 1M-link pathological chain
    resolves in ~20 rounds; ``max_iters`` is a generous backstop.

    Plan shape at scale: everything here runs on the PAIR GRAPH, which is
    vastly smaller than the corpus (only docs with at least one near-dup
    appear). Each round is two shuffle joins (edges x labels, labels x
    labels — both hashed) + one map-side-combined min-agg + an O(1)-row
    convergence probe; ``localCheckpoint`` truncates lineage every round so
    plan size stays constant, and each round's SUPERSEDED checkpoint is
    unpersisted as soon as the convergence probe no longer needs it, so
    executor storage holds exactly two label snapshots at any moment instead
    of one per iteration. The RETURNED labels stay checkpointed (their
    lineage is truncated — unpersisting them would make the result
    unrecomputable); callers that are done with the result free it with
    ``df.rdd.unpersist()`` semantics via the session cache audit. Partition
    count derives from the measured edge count (1 partition per ~500k edges,
    capped at the session shuffle setting), so tiny graphs pay no 200-task
    fixed cost and huge ones still spread. No all-pairs stage, no
    driver-side graph.

    Raises RuntimeError if ``max_iters`` rounds pass without convergence —
    pointer jumping converges in O(log diameter), so 50 rounds cover any
    graph with diameter < 2^50 and exhausting them means the labels are NOT
    final cluster ids; returning them silently would corrupt keeper
    resolution downstream.
    """
    sc = pairs.sparkSession.sparkContext

    def _unpersist(ids: set[int]) -> None:
        jmap = sc._jsc.getPersistentRDDs()
        for k in jmap.keySet().toArray():
            if int(k) in ids:
                jmap.get(k).unpersist(False)

    def _ckpt(df: DataFrame) -> tuple[DataFrame, set[int]]:
        # the checkpoint's persisted RDD is read off the returned plan itself
        # (localCheckpoint yields a LogicalRDD wrapping exactly the RDD it
        # persisted), NOT a before/after diff of the SparkContext-global
        # persistent-RDD set — the diff would swallow RDDs persisted
        # CONCURRENTLY by any other job/thread in the same context, and
        # unpersisting someone else's localCheckpointed RDD truncates its
        # lineage irrecoverably (round-6 advice)
        out = df.localCheckpoint()
        return out, {int(out._jdf.queryExecution().analyzed().rdd().id())}

    fwd = pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
    edges = fwd.unionByName(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    n_edges = edges.count()
    session_p = int(pairs.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))
    p = max(1, min(session_p, n_edges // 500_000 + 1))
    edges, edge_ids = _ckpt(edges.repartition(p, "src"))
    labels, label_ids = _ckpt(
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("cluster_id", F.col("doc_id"))
        .repartition(p, "doc_id")
    )
    converged = n_edges == 0
    for _ in range(max_iters):
        if converged:
            break
        prop = edges.join(labels, edges["src"] == labels["doc_id"]).select(
            F.col("dst").alias("doc_id"), "cluster_id"
        )
        jump = (
            labels.alias("x")
            .join(labels.alias("y"), F.col("x.cluster_id") == F.col("y.doc_id"))
            .select(F.col("x.doc_id").alias("doc_id"), F.col("y.cluster_id").alias("cluster_id"))
        )
        new, new_ids = _ckpt(
            labels.unionByName(prop)
            .unionByName(jump)
            .groupBy("doc_id")
            .agg(F.min("cluster_id").alias("cluster_id"))
            .repartition(p, "doc_id")
        )
        changed = (
            new.join(labels.withColumnRenamed("cluster_id", "_old"), "doc_id")
            .filter(F.col("cluster_id") < F.col("_old"))
            .limit(1)
            .count()
        )
        _unpersist(label_ids)  # probe done — the old snapshot is dead weight
        labels, label_ids = new, new_ids
        converged = not changed
    _unpersist(edge_ids)
    if not converged:
        _unpersist(label_ids)
        raise RuntimeError(
            f"dup_clusters did not converge within max_iters={max_iters} rounds; "
            "the labels are not final cluster ids (raise max_iters — pointer "
            "jumping needs ~log2(component diameter) rounds)"
        )
    return labels


def neardup_dedup(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    a_col: str = "doc_a",
    b_col: str = "doc_b",
) -> DataFrame:
    """docs minus near-duplicates: one survivor (the smallest id) per
    connected component of the pair graph, every unpaired doc kept. The
    cluster table is tiny next to the corpus, so the anti-join broadcasts
    under AQE at any corpus size."""
    losers = dup_clusters(pairs, a_col, b_col, max_iters=50).filter(
        F.col("doc_id") != F.col("cluster_id")
    )
    return docs.join(
        losers.select(F.col("doc_id").alias(id_col)), [id_col], "left_anti"
    )
