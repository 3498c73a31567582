"""Incremental indexing via Structured Streaming + segment merge (O9).

The reference's build is strictly batch (whole-corpus load,
/root/reference/src/encode/vector_writer.rs:96-158); Lucene underneath is
segment-based: each indexing thread writes a segment, merged on commit
(/root/reference/src/searcher/lucene/index.rs:63-64 delegates -threads). This
module brings the same segment model to Spark, plus a streaming front end:

* ``start_incremental_indexing`` — ``readStream`` over a webtext-shaped
  directory; every micro-batch becomes one immutable *segment* (its own
  postings/dictionary/doclen tables + stats) via ``foreachBatch``. Exactly-once
  per segment: segments are named by batch_id and rewritten idempotently on
  replay (Structured Streaming's checkpoint guarantees batch_id stability).

* ``open_segmented_index`` — query the union of segments with EXACT global
  BM25 semantics: global N/avgdl from summed segment stats, global df/idf
  re-aggregated from block metadata. Because posting blocks carry IDF-FREE
  bound metadata (max_tf, min_dl — compress.py), block-max PRUNED search is
  exact on the segment union with no compaction: bounds are evaluated at query
  time under the merged global stats. (Round 1 baked segment-local idf into
  blocks, which made the segmented index exhaustive-only.)

* ``compact_segments`` — the segment-merge stage: decode every segment's
  posting blocks back to (term, doc_id, dl, tf) rows (Arrow, distributed),
  rebuild globally doc-hash-sharded dense postings (_sorted_postings layout)
  — fewer, fuller blocks for tail terms; pruning tightness and scan locality
  improve, correctness is identical before and after.

* ``merge_all_segments`` + the ``auto_compact_segments`` policy — WHEN to
  compact (Lucene merges segments at commit,
  /root/reference/src/searcher/lucene/index.rs:63-64): once the live segment
  count reaches the threshold, the sink merges every complete segment into
  ONE new segment in place. Segments record their constituent batch ids, so
  a batch replayed after a crash that is already covered by a merged segment
  is skipped — exactly-once survives a crash between merge and the stream's
  checkpoint commit. The merge commit is LOSS-PROOF ordered: the merged
  segment turns visible (atomic rename) first, readers drop superseded
  sources (batch set contained in another segment's), and the superseded
  source FILES are reclaimed only by the NEXT merge — a one-merge-cycle
  grace period so in-flight readers holding lazy references to source
  parquet survive the merge (query-while-ingesting stays safe). No crash
  point loses a checkpoint-committed batch or counts one twice.
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rustserini_spark.operators.compress import decode_blocks_batch
from rustserini_spark.operators.index_build import (
    BM25Index,
    K1_DEFAULT,
    B_DEFAULT,
    BLOCK_SIZE_DEFAULT,
    N_SHARDS_DEFAULT,
    SEG_DOCS_DEFAULT,
    _sorted_postings,
    dictionary_from_postings,
    doclen_from_postings,
    encode_postings,
    lucene_idf,
)
from rustserini_spark.session import barrier

SEG_PREFIX = "seg_"
MAX_GROUP_DEFAULT = 1 << 16  # max postings per compacted (term, shard, salt) run
# stats-less seg_* dirs are reclaimed only after this many seconds of
# QUIESCENCE (newest mtime in the tree) — long enough that any live
# write_segment still streaming parquet parts has touched the dir since,
# short enough that crashed writes don't leak across an ingest session
ORPHAN_GRACE_S = 600.0


def _newest_mtime(root: str) -> float:
    """Newest mtime anywhere under ``root`` (the top dir's own mtime only
    changes on direct-child churn, so a live parquet write deep in
    postings/ would look stale without the walk)."""
    newest = os.path.getmtime(root)
    for dirpath, dirnames, filenames in os.walk(root):
        for name in dirnames + filenames:
            try:
                newest = max(newest, os.path.getmtime(os.path.join(dirpath, name)))
            except OSError:  # racing writer removed a temp file mid-walk
                continue
    return newest


def write_segment(
    spark: SparkSession,
    docs: DataFrame,
    seg_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    analyzer: str = "porter",
    k1: float = K1_DEFAULT,
    b: float = B_DEFAULT,
    block_size: int = BLOCK_SIZE_DEFAULT,
    seg_docs: int = SEG_DOCS_DEFAULT,
    n_shards: int = N_SHARDS_DEFAULT,
    batches: list[int] | None = None,
) -> dict:
    """Build one immutable segment from a (micro-)batch of docs — the same
    one-pass encode as the batch build, scoped to the batch. ``batches``
    records which stream batch ids this segment covers (a merged segment
    covers many) so replays can skip already-covered batches."""
    postings = encode_postings(
        docs, text_col, id_col, analyzer, block_size, n_shards, seg_docs
    )
    postings = barrier(postings, "segment_postings", os.path.join(seg_dir, "postings"))

    n_docs = docs.count()
    sum_dl = int(postings.agg(F.sum("block_cf")).collect()[0][0] or 0)
    avgdl = (sum_dl / n_docs) if n_docs else 0.0
    dictionary = dictionary_from_postings(postings, n_docs, avgdl or 1.0, k1, b)
    dictionary.write.mode("overwrite").parquet(os.path.join(seg_dir, "dictionary"))
    doclen_from_postings(docs, postings, id_col).write.mode("overwrite").parquet(
        os.path.join(seg_dir, "doclen")
    )
    stats = {
        "n_docs": n_docs,
        "sum_dl": sum_dl,
        "analyzer": analyzer,
        "k1": k1,
        "b": b,
        "block_size": block_size,
        "n_shards": n_shards,
        "batches": sorted(batches or []),
    }
    with open(os.path.join(seg_dir, "stats.json"), "w") as f:
        json.dump(stats, f)
    return stats


def start_incremental_indexing(
    spark: SparkSession,
    input_path: str,
    base_dir: str,
    schema,
    stream_checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    analyzer: str = "porter",
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    auto_compact_segments: int | None = None,
    **build_kwargs,
):
    """readStream(parquet dir) -> one segment per micro-batch (foreachBatch).

    ``available_now=False`` keeps the query live (polling for new files) —
    the query-while-ingesting regime: open_segmented_index sees only
    COMPLETE segments (stats.json is written last), so searches against a
    running stream read a consistent prefix of the ingest.

    ``auto_compact_segments=N`` is the merge policy (Lucene merges at commit):
    once N complete segments exist, they are merged in place into one segment
    via merge_all_segments — search results are identical before and after
    (tested), tail-term blocks densify, and the per-batch segment-open cost
    stops growing with ingest length."""
    stream = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        stream = stream.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = stream.parquet(input_path)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        if batch_id in covered_batches(base_dir):
            # replay of a batch already folded into a merged segment (crash
            # between merge and checkpoint commit): writing it again would
            # double-count its docs
            return
        seg_dir = os.path.join(base_dir, f"{SEG_PREFIX}{batch_id:06d}")
        write_segment(
            spark, batch_df, seg_dir, text_col=text_col, id_col=id_col,
            analyzer=analyzer, batches=[batch_id], **build_kwargs,
        )
        if auto_compact_segments and len(_live_segments(base_dir)) >= auto_compact_segments:
            merge_all_segments(spark, base_dir)

    writer = stream.writeStream.foreachBatch(sink).option("checkpointLocation", stream_checkpoint)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _segments(base_dir: str) -> list[str]:
    return sorted(
        os.path.join(base_dir, d)
        for d in os.listdir(base_dir)
        if d.startswith(SEG_PREFIX) and os.path.exists(os.path.join(base_dir, d, "stats.json"))
    )


def _seg_batches(seg: str, stats: dict) -> set[int]:
    """Stream batch ids a segment covers; pre-"batches" segments fall back to
    the batch id encoded in the directory name."""
    got = stats.get("batches")
    if got:
        return {int(b) for b in got}
    tail = os.path.basename(seg)[len(SEG_PREFIX):]
    return {int(tail)} if tail.isdigit() else set()


def _live_segments(base_dir: str) -> list[tuple[str, dict]]:
    """Complete segments minus SUPERSEDED ones — a segment whose (non-empty)
    batch set is contained in another segment's is a source that a merged
    segment has already replaced. The merge commit makes the merged segment
    visible BEFORE the sources are reclaimed (the loss-proof order: a crash
    can only ever leave extra superseded sources, never drop a committed
    batch), so every reader must apply this filter or it would count those
    batches twice inside the commit window. Equal batch sets tie-break to the
    lexicographically last name (merged segments carry an ``m`` suffix)."""
    entries = []
    for seg in _segments(base_dir):
        stats = json.load(open(os.path.join(seg, "stats.json")))
        entries.append((seg, stats, _seg_batches(seg, stats)))
    live = []
    for seg, stats, batches in entries:
        superseded = bool(batches) and any(
            other != seg and batches <= ob and (batches < ob or other > seg)
            for other, _, ob in entries
        )
        if not superseded:
            live.append((seg, stats))
    return live


def covered_batches(base_dir: str) -> set[int]:
    """Stream batch ids already represented by a COMPLETE live segment (its
    own or a merged one)."""
    covered: set[int] = set()
    if not os.path.isdir(base_dir):
        return covered
    for seg, stats in _live_segments(base_dir):
        covered |= _seg_batches(seg, stats)
    return covered


def merge_all_segments(
    spark: SparkSession,
    base_dir: str,
    max_group: int = MAX_GROUP_DEFAULT,
    orphan_grace_s: float = ORPHAN_GRACE_S,
) -> str | None:
    """Merge every complete segment under ``base_dir`` into ONE new segment,
    in place (the auto-compaction step; returns the new segment dir, or None
    when there is nothing to merge).

    The merged segment is built COMPLETELY in a hidden temp dir (no
    SEG_PREFIX, so readers never see it half-written), then committed in the
    LOSS-PROOF order: the temp dir is renamed to its final segment name
    (turns visible atomically on POSIX) FIRST; the source segments are NOT
    deleted by this merge at all — they stay on disk as SUPERSEDED (invisible
    to every reader via ``_live_segments``) and are reclaimed only by the
    NEXT merge's opening pass. This one-merge-cycle GRACE PERIOD is what
    makes query-while-ingesting safe: a reader whose open_segmented_index
    DataFrame still lazily references source parquet files survives the
    merge that supersedes them — only a reader held across TWO full merge
    cycles (>= 2x auto_compact_segments ingested batches) can ever observe a
    reclaimed file. A crash before the rename loses nothing (sources intact;
    the orphan temp dir is reclaimed by the next merge); a crash after it
    leaves sources superseded, which is the steady state anyway. No point of
    failure loses a checkpoint-committed batch or counts one twice. (The
    round-4 protocol hid the sources BEFORE revealing the merged segment — a
    crash between those two steps lost every batch the stream's checkpoint
    would not replay; the round-5 protocol deleted sources immediately after
    the rename, which broke in-flight readers.)

    The opening reclaim pass also removes seg_* dirs LACKING stats.json:
    those are either half-deleted leftovers (a crash between the stats.json
    remove and the rmtree) or crashed mid-writes — a complete segment always
    has stats.json (written last). Because write_segment lays down
    postings/dictionary BEFORE stats.json, a stats-less dir is
    indistinguishable from a LIVE write in progress by a second writer on the
    same base_dir, so reclaim is gated on QUIESCENCE, not just absence: the
    dir is removed only when nothing under it has been modified for
    ``orphan_grace_s`` seconds (newest mtime across the tree). A mid-write
    segment keeps receiving parquet part files and stays fresh; a crashed one
    goes quiet and is reclaimed on the first merge after the grace window.
    Merges are still serialized with segment writes in the normal single-sink
    deployment; the grace window is the safety net for the manual-call /
    second-writer case the round-6 protocol only forbade in a docstring."""
    import shutil

    live = _live_segments(base_dir)
    # GRACE-PERIOD RECLAIM: delete (a) segments superseded by a PREVIOUS
    # merge — their readers have had a full merge cycle to drain — and
    # (b) stats-less seg_* dirs (half-deleted or crashed mid-write; without
    # this they leak forever, since _segments() never lists them).
    live_set = {s for s, _ in live}
    for d in sorted(os.listdir(base_dir)):
        seg = os.path.join(base_dir, d)
        if not d.startswith(SEG_PREFIX) or not os.path.isdir(seg):
            continue
        if seg in live_set:
            continue
        stats_path = os.path.join(seg, "stats.json")
        if os.path.exists(stats_path):
            os.remove(stats_path)  # turn invisible first; rmtree is not atomic
        elif _newest_mtime(seg) > time.time() - orphan_grace_s:
            continue  # stats-less but RECENTLY WRITTEN: possibly a live
            # mid-segment write (stats.json lands last) — leave it for the
            # merge after it either completes or goes quiet
        shutil.rmtree(seg)
    segs = [s for s, _ in live]
    if len(segs) < 2:
        return None
    seg_index = open_segmented_index(spark, base_dir)
    stats = [st for _, st in live]
    batches: set[int] = set()
    for s, st in live:
        batches |= _seg_batches(s, st)

    tmp = os.path.join(base_dir, "_merge_tmp")
    if os.path.exists(tmp):
        shutil.rmtree(tmp)  # leftover from a crashed merge — never committed
    _write_merged(seg_index, tmp, max_group, seg_index.n_shards)
    with open(os.path.join(tmp, "stats.json"), "w") as f:
        json.dump(
            {
                "n_docs": seg_index.n_docs,
                "sum_dl": sum(st["sum_dl"] for st in stats),
                "analyzer": seg_index.analyzer,
                "k1": seg_index.k1,
                "b": seg_index.b,
                "block_size": seg_index.block_size,
                "n_shards": seg_index.n_shards,
                "batches": sorted(batches),
            },
            f,
        )

    # commit: reveal the merged segment (atomic rename). The sources become
    # SUPERSEDED — filtered out by every reader — but stay on disk until the
    # next merge's reclaim pass (grace period for in-flight readers).
    final = os.path.join(
        base_dir, f"{SEG_PREFIX}{max(batches) if batches else 0:06d}m"
    )
    while os.path.exists(final):
        final += "m"
    os.rename(tmp, final)
    return final


def open_segmented_index(spark: SparkSession, base_dir: str) -> BM25Index:
    """Union of segments with exact global BM25 stats. Both search paths are
    valid — including block-max pruned — because block bounds are idf-free and
    evaluated under the global stats at query time (tested rank-identical to a
    single batch build over the same docs)."""
    live = _live_segments(base_dir) if os.path.isdir(base_dir) else []
    if not live:
        raise FileNotFoundError(f"no segments under {base_dir}")
    segs = [s for s, _ in live]
    stats = [st for _, st in live]
    n_docs = sum(s["n_docs"] for s in stats)
    sum_dl = sum(s["sum_dl"] for s in stats)
    avgdl = (sum_dl / n_docs) if n_docs else 0.0
    s0 = stats[0]

    postings = spark.read.parquet(*[os.path.join(s, "postings") for s in segs])
    doclen = spark.read.parquet(*[os.path.join(s, "doclen") for s in segs])

    # global dictionary re-aggregated from per-segment df/cf (block metadata
    # scale); idf recomputed under global N. max_impact: exact global per-term
    # bound via the idf-free block bounds under global avgdl.
    per_seg = spark.read.parquet(*[os.path.join(s, "dictionary") for s in segs])
    safe_avgdl = avgdl or 1.0
    k1, b = s0["k1"], s0["b"]
    bound = F.col("max_tf") / (
        F.col("max_tf") + k1 * (1.0 - b + b * F.col("min_dl") / safe_avgdl)
    )
    base_by_term = postings.groupBy("term").agg(F.max(bound).alias("_base"))
    global_dict = (
        per_seg.groupBy("term")
        .agg(F.sum("df").alias("df"), F.sum("cf").alias("cf"))
        .withColumn("idf", lucene_idf(F.col("df"), n_docs))
        .join(base_by_term, "term", "left")
        .withColumn("max_impact", F.col("idf") * F.col("_base"))
        .drop("_base")
    )
    return BM25Index(
        postings=postings,
        dictionary=global_dict,
        doclen=doclen,
        n_docs=n_docs,
        avgdl=avgdl,
        k1=k1,
        b=b,
        analyzer=s0["analyzer"],
        block_size=s0["block_size"],
        n_shards=s0.get("n_shards", N_SHARDS_DEFAULT),
        meta={"segments": segs, "segmented": True},
    )


def decoded_postings(postings: DataFrame) -> DataFrame:
    """Blocks -> (term, doc_id, dl, tf) rows (Arrow-batched inverse of the
    build's encode stage)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            d, t, l, bidx = decode_blocks_batch(
                list(pdf["postings_bin"]), pdf["n_docs"].to_numpy()
            )
            yield pd.DataFrame(
                {
                    "term": pdf["term"].to_numpy()[bidx],
                    "doc_id": d,
                    "dl": l,
                    "tf": t,
                }
            )

    return postings.mapInPandas(run, "term string, doc_id long, dl long, tf long")


def _write_merged(seg_index: BM25Index, out_dir: str, max_group: int, n_shards: int) -> None:
    """Write ``seg_index``'s segments to ``out_dir`` as one dense index:
    decoded blocks re-encoded into doc-hash-sharded postings, the dictionary
    under the global stats, and the doclen table."""
    dictionary = dictionary_from_postings(
        seg_index.postings, seg_index.n_docs, seg_index.avgdl or 1.0,
        seg_index.k1, seg_index.b,
    )
    postings = _sorted_postings(
        decoded_postings(seg_index.postings),
        dictionary.select("term", "df"),
        seg_index.block_size,
        max_group,
        n_shards,
    )
    postings.repartition("term").sortWithinPartitions(
        "term", "shard", "salt", "block_seq"
    ).write.mode("overwrite").parquet(os.path.join(out_dir, "postings"))
    dictionary.write.mode("overwrite").parquet(os.path.join(out_dir, "dictionary"))
    seg_index.doclen.write.mode("overwrite").parquet(os.path.join(out_dir, "doclen"))


def compact_segments(
    spark: SparkSession,
    base_dir: str,
    out_dir: str,
    max_group: int = MAX_GROUP_DEFAULT,
    n_shards: int | None = None,
) -> BM25Index:
    """Segment merge (O9): per-segment posting blocks -> dense doc-hash-sharded
    block-compressed postings + dictionary with exact global stats."""
    seg_index = open_segmented_index(spark, base_dir)
    n_shards = n_shards or seg_index.n_shards
    _write_merged(seg_index, out_dir, max_group, n_shards)
    with open(os.path.join(out_dir, "index.json"), "w") as f:
        json.dump(
            {
                "analyzer": seg_index.analyzer,
                "k1": seg_index.k1,
                "b": seg_index.b,
                "block_size": seg_index.block_size,
                "max_group": max_group,
                "n_shards": n_shards,
                "n_docs": seg_index.n_docs,
                "avgdl": seg_index.avgdl,
                "fingerprints": {},
            },
            f,
        )
    from rustserini_spark.operators.index_build import load_index

    return load_index(spark, out_dir)
