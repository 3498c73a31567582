"""Structured Streaming incremental indexing: stream -> segments -> search
parity with a one-shot batch build, then segment-merge compaction parity."""

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from rustserini_spark.operators.index_build import build_index
from rustserini_spark.operators.search import bm25_search, bm25_search_pruned
from rustserini_spark.streaming.incremental import (
    compact_segments,
    open_segmented_index,
    start_incremental_indexing,
)

SCHEMA = "doc_id long, text string"

QUERIES = [
    ("s0", "spark query window merge"),
    ("s1", "slow small filter"),
    ("s2", "customer batch value data"),
]


@pytest.fixture(scope="module")
def stream_dirs(spark, documents, tmp_path_factory):
    base = tmp_path_factory.mktemp("stream")
    inp = str(base / "input")
    segs = str(base / "segments")
    ckpt = str(base / "ckpt")
    os.makedirs(inp)
    # three arriving files = three micro-batches-worth of docs
    docs = documents.select("doc_id", "text")
    for i in range(3):
        docs.filter(F.col("doc_id") % 3 == i).coalesce(1).write.mode("overwrite").parquet(
            f"{inp}/chunk={i}"
        )
    return inp, segs, ckpt


def _run(df):
    out = {}
    for r in df.collect():
        out.setdefault(r.qid, []).append((r.rank, r.doc_id, round(r.score, 9)))
    for v in out.values():
        v.sort()
    return out


def test_stream_then_search_matches_batch_build(spark, documents, stream_dirs):
    inp, segs, ckpt = stream_dirs
    q = start_incremental_indexing(
        spark, f"{inp}/chunk=*", segs, SCHEMA, ckpt, available_now=True
    )
    q.awaitTermination(300)
    seg_dirs = [d for d in os.listdir(segs) if d.startswith("seg_")]
    assert len(seg_dirs) >= 1

    seg_index = open_segmented_index(spark, segs)
    assert seg_index.n_docs == documents.count()

    qdf = spark.createDataFrame(pd.DataFrame(QUERIES, columns=["qid", "query"]))
    batch_index = build_index(spark, documents.select("doc_id", "text"))
    expected = _run(bm25_search(batch_index, qdf, k=10))
    got = _run(bm25_search(seg_index, qdf, k=10))
    assert got == expected


def test_pruned_search_is_exact_on_segmented_index_without_compaction(
    spark, documents, stream_dirs, pruned_routes
):
    """Block bounds are idf-free (max_tf, min_dl evaluated under the merged
    global stats at query time), so block-max pruning is exact on the raw
    union of independently built segments — no compaction required. Holds
    on the driver route (every segment's blocks scored in one process) and
    on the shard-group route (the batch counted as above the driver route's
    cut)."""
    _inp, segs, _ckpt = stream_dirs
    seg_index = open_segmented_index(spark, segs)
    qdf = spark.createDataFrame(pd.DataFrame(QUERIES, columns=["qid", "query"]))
    batch_index = build_index(spark, documents.select("doc_id", "text"))
    expected = _run(bm25_search(batch_index, qdf, k=10))
    routes = []
    for route, result in pruned_routes.each(seg_index, QUERIES, k=10):
        routes.append(route)
        got = _run(result)
        assert set(got) == {q for q, _ in QUERIES if q in expected}, route
        for qid, rows in got.items():
            assert rows == expected[qid], (route, qid)
    assert routes == ["driver", "shard_group"]


def test_compaction_restores_pruned_path(spark, documents, stream_dirs, tmp_path_factory):
    _inp, segs, _ckpt = stream_dirs
    out = str(tmp_path_factory.mktemp("compacted"))
    compacted = compact_segments(spark, segs, out)
    assert compacted.n_docs == documents.count()

    qdf = spark.createDataFrame(pd.DataFrame(QUERIES, columns=["qid", "query"]))
    batch_index = build_index(spark, documents.select("doc_id", "text"))
    expected = _run(bm25_search(batch_index, qdf, k=10))
    assert _run(bm25_search(compacted, qdf, k=10)) == expected
    assert _run(bm25_search_pruned(compacted, qdf, k=10)) == expected


def test_query_while_ingesting_matches_batch_over_prefix(
    spark, documents, tmp_path_factory
):
    """North-rule resumability: queries are answerable WHILE the micro-batch
    stream is mid-ingest. A search against the live segment dir must equal a
    one-shot batch build over exactly the docs whose segments had committed
    at query time (stats.json is written last, so open_segmented_index only
    ever sees complete segments)."""
    import time

    from rustserini_spark.streaming.incremental import _segments

    base = tmp_path_factory.mktemp("live")
    inp, segs, ckpt = str(base / "input"), str(base / "segments"), str(base / "ckpt")
    os.makedirs(inp)
    docs = documents.select("doc_id", "text")
    for i in range(2):
        docs.filter(F.col("doc_id") % 3 == i).coalesce(1).write.parquet(f"{inp}/chunk={i}")

    qdf = spark.createDataFrame(pd.DataFrame(QUERIES, columns=["qid", "query"]))
    q = start_incremental_indexing(
        spark, f"{inp}/chunk=*", segs, SCHEMA, ckpt,
        available_now=False, max_files_per_trigger=1,
    )
    try:
        deadline = time.time() + 240
        while time.time() < deadline and (
            not os.path.exists(segs) or not _segments(segs)
        ):
            time.sleep(0.5)
        assert _segments(segs), "no segment committed within timeout"
        assert q.isActive  # the stream is still running: mid-ingest

        seg_index = open_segmented_index(spark, segs)  # snapshot of committed segs
        prefix_ids = [r.doc_id for r in seg_index.doclen.select("doc_id").collect()]
        assert 0 < len(prefix_ids) <= documents.count()
        batch_prefix = build_index(
            spark, docs.filter(F.col("doc_id").isin(prefix_ids))
        )
        expected = _run(bm25_search(batch_prefix, qdf, k=10))
        assert _run(bm25_search_pruned(seg_index, qdf, k=10)) == expected
        assert _run(bm25_search(seg_index, qdf, k=10)) == expected

        # a third chunk arrives while the stream is live; wait for full ingest
        docs.filter(F.col("doc_id") % 3 == 2).coalesce(1).write.parquet(f"{inp}/chunk=2")
        n_total = documents.count()

        def ingested():
            try:
                return open_segmented_index(spark, segs).n_docs == n_total
            except FileNotFoundError:
                return False

        deadline = time.time() + 240
        while time.time() < deadline and not ingested():
            time.sleep(0.5)
        assert ingested(), "third chunk not ingested within timeout"
    finally:
        q.stop()

    final = open_segmented_index(spark, segs)
    full = build_index(spark, docs)
    assert _run(bm25_search_pruned(final, qdf, k=10)) == _run(bm25_search(full, qdf, k=10))


def test_merge_all_segments_unit(spark, documents, tmp_path_factory):
    """In-place merge: two segments collapse to one whose search-visible
    content (doc count, coverage) is the union. The sources stay on disk
    (superseded — invisible to readers) for one merge cycle as the
    in-flight-reader grace period; the NEXT merge reclaims them."""
    from rustserini_spark.streaming.incremental import (
        _live_segments,
        _segments,
        covered_batches,
        merge_all_segments,
        write_segment,
    )

    segs = str(tmp_path_factory.mktemp("merge_unit"))
    docs = documents.select("doc_id", "text")
    write_segment(
        spark, docs.filter(F.col("doc_id") % 2 == 0), f"{segs}/seg_000000", batches=[0]
    )
    write_segment(
        spark, docs.filter(F.col("doc_id") % 2 == 1), f"{segs}/seg_000001", batches=[1]
    )
    # a reader opened BEFORE the merge, lazily referencing the source files
    pre_merge_reader = open_segmented_index(spark, segs)
    new = merge_all_segments(spark, segs)
    assert new is not None and os.path.basename(new) == "seg_000001m"
    # grace period: sources still complete on disk, but invisible to readers
    assert len(_segments(segs)) == 3
    assert [os.path.basename(s) for s, _ in _live_segments(segs)] == ["seg_000001m"]
    assert covered_batches(segs) == {0, 1}
    merged = open_segmented_index(spark, segs)
    assert merged.n_docs == documents.count()
    # the pre-merge reader survives the merge that superseded its sources
    assert pre_merge_reader.doclen.count() == documents.count()
    # next merge: reclaims the superseded sources, nothing left to merge
    assert merge_all_segments(spark, segs) is None
    assert _segments(segs) == [new]
    assert not os.path.exists(f"{segs}/seg_000000")


def test_write_segment_job_count(spark, documents, tmp_path_factory, jobs_in_group):
    """The segment's postings read back through session.barrier with the
    written schema, so no job infers it from the parquet footers."""
    from rustserini_spark.streaming.incremental import write_segment

    segs = str(tmp_path_factory.mktemp("segment_jobs"))
    docs = documents.select("doc_id", "text")
    n_jobs = jobs_in_group(
        "write_segment", lambda: write_segment(spark, docs, f"{segs}/seg_000000", batches=[0])
    )
    # 12 while the read-back inferred its schema
    assert n_jobs == 11, n_jobs


def test_merge_reclaims_statsless_orphan_dirs(spark, documents, tmp_path_factory):
    """A QUIET seg_* dir lacking stats.json (crash between the stats remove
    and the rmtree, or a crashed mid-write) is reclaimed by the next merge's
    opening pass instead of leaking forever (_segments never lists it) — but
    a FRESH stats-less dir (a possibly-live write_segment that hasn't reached
    its final stats.json yet) SURVIVES the grace window."""
    from rustserini_spark.streaming.incremental import (
        _segments,
        merge_all_segments,
        write_segment,
    )

    segs = str(tmp_path_factory.mktemp("statsless"))
    docs = documents.select("doc_id", "text")
    write_segment(spark, docs, f"{segs}/seg_000000", batches=[0])
    # crashed write, gone quiet: age every path in the orphan past the grace
    os.makedirs(f"{segs}/seg_000009/postings")
    stale = 1_000_000_000  # fixed epoch, decades in the past
    for p in (f"{segs}/seg_000009", f"{segs}/seg_000009/postings"):
        os.utime(p, (stale, stale))
    # mid-write segment: stats-less but just touched
    os.makedirs(f"{segs}/seg_000010/postings")
    assert merge_all_segments(spark, segs) is None  # 1 live segment: no-op merge
    assert not os.path.exists(f"{segs}/seg_000009")  # quiet orphan reclaimed
    assert os.path.exists(f"{segs}/seg_000010")  # fresh mid-write kept
    assert [os.path.basename(s) for s in _segments(segs)] == ["seg_000000"]
    # once the mid-write goes quiet too, the next merge reclaims it
    for p in (f"{segs}/seg_000010", f"{segs}/seg_000010/postings"):
        os.utime(p, (stale, stale))
    assert merge_all_segments(spark, segs) is None
    assert not os.path.exists(f"{segs}/seg_000010")


def test_auto_compaction_policy_triggers_and_preserves_results(
    spark, documents, tmp_path_factory
):
    """auto_compact_segments=N: the sink merges in place when N complete
    segments exist; results stay identical to a one-shot batch build, batch
    coverage is preserved, and a same-checkpoint restart changes nothing."""
    from rustserini_spark.streaming.incremental import _segments, covered_batches

    base = tmp_path_factory.mktemp("autocompact")
    inp, segs, ckpt = str(base / "input"), str(base / "segments"), str(base / "ckpt")
    os.makedirs(inp)
    docs = documents.select("doc_id", "text")
    for i in range(4):
        docs.filter(F.col("doc_id") % 4 == i).coalesce(1).write.parquet(f"{inp}/chunk={i}")

    def start():
        return start_incremental_indexing(
            spark, f"{inp}/chunk=*", segs, SCHEMA, ckpt,
            available_now=True, max_files_per_trigger=1, auto_compact_segments=3,
        )

    start().awaitTermination(600)
    from rustserini_spark.streaming.incremental import _live_segments

    live = [s for s, _ in _live_segments(segs)]
    assert len(live) < 4  # 4 batches arrived; the policy merged at 3
    assert any(os.path.basename(s).endswith("m") for s in live)
    assert covered_batches(segs) == {0, 1, 2, 3}

    final = open_segmented_index(spark, segs)
    assert final.n_docs == documents.count()
    qdf = spark.createDataFrame(pd.DataFrame(QUERIES, columns=["qid", "query"]))
    expected = _run(bm25_search(build_index(spark, docs), qdf, k=10))
    assert _run(bm25_search_pruned(final, qdf, k=10)) == expected
    assert _run(bm25_search(final, qdf, k=10)) == expected

    before = sorted(os.listdir(segs))
    start().awaitTermination(300)  # same checkpoint: no replay, no change
    assert sorted(os.listdir(segs)) == before


def test_streaming_is_idempotent_on_restart(spark, stream_dirs):
    inp, segs, ckpt = stream_dirs
    before = sorted(os.listdir(segs))
    # restarting with the same checkpoint must not duplicate segments
    q = start_incremental_indexing(
        spark, f"{inp}/chunk=*", segs, SCHEMA, ckpt, available_now=True
    )
    q.awaitTermination(300)
    assert sorted(os.listdir(segs)) == before


def test_merge_crash_window_never_loses_or_double_counts(
    spark, documents, tmp_path_factory
):
    """The merge commit is loss-proof ordered: the merged segment turns
    visible (rename) BEFORE sources are reclaimed. Simulate a crash exactly
    inside that window — merged segment AND its superseded sources all
    COMPLETE on disk — and assert readers count every batch exactly once,
    then that the next merge call reclaims the leftovers."""
    from rustserini_spark.streaming.incremental import (
        _live_segments,
        _segments,
        covered_batches,
        merge_all_segments,
        write_segment,
    )

    segs = str(tmp_path_factory.mktemp("crash_window"))
    docs = documents.select("doc_id", "text")
    write_segment(
        spark, docs.filter(F.col("doc_id") % 2 == 0), f"{segs}/seg_000000", batches=[0]
    )
    write_segment(
        spark, docs.filter(F.col("doc_id") % 2 == 1), f"{segs}/seg_000001", batches=[1]
    )
    # the merged segment, committed (renamed into place) but sources not yet
    # reclaimed — the exact post-rename crash state
    write_segment(spark, docs, f"{segs}/seg_000001m", batches=[0, 1])

    assert len(_segments(segs)) == 3  # all three are COMPLETE on disk
    assert [os.path.basename(s) for s, _ in _live_segments(segs)] == ["seg_000001m"]
    assert covered_batches(segs) == {0, 1}  # replays of 0 and 1 are skipped

    window = open_segmented_index(spark, segs)
    assert window.n_docs == documents.count()  # exactly once, not doubled
    qdf = spark.createDataFrame(pd.DataFrame(QUERIES, columns=["qid", "query"]))
    expected = _run(bm25_search(build_index(spark, docs), qdf, k=10))
    assert _run(bm25_search_pruned(window, qdf, k=10)) == expected

    # recovery: the next merge reclaims the superseded dirs (nothing to merge)
    assert merge_all_segments(spark, segs) is None
    assert [os.path.basename(s) for s in _segments(segs)] == ["seg_000001m"]
    assert not os.path.exists(f"{segs}/seg_000000")
    assert open_segmented_index(spark, segs).n_docs == documents.count()


def test_merge_crash_before_rename_is_harmless(spark, documents, tmp_path_factory):
    """A crash BEFORE the rename leaves an orphan _merge_tmp and intact
    sources: readers are unaffected and the next merge reclaims the orphan
    and completes."""
    from rustserini_spark.streaming.incremental import (
        _segments,
        merge_all_segments,
        write_segment,
    )

    segs = str(tmp_path_factory.mktemp("crash_pre_rename"))
    docs = documents.select("doc_id", "text")
    write_segment(
        spark, docs.filter(F.col("doc_id") % 2 == 0), f"{segs}/seg_000000", batches=[0]
    )
    write_segment(
        spark, docs.filter(F.col("doc_id") % 2 == 1), f"{segs}/seg_000001", batches=[1]
    )
    os.makedirs(f"{segs}/_merge_tmp/postings")  # half-built orphan
    assert open_segmented_index(spark, segs).n_docs == documents.count()
    new = merge_all_segments(spark, segs)
    assert new is not None and not os.path.exists(f"{segs}/_merge_tmp")
    from rustserini_spark.streaming.incremental import _live_segments

    assert [s for s, _ in _live_segments(segs)] == [new]
    assert len(_segments(segs)) == 3  # sources kept for the grace period
