"""Webtext pipeline: determinism, byte-identity extraction, docmap, rank
parity on the input_hint-shaped table, and checkpoint/resume semantics."""

import shutil

import pandas as pd
import pytest
from pyspark.sql import functions as F

from oracle.bm25_ref import bm25_rank
from rustserini_spark.operators.index_build import load_index
from rustserini_spark.operators.search import bm25_search_pruned
from rustserini_spark.operators.webtext import (
    extraction_mismatches,
    index_webtext,
    resolve_urls,
)
from rustserini_spark.sources.synth import synth_webtext

N_DOCS = 400
CANONICAL = "did scientific minds lead to the success of the manhattan project"


@pytest.fixture(scope="module")
def webtext(spark):
    return synth_webtext(spark, n_docs=N_DOCS).persist()


def test_schema(webtext):
    assert [f.name for f in webtext.schema.fields] == ["url", "warc_ts", "html", "text", "lang"]
    types = {f.name: f.dataType.simpleString() for f in webtext.schema.fields}
    assert types == {
        "url": "string", "warc_ts": "timestamp", "html": "binary",
        "text": "string", "lang": "string",
    }


def test_deterministic_across_parallelism(spark, webtext):
    a = {r.url: (r.text, bytes(r.html), r.lang, r.warc_ts) for r in webtext.collect()}
    again = synth_webtext(spark, n_docs=N_DOCS, n_partitions=3)
    b = {r.url: (r.text, bytes(r.html), r.lang, r.warc_ts) for r in again.collect()}
    assert a == b
    assert len(a) == N_DOCS


def test_extraction_byte_identity(webtext):
    assert extraction_mismatches(webtext).count() == 0


def test_extraction_detects_corruption(spark, webtext):
    corrupted = webtext.withColumn(
        "text",
        F.when(F.col("url").endswith("0000000003"), F.concat(F.col("text"), F.lit("X"))).otherwise(
            F.col("text")
        ),
    )
    bad = extraction_mismatches(corrupted).collect()
    assert len(bad) == 1 and bad[0].url.endswith("0000000003")


def test_docmap_dense_and_deterministic(spark, webtext):
    from rustserini_spark.sources.synth import docmap_from_urls

    dm = docmap_from_urls(webtext.filter(F.col("lang") == "en"))
    rows = sorted((r.doc_id, r.url) for r in dm.collect())
    n = len(rows)
    assert [r[0] for r in rows] == list(range(n))
    # urls sorted ascending == ordinal order
    assert [r[1] for r in rows] == sorted(r[1] for r in rows)


def test_hash_bucket_docmap_dense_unique_parallelism_independent(spark, webtext):
    """The fused-ordinal docid scheme: ids are a pure function of (url set,
    n_id_buckets) — dense 0..n-1, unique, identical at any partitioning."""
    from rustserini_spark.operators.webtext import _bucket_offsets, hash_bucket_docmap

    corpus = webtext.filter(F.col("lang") == "en")
    offsets, n = _bucket_offsets(corpus, 8)
    dm1 = {r.url: r.doc_id for r in hash_bucket_docmap(corpus, 8, offsets).collect()}
    assert sorted(dm1.values()) == list(range(n))
    dm2 = {
        r.url: r.doc_id
        for r in hash_bucket_docmap(corpus.repartition(13), 8, offsets).collect()
    }
    assert dm1 == dm2
    # driver-side replay of the pure function: bucket by hash offsets, rank by
    # url within bucket — must reproduce every id (requires xxhash64 parity,
    # so check the structural property instead: ids within each bucket's url
    # sort order are consecutive from the bucket offset)
    inv = sorted((did, url) for url, did in dm1.items())
    assert [d for d, _ in inv] == list(range(n))


def test_hash_bucket_docmap_determinism_large_p(spark, webtext):
    """Bucket count is a BUILD parameter: at p=4096 (buckets >> partitions and
    >> docs — many empty buckets, several buckets per task) ids are still
    dense 0..n-1 and identical across input partitionings."""
    from rustserini_spark.operators.webtext import _bucket_offsets, hash_bucket_docmap

    corpus = webtext.filter(F.col("lang") == "en")
    for p in (64, 4096):
        offsets, n = _bucket_offsets(corpus, p)
        dm1 = {r.url: r.doc_id for r in hash_bucket_docmap(corpus, p, offsets).collect()}
        dm2 = {
            r.url: r.doc_id
            for r in hash_bucket_docmap(corpus.repartition(7), p, offsets).collect()
        }
        assert dm1 == dm2 and sorted(dm1.values()) == list(range(n))


def test_bucket_partition_isolation(spark, webtext):
    """Identity bucket->partition routing: every docid bucket lands ALONE in
    its own physical partition (no balls-into-bins collisions — the measured
    10x encode-task skew at 1.9M docs), on both the literal-array (p<=4096)
    and broadcast-join (p>4096) routing paths."""
    from rustserini_spark.operators.webtext import _bucketed_urls, identity_partition_keys

    assert len(set(identity_partition_keys(spark, 64))) == 64
    for p, path_note in ((64, "array"), (8192, "broadcast")):
        b = _bucketed_urls(webtext, p).withColumn("part", F.spark_partition_id())
        pairs = b.select("_pid", "part").distinct().collect()
        bucket_parts: dict[int, set] = {}
        for r in pairs:
            bucket_parts.setdefault(r["_pid"], set()).add(r["part"])
        assert all(len(v) == 1 for v in bucket_parts.values()), path_note
        parts = [next(iter(v)) for v in bucket_parts.values()]
        assert len(set(parts)) == len(bucket_parts), path_note


def test_auto_id_buckets_policy():
    """Default scales with corpus size so per-task docid sorts stay ~1M urls:
    64 at small scale, n/2^20 (pow2-rounded) at web scale."""
    from rustserini_spark.operators.webtext import auto_id_buckets

    assert auto_id_buckets(0) == 64
    assert auto_id_buckets(1_920_000) == 64
    assert auto_id_buckets(1 << 30) == 1024  # 1B docs -> 1024 buckets
    assert auto_id_buckets((1 << 40) + 1) == 2 << 20  # 10^12 docs -> ~2M buckets
    # ~0.5M docs per bucket minimum at the pow2 rounding boundary
    assert auto_id_buckets(65 << 20) == 128


@pytest.fixture(scope="module")
def wt_index(spark, webtext):
    wt = index_webtext(spark, webtext, lang="en", block_size=16, seg_docs=64)
    wt.index.materialize()
    return wt


def _oracle_corpus(webtext, docmap):
    id_by_url = {r.url: r.doc_id for r in docmap.collect()}
    return {
        id_by_url[r.url]: r.text
        for r in webtext.filter(F.col("lang") == "en").collect()
    }


def test_webtext_rank_parity(spark, webtext, wt_index):
    corpus = _oracle_corpus(webtext, wt_index.docmap)
    queries = [
        ("c0", CANONICAL),
        ("c1", "atomic bomb world war"),
        ("c2", "w0003 w0007 research"),
        ("c3", "history of modern physics"),
    ]
    qdf = spark.createDataFrame(pd.DataFrame(queries, columns=["qid", "query"]))
    got = {}
    for r in bm25_search_pruned(wt_index.index, qdf, k=10).collect():
        got.setdefault(r.qid, []).append((r.rank, r.doc_id, r.score))
    for qid, query in queries:
        expected = bm25_rank(corpus, query, k=10)
        actual = sorted(got.get(qid, []))
        assert [a[1] for a in actual] == [e[0] for e in expected], qid
        for (_, _, s), (_, es) in zip(actual, expected):
            assert s == pytest.approx(es, abs=1e-9)


def test_canonical_query_hits_doc0(spark, webtext, wt_index):
    qdf = spark.createDataFrame([("cq", CANONICAL)], "qid string, query string")
    res = resolve_urls(bm25_search_pruned(wt_index.index, qdf, k=10), wt_index.docmap)
    top = res.filter(F.col("rank") == 1).collect()[0]
    # doc 0 carries the canonical passage (reference parity style:
    # /root/reference/tests/searcher_test.rs:99)
    assert top.url == "https://example.org/doc/0000000000"


def _traced_search(spark, index, pairs, k: int, group: str):
    """Run ``bm25_search_pruned`` and collect its result under job group
    ``group``. Returns (result, rows, trace): trace holds the group's job
    count, the tasks its stages ran, shuffle bytes, the physical plans of its SQL
    executions, and whether a persisted RDD appeared."""
    sc = spark.sparkContext
    stage_store = sc._jsc.sc().statusStore()
    sql_store = spark._jsparkSession.sharedState().statusStore()
    persisted = sc._jsc.getPersistentRDDs().size()
    sc.setJobGroup(group, group)
    try:
        result = bm25_search_pruned(index, pairs, k=k)
        rows = result.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    tasks = shuffle = 0
    for jid in jobs:
        for sid in sc.statusTracker().getJobInfo(jid).stageIds:
            st = stage_store.lastStageAttempt(sid)
            # a stage of the cached relation's lineage shows up skipped
            tasks += st.numCompleteTasks() + st.numFailedTasks()
            shuffle += st.shuffleWriteBytes() + st.shuffleReadBytes()
    execs = sql_store.executionsList()
    plans = [
        e.physicalPlanDescription()
        for e in (execs.apply(i) for i in range(execs.size()))
        if e.description() == group
    ]
    trace = {
        "jobs": len(jobs),
        "tasks": tasks,
        "shuffle_bytes": shuffle,
        "plans": plans,
        "persisted": sc._jsc.getPersistentRDDs().size() != persisted,
    }
    return result, rows, trace


def test_one_query_call_runs_one_fetch_job(spark, webtext, wt_index, monkeypatch):
    """On a materialized index with the default docid bucket count (64
    cached partitions), a one-query call is scored on the driver: the call
    and the collect of its result run exactly one job (the JVM fetch of the
    matched blocks, at most ``defaultParallelism`` tasks) with no shuffle,
    no Python stage above the cached scan, no new broadcast and no new
    persisted RDD. Degenerate queries take the same route and match the
    oracle, or return the empty result with no job at all."""
    from rustserini_spark.operators.search import RESULT_SCHEMA
    from rustserini_spark.operators.webtext import auto_id_buckets

    sc = spark.sparkContext
    index = wt_index.index
    corpus = _oracle_corpus(webtext, wt_index.docmap)
    broadcasts = []
    real_broadcast = sc.broadcast
    monkeypatch.setattr(sc, "broadcast", lambda v: broadcasts.append(v) or real_broadcast(v))
    assert auto_id_buckets(N_DOCS) == 64
    assert index.postings.rdd.getNumPartitions() == 64 > sc.defaultParallelism

    def call(tag: str, query: str, k: int):
        result, rows, trace = _traced_search(spark, index, [(tag, query)], k, f"routed-{tag}")
        assert result.schema == RESULT_SCHEMA, tag
        assert not trace["persisted"], tag
        assert not broadcasts, tag
        assert trace["shuffle_bytes"] == 0, tag
        assert trace["tasks"] <= sc.defaultParallelism, (tag, trace["tasks"])
        for plan in trace["plans"]:
            # the nodes this call ran, above the cached relation's scan
            ran = plan.split("InMemoryTableScan")[0]
            for node in ("Exchange", "InPandas", "InArrow", "EvalPython", "Broadcast"):
                assert node not in ran, (tag, node, ran)
        # the fetch is the one execution that reads the cache; collecting
        # the local result is an execution without a job
        return rows, trace["jobs"], sum("InMemoryTableScan" in p for p in trace["plans"])

    for tag, query in [
        ("empty", ""),
        ("blank", " \t\n "),
        ("stopwords", "the of and to"),
        ("oov", "zzqxv qqqzzyx"),
    ]:
        rows, n_jobs, n_fetches = call(tag, query, 10)
        assert rows == [] and n_jobs == n_fetches == 0, (tag, rows, n_jobs, n_fetches)

    for tag, query, k in [
        ("single", "atomic bomb world war", 10),
        ("oov_mixed", "manhattan zzqxv project", 10),
        ("repeated", "manhattan manhattan", 10),  # qtf 2
        ("k_above_matches", "w0003 research", 1000),
    ]:
        rows, n_jobs, n_fetches = call(tag, query, k)
        assert n_jobs == 1 and n_fetches == 1, (tag, n_jobs, n_fetches)
        expected = bm25_rank(corpus, query, k=k)
        assert expected, tag
        if tag == "k_above_matches":
            assert len(expected) < k
        got = sorted((r.rank, r.doc_id, r.score) for r in rows)
        assert [r[0] for r in got] == list(range(1, len(expected) + 1)), tag
        assert [r[1] for r in got] == [d for d, _ in expected], tag
        for (_, _, s), (_, es) in zip(got, expected):
            assert s == pytest.approx(es, abs=1e-9)


def test_batch_below_the_pair_cut_runs_one_fetch_job(spark, wt_index, pruned_routes, monkeypatch):
    """A 300-query batch whose (query, posting) pairs are within the driver
    route's cut runs like a one-query call on the 64-bucket index: one job
    of at most ``defaultParallelism`` tasks, no shuffle, no Python stage,
    exchange or window, no new broadcast and nothing persisted, and ranks
    equal to ``bm25_search``'s. The same batch just above the cut runs
    doc-aligned and matches too."""
    import numpy as np

    from rustserini_spark.operators import search
    from rustserini_spark.operators.search import bm25_search, query_terms_local

    index = wt_index.index
    rng = np.random.default_rng(17)
    words = [f"w{i:04d}" for i in range(3, 400)]
    pairs = [
        (f"b{i}", " ".join(rng.choice(words, int(rng.integers(1, 4)))) + (" zzqxv" if i % 9 == 0 else ""))
        for i in range(300)
    ]
    qt_rows, terms = query_terms_local(pairs, index.analyzer)
    stats = index.idf_for_terms(terms)
    n_pairs = sum(stats[t][1] for _, t, _ in qt_rows if t in stats)
    assert len(qt_rows) > 256 and 0 < n_pairs <= search.DRIVER_ROUTE_MAX_PAIRS

    def ranks(rows):
        out: dict[str, list] = {}
        for r in rows:
            out.setdefault(r.qid, []).append((r.rank, r.doc_id, r.score))
        return {q: sorted(v) for q, v in out.items()}

    expected = ranks(bm25_search(index, pairs, k=10).collect())
    assert len(expected) > 250

    def same_as_exhaustive(got):
        assert set(got) == set(expected)
        for qid, rows in got.items():
            assert [r[:2] for r in rows] == [r[:2] for r in expected[qid]], qid
            np.testing.assert_allclose([r[2] for r in rows], [r[2] for r in expected[qid]], atol=1e-9)

    sc = spark.sparkContext
    broadcast_before = index.meta.get("_qstate_broadcast")
    result, rows, trace = _traced_search(spark, index, pairs, 10, "routed-batch")
    assert pruned_routes.route_of(result) == "driver"
    assert trace["jobs"] == 1 and trace["shuffle_bytes"] == 0, trace
    assert trace["tasks"] <= sc.defaultParallelism, trace["tasks"]
    assert not trace["persisted"]
    assert index.meta.get("_qstate_broadcast") is broadcast_before
    for plan in trace["plans"]:
        # the nodes this call ran, above the cached relation's scan
        ran = plan.split("InMemoryTableScan")[0]
        for node in ("MapInPandas", "Exchange", "Window"):
            assert node not in ran, (node, ran)
    same_as_exhaustive(ranks(rows))

    monkeypatch.setattr(search, "DRIVER_ROUTE_MAX_PAIRS", n_pairs - 1)
    above = bm25_search_pruned(index, pairs, k=10)
    assert pruned_routes.route_of(above) == "doc_aligned"
    same_as_exhaustive(ranks(above.collect()))


def test_checkpoint_resume(spark, webtext, tmp_path_factory):
    ckpt = str(tmp_path_factory.mktemp("bm25_ckpt"))
    wt1 = index_webtext(
        spark, webtext, lang="en", checkpoint_dir=ckpt, input_id="wt400", block_size=16
    )
    qdf = spark.createDataFrame([("cq", CANONICAL)], "qid string, query string")
    r1 = sorted(map(tuple, bm25_search_pruned(wt1.index, qdf, k=10).collect()))

    # full rerun: every stage must be reused (resume-from-complete)
    from rustserini_spark.operators.index_build import build_index_checkpointed
    from rustserini_spark.sources.synth import docmap_from_urls, extract_text_col

    corpus = webtext.filter(F.col("lang") == "en")
    docs = corpus.select("url", extract_text_col("html").alias("text")).join(
        docmap_from_urls(corpus), "url"
    )
    _idx, stages = build_index_checkpointed(
        spark, docs, checkpoint_dir=ckpt, input_id="wt400", block_size=16
    )
    assert all(s.reused for s in stages), [(s.name, s.reused) for s in stages]

    # kill a derived stage -> only it rebuilds; the corpus-scale postings
    # stage stays reused (one-pass topology: postings -> dictionary/doclen)
    shutil.rmtree(f"{ckpt}/dictionary")
    idx2, stages2 = build_index_checkpointed(
        spark, docs, checkpoint_dir=ckpt, input_id="wt400", block_size=16
    )
    by_name = {s.name: s.reused for s in stages2}
    assert by_name["postings"] and by_name["doclen"]
    assert not by_name["dictionary"]

    # reopened index answers identically
    idx3 = load_index(spark, ckpt)
    r3 = sorted(map(tuple, bm25_search_pruned(idx3, qdf, k=10).collect()))
    assert r1 == r3

    # changed input id -> full rebuild
    _idx4, stages4 = build_index_checkpointed(
        spark, docs, checkpoint_dir=ckpt, input_id="OTHER", block_size=16
    )
    assert not any(s.reused for s in stages4)
