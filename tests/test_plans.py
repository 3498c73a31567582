"""Physical-plan quality gates: the plans we designed are the plans we get.

These lock the scale properties the engine's 100 TB story depends on:
filter pushdown into the postings parquet scan, broadcast (not shuffle) joins
on the query side, and a build DAG with no unnecessary exchanges after the
map-side tf optimization.
"""

import re

import pytest
from pyspark.sql import functions as F

from rustserini_spark.operators.index_build import (
    build_index_checkpointed,
    load_index,
)
from rustserini_spark.operators.search import bm25_search
from rustserini_spark.session import col_in


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


@pytest.fixture(scope="module")
def saved_index(spark, documents, tmp_path_factory):
    ckpt = str(tmp_path_factory.mktemp("planck"))
    build_index_checkpointed(
        spark, documents.select("doc_id", "text"), ckpt, input_id="plans"
    )
    return load_index(spark, ckpt)


def test_term_filter_pushed_to_postings_scan(spark, saved_index):
    filtered = saved_index.postings.filter(F.col("term").isin(["spark", "queri"]))
    plan = _plan(filtered)
    assert "PushedFilters" in plan
    m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert m and "term" in m.group(1), plan[:800]


@pytest.mark.parametrize(
    "terms", [["spark", "queri"], ["don't", "a\\b"], [f"t{i}" for i in range(50)]]
)
def test_col_in_term_filter_pushed_to_postings_scan(spark, saved_index, terms):
    filtered = saved_index.postings.filter(col_in("term", terms))
    plan = _plan(filtered)
    assert "PushedFilters" in plan
    m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert m and "term" in m.group(1), plan[:800]


def test_query_plan_uses_broadcast_joins(spark, saved_index):
    qdf = spark.createDataFrame([("p", "spark query window")], "qid string, query string")
    res = bm25_search(saved_index, qdf, k=10)
    plan = _plan(res)
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    # the big side (postings) must never be broadcast: no SortMergeJoin needed
    assert "SortMergeJoin" not in plan, plan[:1200]


def test_build_postings_has_zero_corpus_shuffles(spark, documents):
    """The one-pass build's postings relation is a pure map stage: analysis +
    per-segment block encode fused into one mapInPandas. Modulo the initial
    parallelism re-split of a tiny local input, the plan must contain NO
    exchange — at 10^12 docs this is the difference between a build that
    scales with executors and one gated on shuffle bandwidth."""
    from rustserini_spark.operators.index_build import encode_postings

    postings = encode_postings(
        documents.select("doc_id", "text"), "text", "doc_id", "porter"
    )
    plan = _plan(postings)
    assert "Exchange" not in plan, plan[:1200]


def test_build_dictionary_aggregates_block_metadata_only(spark, documents):
    """The whole build DAG has exactly ONE hash exchange, not corpus-scale:
    the dictionary agg over block METADATA (postings cache is doc-aligned,
    no layout exchange at all). No join anywhere."""
    from rustserini_spark.operators.index_build import build_index

    index = build_index(spark, documents.select("doc_id", "text"))
    plan = _plan(index.dictionary)
    # hash/range exchanges only: the round-robin re-split of the tiny test
    # input (a no-op on a real partitioned table) is not a plan shuffle, and
    # AQE renders exchanges twice (initial + final plan)
    shuffles = {
        m.group(1): m.group(2)
        for m in re.finditer(
            r"\((\d+)\) Exchange\nInput[^\n]*\nArguments: ((?:hash|range)partitioning\([^,]*)", plan
        )
    }
    kinds = sorted(set(shuffles.values()))
    assert len(kinds) <= 1 and all("term" in k for k in kinds), f"{shuffles}\n{plan[:2000]}"
    assert "Join" not in plan, plan[:1200]


def test_pruned_search_has_zero_block_shuffle_on_materialized_index(
    spark, documents, pruned_routes
):
    """On a materialized (shard-partitioned-cache) index, a distributed query
    batch's plan must reuse the cached partitioning: the ONLY exchange is the
    tiny final top-k window on qid — posting blocks never move. The batch is
    made to count as above the driver route's cut, so it runs distributed."""
    from rustserini_spark.operators.index_build import build_index
    from rustserini_spark.operators.search import bm25_search_pruned

    index = build_index(spark, documents.select("doc_id", "text")).materialize()
    qdf = spark.createDataFrame([("p", "spark query window")], "qid string, query string")
    with pruned_routes.above_cut():
        res = bm25_search_pruned(index, qdf, k=10)
    assert pruned_routes.route_of(res) == "doc_aligned"
    plan = _plan(res)
    lines = plan.splitlines()
    grp = next(
        i for i, l in enumerate(lines)
        if "MapInPandas" in l or "FlatMapGroupsInPandas" in l
    )
    scan = next(i for i, l in enumerate(lines) if "InMemoryTableScan" in l and i > grp)
    between = [l for l in lines[grp + 1 : scan] if "Exchange" in l]
    assert not between, (between, "\n".join(lines[grp:scan + 1]))


def test_ivf_probe_scan_prunes_cell_partitions(spark, sf_dir, tmp_path_factory):
    """A probe batch over the MATERIALIZED IVF index must read only its
    probed cells: the parquet scan's PartitionFilters carry the cell
    predicate (at 100 TB, unpruned per-batch corpus scans are the difference
    between ANN and brute force — VERDICT r3 'what's wrong' #4)."""
    from rustserini_spark.operators.similarity import (
        build_ivf_index,
        ivf_ann_topk_indexed,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    base = str(tmp_path_factory.mktemp("ivfplan"))
    ivf = build_ivf_index(emb, dim=64, base_dir=base, n_centroids=8)
    res = ivf_ann_topk_indexed(
        spark, ivf, emb.filter(F.col("vec_id") < 2), k=5, n_probe=2
    )
    plan = _plan(res)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "cell" in m.group(1) and ("IN" in m.group(1) or "in(" in m.group(1)), (
        plan[:1500]
    )
    # and the probed-cell set is a strict subset of all cells
    n_probed = len(re.findall(r"\d+", m.group(1).split("IN")[-1])) if "IN" in m.group(1) else 0
    assert 0 < n_probed < 8, m.group(1)


def test_scan_prunes_columns(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    two = docs.select("doc_id", "lang")
    plan = _plan(two)
    m = re.search(r"ReadSchema: ([^\n]*)", plan)
    assert m and "text" not in m.group(1), plan[:800]


def test_pii_scrub_is_map_only(spark, documents):
    """PII scrubbing must be a pure projection over the scan: zero exchanges,
    zero Python, and the scan reads only the two columns the op uses."""
    from rustserini_spark.operators.curation import pii_scrub

    plan = _plan(pii_scrub(documents))
    assert "Exchange" not in plan, plan[:1200]
    assert "Python" not in plan, plan[:1200]
    m = re.search(r"ReadSchema: ([^\n]*)", plan)
    assert m and "lang" not in m.group(1) and "source" not in m.group(1)


def test_repetition_features_is_map_only(spark, documents):
    from rustserini_spark.operators.curation import repetition_features

    plan = _plan(repetition_features(documents))
    assert "Exchange" not in plan, plan[:1200]
    assert "Python" not in plan, plan[:1200]


def test_boilerplate_removal_has_no_corpus_sort_or_cartesian(spark, documents):
    """remove_frequent_lines: line-count agg + anti-join + rebuild agg. The
    anti-join must resolve as broadcast (the frequent-line table is tiny),
    never a cartesian product, and nothing sorts the corpus globally."""
    from rustserini_spark.operators.curation import remove_frequent_lines

    df = remove_frequent_lines(documents, min_df=5)
    df.collect()  # let AQE finalize join strategies from runtime stats
    plan = _plan(df)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    assert "BroadcastHashJoin" in plan, plan[:1500]  # AQE broadcast the tiny freq side
    assert "rangepartitioning" not in plan, plan[:1500]  # nothing globally sorts


def test_source_filter_aggregates_once_and_semijoins(spark, documents):
    """filter_by_source_stats: the stats side is one hash aggregation over
    (source) and the survivor semi-join must not cartesian; no Python."""
    from rustserini_spark.operators.curation import filter_by_source_stats

    plan = _plan(filter_by_source_stats(documents, min_mean_tokens=50.0))
    assert "Python" not in plan, plan[:1200]
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    assert "LeftSemi" in plan, plan[:1500]


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


TOKENIZER = "split(lower("


def test_pinned_filters_tokenize_once(spark, sf_dir, documents, monkeypatch):
    """filter_unpushed keeps curate_corpus's quality filter and the training
    mix sampler directly above the projection that tokenizes, so the
    tokenizer appears once in each optimized plan. A predicate pushed below
    that projection substitutes the tokenize tree per feature reference
    (15 and 33 copies)."""
    import __spark_entry__ as entry
    from rustserini_spark.operators import curation

    frames = {}

    def capture(df, tag, path=None):
        frames[tag] = df
        return df

    monkeypatch.setattr(curation, "barrier", capture)
    curation.curate_corpus(documents)
    assert _optimized(frames["curate_kept"]).count(TOKENIZER) == 1
    assert _optimized(entry.q_training_mix(spark, sf_dir)).count(TOKENIZER) == 1


def test_minhash_verified_pairs_intersects_once_per_pair(spark, documents):
    """The jaccard threshold stays above the projection that computes the
    intersection: one array_intersect per candidate pair, not one more per
    reference inside the filter."""
    from rustserini_spark.operators.dedup import minhash_verified_pairs

    plan = _optimized(minhash_verified_pairs(documents))
    assert plan.count("array_intersect(") == 1, plan[:3000]


def _tokenize_passes(plan: str) -> int:
    # a JVM tokenizer tree or an Arrow kernel each tokenize the text once
    return plan.count(TOKENIZER) + plan.count("MapInArrow ")


def test_minhash_family_tokenizes_once_without_shingle_aggregate(spark, documents, monkeypatch):
    """Each minhash-family entry has one tokenize pass (the Arrow signature
    kernel, or the snapshot side's SQL lanes) and no per-shingle md5 lane
    aggregate."""
    from rustserini_spark.operators import dedup

    base = dedup.build_minhash_table(documents.select("doc_id", "text"))
    new_docs = documents.select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
    frames = {}

    def capture(df, tag, path=None):
        frames[tag] = df
        return df

    monkeypatch.setattr(dedup, "barrier", capture)
    dedup.minhash_lsh_pairs(documents)
    plans = {
        "minhash_lsh_pairs": _optimized(frames["minhash_sig"]),
        "minhash_probe_pairs": _optimized(dedup.minhash_probe_pairs(new_docs, base)),
        "dedup_increment": _optimized(dedup.dedup_increment(new_docs, base)),
    }
    for name, plan in plans.items():
        assert _tokenize_passes(plan) == 1, (name, plan[:2000])
        assert "md5(cast(shingle" not in plan, (name, plan[:2000])
