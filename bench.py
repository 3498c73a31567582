"""Headline benchmark: one JSON line for the driver.

Runs the engine's flagship operations at $SPARK_GRAFT_SF_DIR (default sf0.1)
on local[$SPARK_GRAFT_CPUS]. Times are end-to-end wall seconds per operation
(plan + execute + materialize counts), excluding Spark session startup.

Protocol (self-described in the output's "protocol" field):
  * SPARK_GRAFT_BENCH_REPS (default 3) full repetitions of the whole suite in
    ONE Spark session; the reported per-query time is the MIN across reps
    (this host is a shared-hypervisor VM whose throughput swings up to ~2x
    with neighbor load — min is the least-weather-biased point estimate).
    All raw reps are kept in BENCH/bench_reps.json (pointer in
    "extra.reps_raw_file") so the variance stays visible without bloating
    the headline JSON line past the driver's tail-capture window.
    Rep 1 alone pays ~8s of python-worker spin-up + JVM JIT on a fresh
    session (measured: index_build_porter [9.5, 3.3, 2.4, 2.4, 1.5] over 5
    reps) — the single-rep numbers rounds 1-2 reported mixed that cold start
    into the flagship queries; min-across-reps reports steady state.
  * the index is rebuilt (and its cache dropped) every rep — no rep ever
    reads a previous rep's cached postings. Same for the IVF index: a FRESH
    directory per rep, so "ivf_build" always measures a real train+write
    (round-4 verdict #2: build and probe are now timed separately — the old
    "ann_ivf_topk" entry re-built the materialized index inside the timed
    probe, anti-rewarding the build-once/probe-many design).
  * "bm25_pruned_disk" opens a CHECKPOINTED index from disk (load_index) and
    searches it — the reference's LuceneSearcher::new lifecycle
    (src/searcher/lucene/searcher.rs:25-46 in the reference); the
    checkpointed index is built once per session, untimed, before the reps.
    "bm25_pruned_topk" searches the freshly built, cached index. Both send
    the same 6 queries (~70k (query, posting) pairs at sf0.1), under the
    driver route's pair cut, so both score on the driver after one fetch
    job; they differ in where the postings are read from.
  * after every rep the SQL cache is audited: any still-persisted RDD is a
    leak (reported in extra.cached_rdds_after_rep, expected 0) and cleared so
    no rep reads another rep's cache.
  * the driver's own wrapper may add fields (e.g. "n") outside this dict.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
REPS = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))

BENCH_QUERIES = (
    "exact_dedup",
    "minhash_lsh_pairs",
    "minhash_verified_pairs",
    "ngram_jaccard_pairs",
    "ngram_jaccard_capped",
    "duplicate_span_stats",
    "strip_duplicate_spans",
    "windowed_event_stats",
    "sessionize",
    "simhash_groups",
    "simhash_neardup_pairs",
    "lsh_neardup_recall",
    "text_quality",
    "lang_id",
    "fingerprint",
    "curation_pipeline",
    "decontaminate",
    "training_mix",
    "repetition_quality",
    "pii_scrub",
    "boilerplate_lines",
    "source_filter",
    "embedding_cosine_topk",
    "ann_lsh_recall",
    "encode_knn",
    "canonical_urls",
    "url_dedup_latest",
    "host_stats",
    "minhash_probe_pairs",
    "dedup_increment",
    "lm_perplexity",
)
# r7 rename note: "lsh_neardup"/"ann_lsh_topk" became the value-checked
# *_recall entries — each now times the ANN pass PLUS the exact-recall join
# (round-6 verdict #4), so their numbers are not like-for-like with r6.

IVF_N_CENTROIDS = 16
IVF_N_PROBE = 8


def run_suite(
    spark, docs, queries_df, entry_mod, ckpt_dir: str, sf_dir: str
) -> tuple[dict[str, float], dict[str, int]]:
    """One full pass over every benchmarked operation on the tables in
    ``sf_dir``; fresh index each call. Returns (wall seconds, output rows)
    per operation; builds have no row count."""
    from pyspark.sql import functions as F

    from rustserini_spark.operators.index_build import build_index, load_index
    from rustserini_spark.operators.search import bm25_search, bm25_search_pruned
    from rustserini_spark.operators.similarity import (
        build_ivf_index,
        ivf_ann_topk_indexed,
    )

    timings: dict[str, float] = {}
    rows: dict[str, int] = {}

    def timed(name, fn):
        t0 = time.perf_counter()
        out = fn()
        timings[name] = round(time.perf_counter() - t0, 3)
        if isinstance(out, int):
            rows[name] = out
        return out

    # 1. index build (the reference's lucene_indexer analog), forced to
    #    materialize every posting block
    index = timed(
        "index_build_porter",
        lambda: build_index(spark, docs, analyzer="porter").materialize(),
    )

    # 2. query paths over the built index
    timed("bm25_pruned_topk", lambda: bm25_search_pruned(index, queries_df, k=10).count())
    timed("bm25_exhaustive_topk", lambda: bm25_search(index, queries_df, k=10).count())
    index.postings.unpersist()
    index.dictionary.unpersist()

    # 2b. disk-opened lifecycle: open the prebuilt checkpointed index +
    #     search it; the batch is under the driver route's pair cut, so the
    #     matched blocks are fetched from the parquet files and scored on the
    #     driver
    timed(
        "bm25_pruned_disk",
        lambda: bm25_search_pruned(load_index(spark, ckpt_dir), queries_df, k=10).count(),
    )

    # 2c. IVF lifecycle, split: train + cell-partitioned write once (fresh dir
    #     every rep), then probe the materialized index alone
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    dim = entry_mod._emb_dim(sf_dir)
    ivf_dir = tempfile.mkdtemp(prefix="bench_ivf_")
    try:
        ivf = timed(
            "ivf_build",
            lambda: build_ivf_index(emb, dim=dim, base_dir=ivf_dir, n_centroids=IVF_N_CENTROIDS),
        )
        embq = emb.filter(F.col("vec_id") < entry_mod.EMB_QUERY_MAX_ID)
        timed(
            "ivf_probe",
            lambda: ivf_ann_topk_indexed(spark, ivf, embq, k=10, n_probe=IVF_N_PROBE).count(),
        )
    finally:
        shutil.rmtree(ivf_dir, ignore_errors=True)

    # 3. curation / dedup / similarity / encode operators from the entry contract
    q = entry_mod.queries()
    for name in BENCH_QUERIES:
        timed(name, lambda name=name: q[name](spark, sf_dir).count())
    return timings, rows


def measure(spark, sf_dir: str, n_reps: int) -> dict:
    """``n_reps`` passes of ``run_suite`` over ``sf_dir`` in one session.

    Returns the per-rep wall seconds ("reps"), the output rows of the last
    rep ("rows"), the RDDs still persisted after each rep ("cached_rdds",
    expected 0; they are unpersisted so no rep reads another rep's cache)
    and the corpus size ("n_docs")."""
    import __spark_entry__ as entry_mod
    from rustserini_spark.operators.index_build import build_index_checkpointed

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_docs = docs.count()
    queries_df = entry_mod._queries_df(spark)

    # one untimed checkpointed build per session: bm25_pruned_disk times the
    # OPEN+SEARCH lifecycle, not the build (which index_build_porter covers)
    ckpt_dir = tempfile.mkdtemp(prefix="bench_ckpt_")
    build_index_checkpointed(spark, docs, ckpt_dir, input_id=sf_dir, analyzer="porter")

    reps = []
    leaked_after_rep = []
    for _ in range(n_reps):
        timings, rows = run_suite(spark, docs, queries_df, entry_mod, ckpt_dir, sf_dir)
        reps.append(timings)
        # cache audit: nothing may stay persisted across reps. Remediation
        # unpersists the ACTUAL leaked RDD entries — catalog.clearCache()
        # only evicts SQL-catalog-cached plans and would leave RDD-level
        # persists/localCheckpoints (the very things the audit counts) alive
        # into the next rep.
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        leaked_after_rep.append(int(jmap.size()))
        if jmap.size():
            for k in jmap.keySet().toArray():
                jmap.get(k).unpersist(False)
            spark.catalog.clearCache()
    shutil.rmtree(ckpt_dir, ignore_errors=True)
    return {"reps": reps, "rows": rows, "cached_rdds": leaked_after_rep, "n_docs": n_docs}


def main() -> None:
    from rustserini_spark import get_spark

    spark = get_spark("bench", master=f"local[{CPUS}]", shuffle_partitions=int(CPUS))
    run = measure(spark, SF_DIR, REPS)
    reps, n_docs = run["reps"], run["n_docs"]

    timings = {k: min(r[k] for r in reps) for k in reps[0]}
    extra: dict = {
        "index_docs_per_sec": round(n_docs / timings["index_build_porter"], 1),
        "cached_rdds_after_rep": run["cached_rdds"],
    }
    if REPS > 1:
        # Raw per-rep timings go to a SIDE FILE, not the headline line: round 3
        # inlined them and the 3 full per-query dicts pushed the single JSON
        # line past the driver's tail-capture window ("parsed": null — a bench
        # the driver can't read is a bench that didn't happen).
        reps_path = os.path.join(REPO, "BENCH", "bench_reps.json")
        os.makedirs(os.path.dirname(reps_path), exist_ok=True)
        with open(reps_path, "w") as f:
            json.dump({"reps_raw": reps}, f, indent=1)
        extra["reps_raw_file"] = "BENCH/bench_reps.json"

    total = round(sum(timings.values()), 3)
    sf = SF_DIR.rstrip("/").split("sf")[-1]
    print(
        json.dumps(
            {
                "metric": "e2e_wall_seconds",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                "extra": extra,
                "n_docs": n_docs,
                "cpus": int(CPUS),
                "protocol": {
                    "reps": REPS,
                    "aggregation": "min-per-query across reps (fresh index per rep)",
                    "host_note": "shared-hypervisor VM; throughput swings ~2x with neighbor load",
                },
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
