"""The benchmark workloads. Each is a closed loop with one client
thread calling the engine's public functions; every call's output is checked
outside the timed region.

A workload object is driven by ``run.py``: ``setup()`` once, ``measure()``
once for the warm-up units and once per measured phase, ``check()`` after
the phases, then ``report_units()`` per phase. Each timed unit appends one
entry to ``self.units``:
``{"wall_s", "rss_mb", "records", "ok", ...}`` where ``records`` are the
tracer's per-call records of that unit.
"""

from __future__ import annotations

import os
import sys
import time
import traceback

import numpy as np
import pyarrow as pa
from pyspark.sql import functions as F

import gen
import replay
from probes import log, tree_bytes
from stats import median, tail_percentile

WEBTEXT_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"
DOCUMENTS_SCHEMA = "doc_id long, text string, lang string, source string"
WEBTEXT_ARROW = pa.schema(
    [("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")), ("html", pa.binary()),
     ("text", pa.string()), ("lang", pa.string())]
)
DOCUMENTS_ARROW = pa.schema(
    [("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()), ("source", pa.string())]
)

SERVE_DOCS = 6_000
# Docid buckets of the serve index: one cached partition per core of a 4-core
# box. The engine's own policy never goes below 64, and at 6,000 docs 64
# partitions make every call 64 Python tasks, which measures the host's
# per-task cost rather than the search (see README.md).
SERVE_ID_BUCKETS = 4
PREBUILDS = 3  # serve set-up builds the index this many times; the median counts
CURATE_DOCS = 1_000
INPUT_FILES = 4  # parquet files per generated table: the scan has 4 partitions
BATCH_QUERIES = 256
SINGLES_PER_BATCH = 2
TOP_K = 10
SCORE_TOL = 1e-9
CHECK_SINGLES = 3  # one-query calls compared with exhaustive scoring per run
CHECK_BATCH_QUERIES = 32  # queries of one sampled batch compared likewise
PROBE_DOCS = 400
MIN_UNITS = 2  # per measured phase; one pass is too few for a steady median


def _persisted(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


class Workload:
    name = ""
    n_docs = 0
    # checked but unmeasured units between set-up and the first phase, at
    # least ``warmup_units`` of them and for at least ``warmup_s``: the first
    # calls of the measured path run cold (the first one-query call took
    # twice the median)
    warmup_units = 0
    warmup_s = 0.0

    def __init__(self, spark, tracer, rss, seed: int, work: str, tmp_root: str):
        self.spark = spark
        self.tracer = tracer
        self.rss = rss
        self.seed = seed
        self.work = work
        self.tmp_root = tmp_root
        self.vocab = gen.cached_vocab()
        self.units: list[dict] = []
        self.errors: list[str] = []
        self.gen_s = 0.0
        self.fingerprint = ""
        self.prebuild_s = 0.0
        self.layer: dict[str, float] = {}

    # ------------------------------------------------------------ inputs --

    def _generate(self, name: str, batch_fn, arrow_schema, schema: str):
        """Write the seeded table from this process and return it as Spark
        reads it."""
        path = os.path.join(self.work, name)
        t0 = time.perf_counter()
        self.fingerprint = gen.write_parquet(path, self.n_docs, batch_fn, arrow_schema, INPUT_FILES)
        self.gen_s = time.perf_counter() - t0
        log(f"generated {self.n_docs} rows in {self.gen_s:.2f}s ({self.fingerprint})")
        return self.spark.read.schema(schema).parquet(path)

    def fail(self, unit: dict, why: str) -> None:
        unit["ok"] = False
        self.errors.append(why)
        log(f"check failed: {why}")

    def run_unit(self, kind: str, body) -> dict:
        """Run one timed unit; an exception is a failed unit, not a crash.
        The unit's ``rss_mb`` is the process tree's peak RSS during it."""
        unit = {"kind": kind, "ok": True, "records": []}
        n0 = len(self.tracer.records)
        self.rss.reset()
        t0 = time.perf_counter()
        try:
            body(unit)
        except Exception as e:  # the loop must keep running to report
            traceback.print_exc(file=sys.stderr)
            self.fail(unit, f"{kind} raised {type(e).__name__}: {e}")
        unit["wall_s"] = time.perf_counter() - t0
        unit["rss_mb"] = self.rss.peak_mb
        unit["jvm_rss_mb"] = self.rss.peak_jvm_mb
        unit["records"] = self.tracer.records[n0:]
        self.units.append(unit)
        log(f"{kind} {unit['wall_s']:.3f}s ok={unit['ok']}")
        return unit

    def measure(self, seconds: float, min_units: int = MIN_UNITS) -> list[dict]:
        """One measured phase; returns the units it ran."""
        n0 = len(self.units)
        self.loop(seconds, min_units)
        return self.units[n0:]

    def primary(self, units: list[dict]) -> list[dict]:
        """The units whose latency is the workload's call latency."""
        return units

    def setup_s(self, start_s: float) -> float:
        return start_s + self.gen_s + self.prebuild_s

    def sample_texts(self) -> list[str]:
        raise NotImplementedError


def index_stats(index) -> dict:
    """Counts over the built index's public frames."""
    r = index.postings.agg(
        F.count(F.lit(1)).alias("blocks"),
        F.sum("n_docs").alias("postings"),
        F.sum(F.length("postings_bin")).alias("bytes"),
    ).collect()[0]
    return {
        "blocks": int(r["blocks"]),
        "postings": int(r["postings"]),
        "bytes": int(r["bytes"]),
        "terms": int(index.dictionary.count()),
    }


# =================================================================== serve ==


class Serve(Workload):
    """Read-heavy: one seeded webtext table is built into an index PREBUILDS
    times during set-up (the median build is the workload's prebuild); the
    timed loop is a fixed interleave of one-query calls and 256-query
    batches against the last build."""

    name = "serve"
    n_docs = SERVE_DOCS
    warmup_units = 2  # a single and a batch
    # one-query calls kept getting faster for about 6 s after set-up (0.43 s
    # down to 0.32 s), and how far a 10 s phase got down that slope varied
    # from run to run by more than the calls within a run did
    warmup_s = 6.0

    def setup(self) -> None:
        from rustserini_spark.operators.webtext import index_webtext

        webtext = self._generate(
            "webtext", lambda o: gen.webtext_batch(self.seed, o, self.vocab), WEBTEXT_ARROW, WEBTEXT_SCHEMA
        )
        expected = gen.webtext_english_count(self.seed, self.n_docs)
        builds = []
        for i in range(PREBUILDS):
            if i:  # drop the previous build, or Spark's cache would serve the next
                self.wi.index.postings.unpersist()
                self.wi.index.dictionary.unpersist()
            timings: dict = {}
            t0 = time.perf_counter()
            self.wi = index_webtext(self.spark, webtext, n_id_buckets=SERVE_ID_BUCKETS, timings=timings)
            self.wi.index.materialize(timings=timings)
            builds.append((time.perf_counter() - t0, timings))
            log(f"index build {builds[-1][0]:.2f}s {timings}")
            if i == 0:
                self.baseline_rdds = _persisted(self.spark)
            elif _persisted(self.spark) != self.baseline_rdds:
                self.errors.append("persisted RDD count grew between index builds")
        self.prebuild_s = median([w for w, _ in builds])
        if self.wi.index.n_docs != expected:
            self.errors.append(f"index holds {self.wi.index.n_docs} docs, expected {expected}")
        st = index_stats(self.wi.index)
        self.doc0 = self._passage0_doc()
        self.build_docs_per_s = expected / self.prebuild_s
        for key in ("bucket_counts", "encode", "postings_count", "dictionary_agg"):
            self.layer[f"index_build.{key}_s"] = median([t[f"{key}_sec"] for _, t in builds])
        for key in ("postings", "blocks", "terms"):
            self.layer[f"index_build.{key}"] = st[key]
        self.layer["bits_per_posting"] = 8 * st["bytes"] / st["postings"]
        self.queries = QueryStream(self.seed, self.vocab)

    def _passage0_doc(self) -> int | None:
        """Doc id of fixed passage 0: the one doc holding every term that
        passage 0 has and the other fixed passages lack (read from the
        index's postings, so no docmap job is needed)."""
        from rustserini_spark.analysis import analyze_text
        from rustserini_spark.operators.compress import decode_blocks_batch

        others = set().union(*(analyze_text(p) for p in gen.FIXED_PASSAGES[1:]))
        terms = sorted(set(analyze_text(gen.FIXED_PASSAGES[0])) - others)
        rows = (
            self.wi.index.postings.filter(F.col("term").isin(terms))
            .select("term", "n_docs", "postings_bin")
            .collect()
        )
        docs: dict[str, set] = {t: set() for t in terms}
        for r in rows:
            ids = decode_blocks_batch([r["postings_bin"]], np.array([r["n_docs"]]))[0]
            docs[r["term"]].update(int(d) for d in ids)
        common = set.intersection(*docs.values())
        if len(common) != 1:
            self.errors.append(f"passage 0 terms {terms} share docs {sorted(common)[:5]}")
            return None
        return common.pop()

    def _search(self, unit: dict, pairs: list) -> list:
        from rustserini_spark.operators.search import bm25_search_pruned

        t0 = time.perf_counter()
        df = bm25_search_pruned(self.wi.index, pairs, k=TOP_K)
        t1 = time.perf_counter()
        rows = df.collect()
        unit["call_s"] = t1 - t0
        unit["collect_s"] = time.perf_counter() - t1
        return rows

    def loop(self, seconds: float, min_units: int) -> None:
        """Calls in the order single, batch, then SINGLES_PER_BATCH singles
        per batch, until ``seconds`` have passed and at least ``min_units``
        calls ran."""
        t_end = time.perf_counter() + seconds
        i = 0
        while True:
            kind = "batch" if i % (SINGLES_PER_BATCH + 1) == 1 else "single"
            pairs = self.queries.take(BATCH_QUERIES if kind == "batch" else 1)

            def body(unit):
                with self.tracer.call(kind):
                    unit["rows"] = self._search(unit, pairs)

            unit = self.run_unit(kind, body)
            unit["pairs"] = pairs
            if unit.get("rows") is not None:
                self.check_shape(unit, pairs, unit["rows"])
                if self.tracer.enabled and kind == "single":
                    self.trace_search(unit, pairs)
            if _persisted(self.spark) != self.baseline_rdds:
                self.fail(unit, "persisted RDD count changed during a search call")
            i += 1
            if i >= min_units and time.perf_counter() >= t_end:
                break

    def trace_search(self, unit: dict, pairs: list) -> None:
        from rustserini_spark.operators.search import query_terms_local

        qt_rows, terms = query_terms_local(pairs, self.wi.index.analyzer)
        unit["query_terms"] = len(qt_rows)
        unit["matched_blocks"] = (
            self.wi.index.postings.filter(F.col("term").isin(terms)).count() if terms else 0
        )

    def check_shape(self, unit: dict, pairs: list, rows: list) -> None:
        by_q: dict[str, list] = {}
        for r in rows:
            by_q.setdefault(r["qid"], []).append(r)
        if not set(by_q) <= {q for q, _ in pairs}:
            self.fail(unit, "results for unknown query ids")
        for qid, query in pairs:
            rs = sorted(by_q.get(qid, []), key=lambda r: r["rank"])
            if [r["rank"] for r in rs] != list(range(1, len(rs) + 1)) or len(rs) > TOP_K:
                self.fail(unit, f"query {qid}: ranks are not 1..n with n <= {TOP_K}")
            if any(a["score"] < b["score"] for a, b in zip(rs, rs[1:])):
                self.fail(unit, f"query {qid}: scores not descending")
            if query == gen.MANHATTAN_QUERY and (not rs or rs[0]["doc_id"] != self.doc0):
                self.fail(unit, f"Manhattan query ranks {rs[:1]} first, not fixed passage 0")

    def check(self) -> None:
        """A seeded sample of calls (CHECK_SINGLES one-query calls and
        CHECK_BATCH_QUERIES queries of one batch) is compared with exhaustive
        BM25 scoring of the same queries over the index's decoded postings:
        ranks identical up to ties within SCORE_TOL. The engine's own
        exhaustive ``bm25_search`` would cost about 10 s per check on a
        4-core box."""
        done = [u for u in self.units if u.get("rows") is not None]
        rng = np.random.default_rng((self.seed, 7))
        singles = [u for u in done if u["kind"] == "single"]
        batches = [u for u in done if u["kind"] == "batch"]
        sample = [(singles[j], singles[j]["pairs"]) for j in rng.permutation(len(singles))[:CHECK_SINGLES]]
        if batches:
            u = batches[int(rng.integers(len(batches)))]
            picked = sorted(rng.permutation(len(u["pairs"]))[:CHECK_BATCH_QUERIES])
            sample.append((u, [u["pairs"][j] for j in picked]))
        pairs = [p for _, ps in sample for p in ps]
        if not pairs:
            return
        want = exhaustive_topk(self.wi.index, pairs, TOP_K)
        for u, ps in sample:
            for qid, _ in ps:
                got = sorted((r["rank"], r["doc_id"], r["score"]) for r in u["rows"] if r["qid"] == qid)
                why = compare_topk(got, want[qid])
                if why:
                    self.fail(u, f"query {qid}: pruned vs exhaustive: {why}")

    def sample_texts(self) -> list[str]:
        rng = np.random.default_rng((self.seed, 99))
        ords = rng.choice(self.n_docs, size=min(PROBE_DOCS, self.n_docs), replace=False)
        return [gen.webtext_text(self.seed, int(i), self.vocab) for i in ords]

    def primary(self, units: list[dict]) -> list[dict]:
        return [u for u in units if u["kind"] == "single"]

    def report_units(self, units: list[dict]) -> dict:
        singles = [u for u in self.primary(units) if u["ok"]]
        batches = [u for u in units if u["ok"] and u["kind"] == "batch"]
        walls = [u["wall_s"] for u in singles]
        qps = BATCH_QUERIES / median([u["wall_s"] for u in batches]) if batches else None
        if singles:
            self.layer["search.call_s"] = median([u["call_s"] for u in singles])
            self.layer["search.collect_s"] = median([u["collect_s"] for u in singles])
        if singles and "query_terms" in singles[0]:
            self.layer["search.query_terms"] = median([u["query_terms"] for u in singles])
            self.layer["search.matched_blocks"] = median([u["matched_blocks"] for u in singles])
        tail = tail_percentile(walls) if walls else None
        return {
            "calls": walls,
            "items_per_s": qps,
            "named": {
                "build_docs_per_s": self.build_docs_per_s,
                "bits_per_posting": self.layer["bits_per_posting"],
                "query_p50_ms": 1e3 * median(walls) if walls else None,
                "query_tail_ms": 1e3 * tail["value"] if tail else None,
                "query_tail_pct": tail["pct"] if tail else None,
                "singles": len(walls),
                "batches": len(batches),
                "batch_qps": qps,
            },
        }


def exhaustive_topk(index, pairs: list, k: int) -> dict[str, list]:
    """Top-k (rank, doc_id, score) per query by scoring every posting of
    every query term: Lucene BM25 with the index's k1, b, doc count and
    average length, ties broken by ascending doc id."""
    from collections import Counter

    from rustserini_spark.analysis import analyze_text
    from rustserini_spark.operators.compress import decode_blocks_batch

    qtf = {qid: Counter(analyze_text(q)) for qid, q in pairs}
    terms = sorted(set().union(*qtf.values()))
    rows = (
        index.postings.filter(F.col("term").isin(terms)).select("term", "n_docs", "postings_bin").collect()
        if terms
        else []
    )
    docs, tfs, dls, blk = decode_blocks_batch(
        [r["postings_bin"] for r in rows], np.array([r["n_docs"] for r in rows], dtype=np.int64)
    )
    term_of = np.array([r["term"] for r in rows], dtype=object)[blk] if rows else np.array([], dtype=object)
    k1, b, n, avgdl = index.k1, index.b, index.n_docs, index.avgdl or 1.0
    impact: dict[str, tuple] = {}
    for t in terms:
        m = term_of == t
        df = int(m.sum())
        idf = np.log(1.0 + (n - df + 0.5) / (df + 0.5))
        tf = tfs[m].astype(np.float64)
        impact[t] = (docs[m], idf * tf / (tf + k1 * (1.0 - b + b * dls[m] / avgdl)))
    out = {}
    for qid, c in qtf.items():
        scores: dict[int, float] = {}
        for t, w in c.items():
            for d, s in zip(*impact.get(t, ((), ()))):
                scores[int(d)] = scores.get(int(d), 0.0) + w * float(s)
        top = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
        out[qid] = [(i + 1, d, s) for i, (d, s) in enumerate(top)]
    return out


def compare_topk(got: list, want: list, tol: float = SCORE_TOL) -> str:
    """'' when two (rank, doc_id, score) lists agree: same length, scores
    within ``tol`` rank by rank, and doc ids identical except inside a run
    of scores tied within ``tol`` (such a run may order its docs either
    way, and a run cut by the k boundary may hold different docs)."""
    if len(got) != len(want):
        return f"{len(got)} results vs {len(want)}"
    for (_, _, sg), (_, _, sw) in zip(got, want):
        if abs(sg - sw) > tol:
            return f"score {sg!r} vs {sw!r}"
    i = 0
    while i < len(got):
        j = i + 1
        while j < len(got) and abs(got[j][2] - got[i][2]) <= tol:
            j += 1
        a = {d for _, d, _ in got[i:j]}
        b = {d for _, d, _ in want[i:j]}
        if j < len(got) and a != b:
            return f"ranks {i + 1}-{j}: docs {sorted(a)} vs {sorted(b)}"
        i = j
    return ""


class QueryStream:
    """Seeded queries: 2-5 terms, each a head term (content ranks 1-200) or
    a tail term (ranks 2,000+) with equal odds, one in ten with an
    out-of-vocabulary term, and the first and every 16th after it the canonical Manhattan query."""

    def __init__(self, seed: int, vocab):
        self.rng = np.random.default_rng((seed, 11))
        self.words = vocab.words
        self.n_head = vocab.n_head
        self.n = 0

    def one(self) -> str:
        self.n += 1
        if self.n % 16 == 1:
            return gen.MANHATTAN_QUERY
        r = self.rng
        terms = []
        for _ in range(int(r.integers(2, 6))):
            if r.random() < 0.5:
                terms.append(self.words[self.n_head + int(r.integers(0, 200))])
            else:
                terms.append(self.words[int(r.integers(2000, len(self.words)))])
        if r.random() < 0.1:
            terms.append(f"zzq{int(r.integers(0, 10**6))}")
        return " ".join(terms)

    def take(self, n: int) -> list[tuple[str, str]]:
        return [(f"q{self.n + 1}", self.one()) for _ in range(n)]


# ================================================================== curate ==


class Curate(Workload):
    """Dedup and curation: each unit is one pass over curate_corpus,
    minhash_lsh_pairs and simhash_neardup_pairs."""

    name = "curate"
    n_docs = CURATE_DOCS
    # none: set-up's cold pass is the warm-up. A second, unmeasured pass took
    # 5-13 s of every run, and the time limit for all runs could not spare it.

    def setup(self) -> None:
        import __spark_entry__ as entry

        self.entry = entry
        self.docs = self._generate(
            "documents",
            lambda o: gen.curate_batch(self.seed, o, self.n_docs, self.vocab),
            DOCUMENTS_ARROW,
            DOCUMENTS_SCHEMA,
        )
        self.baseline_rdds = _persisted(self.spark)
        t0 = time.perf_counter()
        self._pass()  # warm-up pass, part of set-up
        self.prebuild_s = time.perf_counter() - t0
        log("warm-up " + " ".join(f"{r['name']} {r['wall_s']:.2f}s" for r in self.tracer.records))

    def _pass(self) -> dict:
        from rustserini_spark.operators.curation import curate_corpus
        from rustserini_spark.operators.dedup import minhash_lsh_pairs, simhash_neardup_pairs

        e, docs = self.entry, self.docs
        out = {}
        calls = (
            ("curate_corpus", lambda: curate_corpus(
                docs,
                langs=e.CURATION_LANGS,
                min_tokens=e.CURATION_MIN_TOKENS,
                max_stopword_ratio=e.CURATION_MAX_STOPWORD_RATIO,
                min_distinct_ratio=e.CURATION_MIN_DISTINCT_RATIO,
            ).select("doc_id")),
            ("minhash_lsh_pairs", lambda: minhash_lsh_pairs(docs)),
            ("simhash_neardup_pairs", lambda: simhash_neardup_pairs(
                docs, max_hamming=e.SIMHASH_MAX_HAMMING)),
        )
        for name, call in calls:
            before = tree_bytes(self.tmp_root)[1]
            with self.tracer.call(name) as rec:
                out[name] = call().collect()
            rec["tmp_dirs"] = tree_bytes(self.tmp_root)[1] - before
        return out

    def loop(self, seconds: float, min_units: int) -> None:
        """Passes until ``seconds`` have passed, and at least ``min_units``."""
        t_end = time.perf_counter() + seconds
        n = 0
        while True:
            bytes0 = tree_bytes(self.tmp_root)[0]

            def body(unit):
                unit["out"] = self._pass()

            unit = self.run_unit("pass", body)
            unit["tmp_bytes"] = tree_bytes(self.tmp_root)[0] - bytes0
            if _persisted(self.spark) != self.baseline_rdds:
                self.fail(unit, "persisted RDDs left after a curation pass")
            n += 1
            if n >= min_units and time.perf_counter() >= t_end:
                break

    def check(self) -> None:
        """Every pass against driver-side replays of the same calls, plus
        the planted content the curation stages must remove."""
        e = self.entry
        docs = [
            (int(r["doc_id"]), r["text"])
            for r in self.docs.select("doc_id", "text").collect()
        ]
        fps = replay.simhashes(docs)
        survivors = replay.curate_survivors(
            docs,
            fps,
            e.CURATION_LANGS,
            e.CURATION_MIN_TOKENS,
            e.CURATION_MAX_STOPWORD_RATIO,
            e.CURATION_MIN_DISTINCT_RATIO,
        )
        mh = replay.minhash_pairs(docs)
        sh = replay.simhash_pairs(fps, e.SIMHASH_MAX_HAMMING)
        removed = {
            kind: {gen.CURATE_ID_BASE + i for i in range(self.n_docs) if gen.curate_kind(i) == kind}
            for kind, _, _, stage, _ in gen.CURATE_LAYOUT
            if stage is not None
        }
        for unit in self.units:
            out = unit.get("out")
            if out is None:
                continue
            got = {int(r["doc_id"]) for r in out["curate_corpus"]}
            if got != survivors:
                self.fail(unit, f"curate_corpus: {len(got ^ survivors)} ids differ from the replay")
            for kind, ids in removed.items():
                if got & ids:
                    self.fail(unit, f"curate_corpus kept {len(got & ids)} planted {kind} docs")
            if {(int(r["doc_a"]), int(r["doc_b"])) for r in out["minhash_lsh_pairs"]} != mh:
                self.fail(unit, "minhash_lsh_pairs differs from the replay")
            if {
                (int(r["doc_a"]), int(r["doc_b"]), int(r["hamming"]))
                for r in out["simhash_neardup_pairs"]
            } != sh:
                self.fail(unit, "simhash_neardup_pairs differs from the replay")
        self.layer["curation.survivors"] = len(survivors)
        self.layer["dedup.minhash_pairs"] = len(mh)
        self.layer["dedup.simhash_pairs"] = len(sh)
        self.planted = {
            kind: {"share": (hi - lo) / 100, "removed_by": stage, "why": why}
            for kind, lo, hi, stage, why in gen.CURATE_LAYOUT
        }

    def sample_texts(self) -> list[str]:
        rng = np.random.default_rng((self.seed, 99))
        ords = rng.choice(self.n_docs, size=min(PROBE_DOCS, self.n_docs), replace=False)
        return [gen.curate_doc(self.seed, int(i), self.n_docs, self.vocab)[0] for i in ords]

    def report_units(self, units: list[dict]) -> dict:
        passes = [u for u in units if u["ok"]]
        walls = [u["wall_s"] for u in passes]
        per_call: dict[str, list] = {}
        for u in passes:
            for r in u["records"]:
                per_call.setdefault(r["name"], []).append(r)
        if passes:
            cur = per_call["curate_corpus"]
            mh, sh = per_call["minhash_lsh_pairs"], per_call["simhash_neardup_pairs"]
            self.layer["curation.curate_corpus_s"] = median([r["wall_s"] for r in cur])
            self.layer["curation.tmp_dirs_left"] = median([r["tmp_dirs"] for r in cur])
            self.layer["dedup.minhash_lsh_pairs_s"] = median([r["wall_s"] for r in mh])
            self.layer["dedup.simhash_neardup_pairs_s"] = median([r["wall_s"] for r in sh])
            self.layer["dedup.tmp_dirs_left"] = median(
                [a["tmp_dirs"] + b["tmp_dirs"] for a, b in zip(mh, sh)]
            )
            self.layer["tmp_bytes_left"] = median([u["tmp_bytes"] for u in passes])
        rate = self.n_docs / median(walls) if walls else None
        return {"calls": walls, "items_per_s": rate, "named": {"passes": len(walls), "curate_docs_per_s": rate}}


WORKLOADS = {w.name: w for w in (Serve, Curate)}
