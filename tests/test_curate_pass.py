"""The curate pass's driver floor: SQL-text column builders (exact parity
with a pure-Python reference, py4j cost independent of the word lists),
session defaults, a fan-out probe that runs nothing, and curate_corpus's
one-barrier, window-keeper plan."""

import math
import os
import random

import pytest

from pyspark.sql import functions as F

from rustserini_spark.analysis import LUCENE_ENGLISH_STOPWORDS, simple_tokenize_text
from rustserini_spark.functions import text as T
from rustserini_spark.operators.curation import curate_corpus
from rustserini_spark.operators.dedup import _simhash64_batch
from rustserini_spark.session import (
    BARRIER_SUBDIR,
    barrier,
    default_driver_memory,
    fan_out,
    local_rows_df,
)

GiB = 1 << 30


# ------------------------------------------------------------- builders --

def _r4(x: float) -> float:
    return math.floor(x * 10000 + 0.5) / 10000


def _lang(toks: list[str]) -> str:
    c = {lang: sum(t in T.LANG_MARKERS[lang] for t in toks) for lang in T._LANG_ORDER}
    for i, lang in enumerate(T._LANG_ORDER):
        if c[lang] > 0 and all(c[lang] >= c[o] for o in T._LANG_ORDER[i + 1 :]):
            return lang
    return "und"


def _reference(text):
    """Pure-Python twin of with_tokens + lang_id_col + quality_features +
    shingles_col(3, 10). A null text has a null token array, so its counts
    are null and its ratios and shingles take the ELSE branch."""
    if text is None:
        return dict(toks=None, lang_pred="und", n_chars=None, n_tokens=None,
                    avg_token_len=0.0, stopword_ratio=0.0, distinct_ratio=0.0,
                    sh3=[], sh10=[])
    toks = simple_tokenize_text(text)
    n = len(toks)

    def ratio(num):
        return _r4(num / n) if n > 0 else 0.0

    def shingles(k):
        return [" ".join(toks[i : i + k]) for i in range(n - k + 1)] if n >= k else []

    return dict(
        toks=toks,
        lang_pred=_lang(toks),
        n_chars=len(text),
        n_tokens=n,
        avg_token_len=ratio(sum(map(len, toks))),
        stopword_ratio=ratio(sum(t in LUCENE_ENGLISH_STOPWORDS for t in toks)),
        distinct_ratio=ratio(len(set(toks))),
        sh3=shingles(3),
        sh10=shingles(10),
    )


def _adversarial_texts():
    rng = random.Random(7)
    vocab = ["the", "and", "der", "und", "le", "la", "el", "es", "of", "is",
             "cat", "dog", "haus", "chat", "perro", "x9", "42"]
    return [
        None,
        "",
        "   \t\n\x0b ",
        "!!! ... ??? --- ;;; '' \"\"",
        "Straße",
        "İstanbul is the city and it was big",
        "x" * 300 + " the end of the token",
        " ".join(rng.choice(vocab) for _ in range(10_000)),
        "The cat and the dog, the end.",
        "der Hund und die Katze ist nicht da",
        "le chat et la souris dans la maison pour que",
        "el perro y los gatos para por con del",
        "the der",             # en ties de: en wins
        "und das le la",       # de ties fr: de wins
        "le el",               # fr ties es: fr wins
        "It's the dog's bone—don't O'Reilly 3.14 ÀÉÎ",
    ]


def test_sql_text_builders_match_python_reference(spark):
    texts = _adversarial_texts()
    docs = local_rows_df(spark, list(enumerate(texts)), "doc_id long, text string")
    out = T.with_tokens(docs).select(
        "doc_id",
        "toks",
        T.lang_id_col("toks").alias("lang_pred"),
        *T.quality_features("text", "toks"),
        T.shingles_col("toks", 3).alias("sh3"),
        T.shingles_col("toks", 10).alias("sh10"),
    )
    got = {r.doc_id: r.asDict() for r in out.collect()}
    assert len(got) == len(texts)
    for i, text in enumerate(texts):
        want = _reference(text)
        row = got[i]
        for k, v in want.items():
            assert row[k] == v, (i, k, repr(text)[:60], row[k] if k[:2] != "sh" else "...")
    types = {f.name: f.dataType.simpleString() for f in out.schema.fields}
    assert types == {
        "doc_id": "bigint", "toks": "array<string>", "lang_pred": "string",
        "n_chars": "int", "n_tokens": "int", "avg_token_len": "double",
        "stopword_ratio": "double", "distinct_ratio": "double",
        "sh3": "array<string>", "sh10": "array<string>",
    }


def test_builder_round_trips_do_not_grow_with_word_lists(spark, py4j_round_trips, monkeypatch):
    """One F.expr per output column: 20x longer marker lists and a 20x
    longer stopword list cost the same py4j round trips."""
    docs = spark.range(2).selectExpr("id AS doc_id", "CAST(id AS STRING) AS text")

    def build():
        T.with_tokens(docs).select(T.lang_id_col("toks"), *T.quality_features("text", "toks"))

    short = py4j_round_trips.of(build)
    monkeypatch.setattr(
        T, "LANG_MARKERS", {k: v + tuple(f"{w}{i}" for i in range(19) for w in v)
                            for k, v in T.LANG_MARKERS.items()}
    )
    monkeypatch.setattr(T, "_STOP_SORTED", T._STOP_SORTED + tuple(f"s{i}" for i in range(627)))
    long = py4j_round_trips.of(build)
    assert long - short <= 5, (short, long)


# ------------------------------------------------------------- session --

def test_default_driver_memory_fits_the_host():
    assert default_driver_memory(128 * GiB) == "48g"
    assert default_driver_memory(512 * GiB) == "48g"
    assert default_driver_memory(15 * GiB + 700 * (1 << 20)) == "7g"
    assert default_driver_memory(3 * GiB) == "1g"
    assert default_driver_memory(256 << 20) == "1g"
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert int(default_driver_memory()[:-1]) <= max(1, total // GiB)


def test_session_heap_and_call_site_capture(spark):
    """The heap is the env override or the derived default, and call-site
    capture is off."""
    want = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory()
    assert spark.sparkContext.getConf().get("spark.driver.memory") == want
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"


def test_fan_out_probe_runs_no_job(spark, jobs_in_group):
    """A grouped input already ends in a shuffle: fan_out returns it as it
    is and runs nothing (probing it through df.rdd ran its shuffle stage
    under AQE). An exchange-free input is probed from its plan, also
    without a job, and fanned out."""
    grouped = spark.range(0, 100, numPartitions=2).groupBy((F.col("id") % 3).alias("k")).count()
    out = {}
    assert jobs_in_group("fan-out-grouped", lambda: out.update(g=fan_out(grouped))) == 0
    assert out["g"] is grouped
    narrow = spark.range(0, 100, numPartitions=1).selectExpr("id", "id * 2 AS v")
    assert jobs_in_group("fan-out-narrow", lambda: out.update(n=fan_out(narrow))) == 0
    assert out["n"].rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    assert fan_out(out["n"]) is out["n"]



@pytest.fixture(scope="module")
def one_part_scans(spark):
    """Two one-partition parquet scans: 200 docs and 20 of their ids."""
    docs = barrier(
        spark.range(0, 200, numPartitions=1).selectExpr("id AS doc_id", "CAST(id AS STRING) AS text"),
        "fan_out_docs",
    )
    ids = barrier(spark.range(0, 20, numPartitions=1).withColumnRenamed("id", "doc_id"), "fan_out_ids")
    return docs, ids


@pytest.mark.parametrize(
    "shape, build, fanned",
    [
        # AQE wraps a broadcast semi-join, yet its output keeps the
        # partition count of the streamed side's one-partition scan
        ("broadcast-semi-join", lambda docs, ids: docs.join(ids, "doc_id", "left_semi"), True),
        ("union", lambda docs, ids: docs.select("doc_id").union(ids), True),
        ("root-limit", lambda docs, ids: docs.limit(50), True),
        ("after-shuffle", lambda docs, ids: docs.repartition(2).selectExpr("doc_id"), False),
        ("wide-scan", lambda docs, ids: docs.sparkSession.range(0, 100, numPartitions=16), False),
    ],
)
def test_fan_out_probe_reads_the_plan(spark, jobs_in_group, one_part_scans, shape, build, fanned):
    """fan_out finds the partition count of each shape's last stage from its
    physical plan, without a job: below a broadcast join, across a union,
    at a root limit; it leaves a frame that reads a shuffle, or a scan with
    enough partitions, as it is."""
    df = build(*one_part_scans)
    out = {}
    assert jobs_in_group(f"fan-out-{shape}", lambda: out.update(d=fan_out(df))) == 0
    assert (out["d"] is not df) == fanned
    if fanned:
        assert out["d"].rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
        assert sorted(out["d"].collect()) == sorted(df.collect())


# ------------------------------------------------------- curate_corpus --

BASE = "the quick brown fox jumps over the lazy dog while the researchers measure overlap"


def test_curate_corpus_plan_round_trips(spark, py4j_round_trips):
    """Building curate_corpus's plan (its barrier write included) stays
    under a pinned py4j bound; with call-site capture on and Column-API
    builders it took ~2,000."""
    rows = [(i, f"{BASE} in corpus {i % 5} with tail words number {i % 3}") for i in range(40)]
    docs = local_rows_df(spark, rows, "doc_id long, text string")
    n = py4j_round_trips.of(lambda: curate_corpus(docs))
    assert n <= 600, n


def test_curate_corpus_runs_four_jobs_and_one_barrier(spark, jobs_in_group):
    rows = [(i, f"{BASE} in corpus {i % 5} with tail words number {i % 3}") for i in range(40)]
    docs = local_rows_df(spark, rows, "doc_id long, text string")
    assert docs.rdd.getNumPartitions() >= spark.sparkContext.defaultParallelism
    root = os.path.join(
        spark.sparkContext._jvm.org.apache.spark.SparkFiles.getRootDirectory(), BARRIER_SUBDIR
    )
    before = set(os.listdir(root)) if os.path.isdir(root) else set()
    out = {}
    jobs = jobs_in_group("curate-jobs", lambda: out.update(rows=curate_corpus(docs).collect()))
    new = sorted(set(os.listdir(root)) - before)
    assert jobs <= 4, jobs
    assert [name.rsplit("-", 1)[0] for name in new] == ["curate_kept"], new
    # 15 distinct texts (ids 0-14 are their keepers), then min id per SimHash
    fps = dict(zip(range(15), _simhash64_batch([t for _, t in rows[:15]])))
    want = sorted({min(d for d in fps if fps[d] == fp) for fp in fps.values()})
    assert sorted(r.doc_id for r in out["rows"]) == want
