"""Composed curation pipeline: each stage does its job on a corpus with
known planted defects, keepers are the smallest ids, and the entry-contract
result matches its DuckDB oracle value-exactly."""

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from rustserini_spark.operators.curation import curate_corpus
from rustserini_spark.operators.dedup import _simhash64_batch
from rustserini_spark.session import local_rows_df

GOOD = (
    "the quick brown fox jumps over the lazy dog while people work with good "
    "time and new ideas about life the world and other things we know"
)
OTHER = (
    "people think that work and time with new friends can make life "
    "good because we see the world change in many ways every day"
)
THIRD = (
    "the small river runs past the old mill and the children walk along it "
    "to school in the morning when the sun is low"
)


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (0, GOOD),                                   # survives
        (1, GOOD),                                   # exact dup of 0 -> dropped
        (2, " ".join(reversed(GOOD.split()))),       # permuted bag -> SimHash dup of 0
        (3, "too short to pass"),                    # < min_tokens
        (4, "der hund und die katze sind nicht mit dem mann in das haus "
            "gegangen aber sie waren auch nicht auf der strasse oder im garten"),  # de
        (5, "spam spam spam spam spam spam spam spam spam spam spam spam "
            "spam spam spam spam"),                  # distinct_ratio too low
        (6, OTHER),                                  # survives
    ]
    return local_rows_df(spark, rows, "doc_id long, text string")


def test_each_stage_filters_its_planted_defect(spark, corpus):
    got = {r.doc_id: r for r in curate_corpus(corpus).collect()}
    assert sorted(got) == [0, 6]
    assert all(r.lang_pred == "en" for r in got.values())
    assert got[0].n_tokens >= 15 and got[0].distinct_ratio >= 0.35


def test_keeper_is_min_id_even_when_planted_first(spark, corpus):
    # renumber so the EXACT dup has the smaller id (10 < 20) and the permuted
    # SimHash dup the largest (30): the exact stage must keep 10 over 20, and
    # the SimHash stage must then keep 10 over 30 — min-id keeper at both
    # stages regardless of planting order
    flipped = corpus.withColumn(
        "doc_id",
        F.when(F.col("doc_id") == 0, F.lit(20))
        .when(F.col("doc_id") == 1, F.lit(10))
        .when(F.col("doc_id") == 2, F.lit(30))
        .otherwise(F.col("doc_id")),
    )
    ids = sorted(r.doc_id for r in curate_corpus(flipped).collect())
    assert ids == [6, 10]


def test_decontaminate_drops_exactly_the_planted_leak(spark):
    from rustserini_spark.operators.curation import ngram_decontaminate

    docs = local_rows_df(
        spark,
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),   # source of the leak
            (2, "totally unrelated words about different things here"),
            (3, "prefix words then alpha beta gamma delta epsilon zeta suffix"),  # shares 6-gram
            (4, "alpha beta gamma but the run stops early here now"),  # only a 3-gram: kept
        ],
        "doc_id long, text string",
    )
    bench = local_rows_df(
        spark, [("alpha beta gamma delta epsilon zeta",)], "text string"
    )
    kept = sorted(r.doc_id for r in ngram_decontaminate(docs, bench, n=6).collect())
    assert kept == [2, 4]


def test_training_mix_is_deterministic_and_stratified(spark):
    from rustserini_spark.operators.curation import training_mix_sample

    docs = local_rows_df(
        spark,
        [(i, "en" if i % 2 else "de") for i in range(400)],
        "doc_id long, lang_pred string",
    )
    a = sorted(r.doc_id for r in training_mix_sample(docs, {"en": 0.5, "de": 1.0}).collect())
    b = sorted(r.doc_id for r in training_mix_sample(docs, {"en": 0.5, "de": 1.0}).collect())
    assert a == b  # pure function of (salt, stratum, id)
    de = [i for i in a if i % 2 == 0]
    en = [i for i in a if i % 2 == 1]
    assert len(de) == 200  # rate 1.0 keeps every de doc
    assert 60 <= len(en) <= 140  # rate 0.5 keeps ~half of 200
    # resampling-stable: a doc's decision never depends on the other docs
    half = docs.filter(F.col("doc_id") < 200)
    a_half = sorted(
        r.doc_id for r in training_mix_sample(half, {"en": 0.5, "de": 1.0}).collect()
    )
    assert a_half == [i for i in a if i < 200]
    # strata absent from rates are dropped
    assert training_mix_sample(docs, {"fr": 1.0}).count() == 0


def test_repetition_features_score_planted_spam(spark):
    from rustserini_spark.operators.curation import repetition_features

    docs = local_rows_df(
        spark,
        [
            (1, "spam spam spam spam spam spam spam spam"),  # one 2-gram, 7 copies
            (2, "every token here is fully distinct wording"),  # no repeats
            (3, "ab cd ab cd ab cd ef"),  # "ab cd" x3, "cd ab" x2
            (4, "x"),  # shorter than any n: all zeros
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in repetition_features(docs).collect()}
    # doc 1: 8 tokens, "spam spam" occurs 7x -> top2 = 2*7/8, dup2 identical
    assert got[1].top2_frac == 1.75 and got[1].dup2_frac == 1.75
    assert got[1].top3_frac == 2.25  # "spam spam spam" x6 -> 3*6/8
    # doc 2: every shingle unique -> top = n/ntoks, dup = 0
    assert got[2].dup2_frac == 0.0 and got[2].dup3_frac == 0.0
    assert got[2].top2_frac == round(2 / 7, 4)
    # doc 3: 7 tokens; "ab cd" x3, "cd ab" x2 -> top2 = 6/7, dup2 = 2*(3+2)/7
    assert got[3].top2_frac == round(6 / 7, 4) and got[3].dup2_frac == round(10 / 7, 4)
    assert got[4].top2_frac == 0.0 and got[4].dup3_frac == 0.0


def test_entry_repetition_matches_duckdb_oracle(spark, sf_dir):
    import __spark_entry__ as e

    got = (
        e.q_repetition(spark, sf_dir)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'")
    want = (
        con.sql(e.oracle_sql()["repetition_quality"])
        .df()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    assert list(got.columns) == list(want.columns)
    assert len(got) == len(want) > 0
    assert (got["dup2_frac"] > 0).any()  # non-vacuous on the synthetic corpus
    for c in got.columns:
        assert got[c].tolist() == want[c].tolist(), c


def test_entry_decontaminate_and_mix_match_duckdb_oracle(spark, sf_dir):
    import __spark_entry__ as e

    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'")
    n_docs = con.sql("SELECT count(*) FROM documents").fetchone()[0]

    got = sorted(r.doc_id for r in e.q_decontaminate(spark, sf_dir).collect())
    want = sorted(r[0] for r in con.sql(e.oracle_sql()["decontaminate"]).fetchall())
    assert got == want and 0 < len(got) < n_docs  # the planted leak is dropped

    got = sorted(map(tuple, e.q_training_mix(spark, sf_dir).collect()))
    want = sorted(map(tuple, con.sql(e.oracle_sql()["training_mix"]).fetchall()))
    assert got == want and 0 < len(got) < n_docs


def test_entry_curation_matches_duckdb_oracle(spark, sf_dir):
    """Value-exact parity of the full entry-contract pipeline (planted dups
    included) against its DuckDB oracle — the same gate the driver runs."""
    import __spark_entry__ as e

    got = (
        e.q_curation_pipeline(spark, sf_dir)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'")
    want = con.sql(e._curation_sql()).df().sort_values("doc_id").reset_index(drop=True)
    assert list(got.columns) == list(want.columns)
    assert len(got) == len(want) > 0
    for c in got.columns:
        assert got[c].tolist() == want[c].tolist(), c


def test_pii_scrub_redacts_planted_spans(spark):
    from rustserini_spark.operators.curation import pii_scrub

    docs = local_rows_df(
        spark,
        [
            (1, "mail bob.smith+x@corp.example.com now"),
            (2, "server at 192.168.10.7 and 8.8.8.8 up"),
            (3, "call +1 555-010-4242 today"),
            (4, "plain text with no contact info at all"),
            (5, "mix a@b.io then 10.0.0.1 then +44 20 7946 0958 end"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in pii_scrub(docs).collect()}
    assert got[1].text == "mail <EMAIL> now"
    assert (got[1].n_email, got[1].n_ipv4, got[1].n_phone) == (1, 0, 0)
    assert got[2].text == "server at <IPV4> and <IPV4> up"
    assert got[2].n_ipv4 == 2
    assert got[3].text == "call <PHONE> today" and got[3].n_phone == 1
    assert got[4].text == "plain text with no contact info at all"
    assert (got[4].n_email, got[4].n_ipv4, got[4].n_phone) == (0, 0, 0)
    assert got[5].text == "mix <EMAIL> then <IPV4> then <PHONE> end"
    assert (got[5].n_email, got[5].n_ipv4, got[5].n_phone) == (1, 1, 1)


def test_remove_frequent_lines_drops_corpus_boilerplate(spark):
    from rustserini_spark.operators.curation import remove_frequent_lines

    banner = "subscribe to our newsletter"
    docs = local_rows_df(
        spark,
        [
            (1, f"{banner}\nunique content one\nmore content one"),
            (2, f"{banner}\nunique content two"),
            (3, f"unique content three\n{banner}"),
            (4, banner),  # all boilerplate -> empty text, row preserved
            (5, "fully original document"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.text for r in remove_frequent_lines(docs, min_df=3).collect()}
    assert got[1] == "unique content one\nmore content one"  # order preserved
    assert got[2] == "unique content two"
    assert got[3] == "unique content three"
    assert got[4] == ""
    assert got[5] == "fully original document"
    assert len(got) == 5


def test_source_stats_and_filter_on_planted_sources(spark):
    from rustserini_spark.operators.curation import (
        filter_by_source_stats,
        source_stats,
    )

    docs = local_rows_df(
        spark,
        [
            (1, "good", "the quick brown fox jumps over the lazy dog daily"),
            (2, "good", "people work with new ideas about life and the world"),
            (3, "dupfarm", "buy cheap pills now"),
            (4, "dupfarm", "buy cheap pills now"),
            (5, "dupfarm", "buy cheap pills now"),
            (6, "dupfarm", "one original page"),
            (7, "tiny", "x y"),
        ],
        "doc_id long, source string, text string",
    )
    stats = {r.source: r for r in source_stats(docs).collect()}
    assert stats["good"].n_docs == 2 and stats["good"].dup_rate == 0.0
    assert stats["good"].mean_tokens == 10.0  # (10 + 10) / 2 exact
    assert stats["dupfarm"].dup_rate == 0.5  # 4 docs, 2 distinct texts
    assert stats["tiny"].mean_tokens == 2.0
    # 'good' stopwords (Lucene list): the x3 + with + and = 5 of 20 tokens
    assert stats["good"].stopword_ratio == 0.25

    kept = filter_by_source_stats(docs, max_dup_rate=0.4, min_mean_tokens=3.0)
    assert sorted(r.doc_id for r in kept.collect()) == [1, 2]


def test_entry_webtext_curation_ops_match_duckdb_oracle(spark, sf_dir):
    """pii_scrub / boilerplate_lines / source_stats / source_filter entries
    vs their DuckDB oracles — value-exact, and each non-vacuous (something
    was actually redacted / dropped / filtered)."""
    import __spark_entry__ as e

    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'")
    n_docs = con.sql("SELECT count(*) FROM documents").fetchone()[0]

    for key, fn in (
        ("pii_scrub", e.q_pii_scrub),
        ("boilerplate_lines", e.q_boilerplate_lines),
        ("source_stats", e.q_source_stats),
        ("source_filter", e.q_source_filter),
    ):
        got = fn(spark, sf_dir).toPandas()
        want = con.sql(e.oracle_sql()[key]).df()
        got = got.sort_values(list(got.columns)).reset_index(drop=True)
        want = want.sort_values(list(want.columns)).reset_index(drop=True)
        assert list(got.columns) == list(want.columns), key
        assert len(got) == len(want) > 0, key
        for c in got.columns:
            assert got[c].tolist() == want[c].tolist(), f"{key}.{c}"

    # non-vacuity
    pii = e.q_pii_scrub(spark, sf_dir).toPandas()
    assert (pii["n_email"] > 0).all() and (pii["n_phone"] > 0).any()
    assert pii["text"].str.contains("<EMAIL>").all()
    boiler = {r.doc_id: r.text for r in e.q_boilerplate_lines(spark, sf_dir).collect()}
    assert all("subscribe to updates" not in t for t in boiler.values())
    assert all("this site uses cookies" not in t for t in boiler.values())
    n_kept = e.q_source_filter(spark, sf_dir).count()
    assert 0 < n_kept < n_docs


def test_duplicated_id_keeps_per_row_window_semantics(spark):
    """The keepers are the oracle's two QUALIFY clauses, row for row: a
    row survives when its id is the minimum of its md5 partition and then
    of its SimHash partition. Id 20 holds two texts: OTHER, where it is the
    minimum, and a token-reversed GOOD (same SimHash as id 10's GOOD,
    different md5), where it is not — only the first row stays (a keeper
    semi-joined on the id alone kept both). Id 5 holds THIRD twice: both
    rows are their partitions' minimum, so both stay."""
    rows = [
        (10, GOOD),
        (20, OTHER),
        (20, " ".join(reversed(GOOD.split()))),
        (5, THIRD),
        (5, THIRD),
        (7, THIRD),
    ]
    docs = local_rows_df(spark, rows, "doc_id long, text string")
    got = sorted((r.doc_id, r.n_chars) for r in curate_corpus(docs).collect())

    table = pd.DataFrame(rows, columns=["doc_id", "text"])
    table["simhash"] = _simhash64_batch(table["text"].tolist())
    con = duckdb.connect()
    con.register("t", table)
    want = sorted(
        (d, len(text))
        for d, text in con.sql(
            "SELECT doc_id, text FROM ("
            "  SELECT * FROM t QUALIFY doc_id = min(doc_id) OVER (PARTITION BY md5(text))"
            ") QUALIFY doc_id = min(doc_id) OVER (PARTITION BY simhash)"
        ).fetchall()
    )
    assert got == want == sorted([(10, len(GOOD)), (20, len(OTHER)), (5, len(THIRD)), (5, len(THIRD))])
