"""Analyzer (operator A1) tests: golden tokens + Spark/driver parity."""

import pandas as pd

from rustserini_spark.analysis import (
    LUCENE_ENGLISH_STOPWORDS,
    analyze_col,
    analyze_text,
    simple_tokenize_text,
    simple_tokens_col,
)

CANONICAL_QUERY = "did scientific minds lead to the success of the manhattan project"


def test_stop_set_size():
    assert len(LUCENE_ENGLISH_STOPWORDS) == 33


def test_analyze_canonical_query():
    # 'did'/'to'/'the'/'of' handling: only the 33-word Lucene set is removed
    # ('did' is NOT in Lucene's stop set).
    assert analyze_text(CANONICAL_QUERY) == [
        "did", "scientif", "mind", "lead", "success", "manhattan", "project",
    ]


def test_analyze_possessive_and_punct():
    assert analyze_text("The World's FASTEST engines!") == ["world", "fastest", "engin"]


def test_analyze_internal_apostrophes_kept():
    # Lucene StandardTokenizer keeps internal apostrophes (UAX#29); only the
    # trailing possessive 's / ’s is stripped (EnglishPossessiveFilter).
    assert analyze_text("don't panic") == ["don't", "panic"]
    assert analyze_text("the world’s end") == ["world", "end"]
    assert analyze_text("o'neill's house") == ["o'neil", "hous"]


def test_analyze_empty_and_null():
    assert analyze_text("") == []
    assert analyze_text(None) == []
    assert analyze_text("the and of to") == []


def test_simple_tokenizer():
    assert simple_tokenize_text("Hello, WORLD 42!") == ["hello", "world", "42"]
    assert simple_tokenize_text("") == []


def test_analyze_col_matches_driver_side(spark):
    texts = [
        CANONICAL_QUERY,
        "The presence of communication amid scientific minds",
        "plastered walls; conflated hopes -- troubled, sized HOPPING",
        "",
        "the",
    ]
    df = spark.createDataFrame(pd.DataFrame({"text": texts}))
    got = [r.tokens for r in df.select(analyze_col("text").alias("tokens")).collect()]
    assert got == [analyze_text(t) for t in texts]


def test_simple_tokens_col_matches_driver_side(spark, documents):
    rows = documents.select("doc_id", "text").limit(50).collect()
    df = documents.limit(50).select(
        "doc_id", simple_tokens_col("text").alias("tokens")
    )
    got = {r.doc_id: r.tokens for r in df.collect()}
    for r in rows:
        assert got[r.doc_id] == simple_tokenize_text(r.text)


def test_oracle_tokenizer_matches_simple_tokens_on_dotted_capital_i(spark):
    """DuckDB lowercases İ (U+0130) to a plain ``i``; Spark and Python give
    ``i`` + U+0307, a separator. The DuckDB oracles' tokenizer must split
    ``İstanbul`` the way the engine does."""
    import duckdb

    import __spark_entry__ as e

    texts = ["İstanbul", "DİYARBAKIR and İzmir", "Istanbul istanbul"]
    df = spark.createDataFrame(pd.DataFrame({"text": texts}))
    spark_toks = [list(r.tokens) for r in df.select(simple_tokens_col("text").alias("tokens")).collect()]
    con = duckdb.connect()
    oracle_toks = [
        list(con.execute(f"SELECT {e._TOKS} FROM (SELECT $1::VARCHAR AS text)", [t]).fetchone()[0])
        for t in texts
    ]
    assert spark_toks[0] == ["i", "stanbul"]
    assert oracle_toks == spark_toks == [simple_tokenize_text(t) for t in texts]


def test_index_query_analysis_parity():
    # The same function serves both paths, so parity is structural; lock it.
    doc = "Scientific minds led to the success of the Manhattan Project."
    assert analyze_text(doc) == analyze_text(doc)
