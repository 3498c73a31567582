"""Lucene-EnglishAnalyzer-compatible text analysis, Arrow-vectorized.

Pipeline parity target (reference operator A1, SURVEY.md §2.2): the reference
hands analysis to Lucene's EnglishAnalyzer via JNI
(/root/reference/src/searcher/lucene/index.rs:81-83,
/root/reference/src/searcher/lucene/searcher.rs:86-90):

    StandardTokenizer -> EnglishPossessiveFilter -> LowerCase -> StopFilter
    (33-word English set) -> PorterStemFilter

This module implements the same stages natively. ONE shared function serves
both the index build and the query path, guaranteeing index/query analysis
parity (the property Lucene gets by construction).

Two tokenizer modes:
  * "porter"  — the full pipeline above (rank-parity mode; not SQL-expressible,
    gated by the NumPy oracle in oracle/bm25_ref.py).
  * "simple"  — lowercase + split on non-alphanumeric, no stop/stem. This mode
    is expressible in both Spark SQL and DuckDB SQL, so it is what the driver's
    DuckDB oracle checks (__spark_entry__.py oracle_sql()).

All heavy lifting happens per Arrow batch inside a pandas UDF: C-level regex
tokenization plus a batch-local stem memo (unique-token dict), no per-row
Python UDFs (BASELINE.json input_hint).
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType

from rustserini_spark.analysis.porter import porter_stem
from rustserini_spark.analysis.stopwords import LUCENE_ENGLISH_STOPWORDS
from rustserini_spark.session import _sql_ident

# StandardTokenizer approximation: runs of Unicode letters/digits, keeping
# internal apostrophes (UAX#29 Single_Quote/MidNumLet — Lucene indexes "don't"
# as one token WITH the apostrophe); possessive 's / ’s stripped
# afterwards like EnglishPossessiveFilter. maxTokenLength=255 splits longer runs.
_TOKEN_RE = re.compile(r"[^\W_]+(?:['’][^\W_]+)*", re.UNICODE)
_SIMPLE_RE = re.compile(r"[0-9a-z]+")
_MAX_TOKEN_LEN = 255


def analyze_text(text: str) -> list[str]:
    """Full pipeline on one string (driver-side / oracle use)."""
    if text is None:
        return []
    out = []
    for raw in _TOKEN_RE.findall(text.lower()):
        for tok in (
            (raw,) if len(raw) <= _MAX_TOKEN_LEN
            else (raw[i : i + _MAX_TOKEN_LEN] for i in range(0, len(raw), _MAX_TOKEN_LEN))
        ):
            if tok.endswith(("'s", "’s")):
                tok = tok[:-2]
            if not tok or tok in LUCENE_ENGLISH_STOPWORDS:
                continue
            out.append(porter_stem(tok))
    return out


def simple_tokenize_text(text: str) -> list[str]:
    """SQL-parity tokenizer: lowercase, split on non-[a-z0-9], drop empties."""
    if text is None:
        return []
    return _SIMPLE_RE.findall(text.lower())


def _analyze_series(s: pd.Series) -> pd.Series:
    # Batch-local memo: stem each distinct surface form once per Arrow batch
    # (on web text the distinct/total token ratio is tiny, so this keeps the
    # Python-side cost near O(distinct) while regex runs at C speed).
    memo: dict[str, str | None] = {}
    stop = LUCENE_ENGLISH_STOPWORDS
    findall = _TOKEN_RE.findall

    def stem_one(tok: str):
        st = memo.get(tok)
        if st is None and tok not in memo:
            t = tok[:-2] if tok.endswith(("'s", "’s")) else tok
            st = None if (not t or t in stop) else porter_stem(t)
            memo[tok] = st
        return st

    def one(text):
        if text is None:
            return []
        out = []
        for raw in findall(text.lower()):
            if len(raw) <= _MAX_TOKEN_LEN:
                st = stem_one(raw)
                if st is not None:
                    out.append(st)
            else:
                for i in range(0, len(raw), _MAX_TOKEN_LEN):
                    st = stem_one(raw[i : i + _MAX_TOKEN_LEN])
                    if st is not None:
                        out.append(st)
        return out

    return s.map(one)


analyze_udf = F.pandas_udf(_analyze_series, ArrayType(StringType()))

def analyze_col(text: Column | str) -> Column:
    """tokens = analyze(text); Arrow-vectorized, shared by index & query paths."""
    return analyze_udf(F.col(text) if isinstance(text, str) else text)


def simple_tokens_col(text: str) -> Column:
    """SQL-parity tokenizer over the column named ``text``, as a pure Catalyst
    expression (whole-stage codegen, zero Python) built from SQL text in one
    py4j call. DuckDB equivalent (DuckDB's ``lower`` maps İ to a plain i,
    Spark's to i + U+0307, hence the replace):
        list_filter(regexp_split_to_array(lower(replace(text, 'İ', 'i̇')),
                    '[^a-z0-9]+'), t -> t <> '')
    """
    return F.expr(f"filter(split(lower({_sql_ident(text)}), '[^a-z0-9]+'), t -> t != '')")
