"""Text-analysis column functions for large-scale corpus curation.

All functions here are pure Catalyst expressions (whole-stage codegen, zero
Python) over the SQL-parity tokenizer, so each has an exact DuckDB oracle in
__spark_entry__.oracle_sql(). They extend the reference's corpus-prep surface
(sanitize S5, concat A2 — /root/reference/examples/faiss_embedding_writer.rs:80-82)
with the curation ops a 100 TB training-data pipeline needs: token counting,
quality scoring, language ID, and document fingerprinting.

Every feature function takes a *tokens array column* (produce it once with
``with_tokens``): materializing the token array in one projection keeps the
regex tokenizer from being re-evaluated per consuming expression — at corpus
scale that difference is O(tokens) vs O(tokens^2) regex work per document.

The tokenizer, feature, language-ID and shingle builders take column NAMES
and build each output column from SQL text with one ``F.expr``: one py4j
call per column, whatever the length of the stopword or marker lists, where
the Column API spent a few round trips per operator and per listed word.
Names are backtick-quoted and literals quoted with ``session._sql_string``;
the expressions, types, nullability and output names are the ones the
Column API built. ``token_counts`` and ``fingerprint_col`` take names too;
only ``sanitize_col`` and ``bpe_ish_tokens_col``, which act on raw text,
also accept a Column.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from rustserini_spark.analysis import LUCENE_ENGLISH_STOPWORDS
from rustserini_spark.analysis.analyzer import simple_tokens_col
from rustserini_spark.functions.parity import sql_r4
from rustserini_spark.session import _sql_ident, _sql_string

# language marker words for the n-gram/stopword-heuristic language id
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is", "in", "that", "it", "was", "for"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "eine", "mit", "werden"),
    "fr": ("le", "la", "les", "et", "est", "une", "des", "dans", "pour", "que"),
    "es": ("el", "los", "las", "es", "un", "una", "para", "por", "con", "del"),
}
_LANG_ORDER = ("en", "de", "fr", "es")

_STOP_SORTED = tuple(sorted(LUCENE_ENGLISH_STOPWORDS))


def with_tokens(df: DataFrame, text_col: str = "text", out_col: str = "toks") -> DataFrame:
    """Materialize the SQL-parity token array once for downstream functions."""
    return df.withColumn(out_col, simple_tokens_col(text_col))


def sanitize_col(text: Column | str) -> Column:
    """Reference S5: strip double quotes and backslashes
    (/root/reference/examples/faiss_embedding_writer.rs:80-82). Byte-identity
    with sanitize_str (and the reference's sanitize_string) is tested."""
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_replace(c, '["\\\\]', "")


def sanitize_str(s: str) -> str:
    """Driver/Arrow-side twin of sanitize_col — the reference's exact
    sanitize_string: s.replace('"', '').replace('\\\\', '')."""
    return s.replace('"', "").replace("\\", "")


def _count_in_sql(tokens: str, words) -> str:
    """SQL text: how many elements of the array column ``tokens`` are in
    ``words``."""
    listed = ", ".join(map(_sql_string, words))
    return f"size(filter({_sql_ident(tokens)}, t -> t IN ({listed})))"


def _count_in(tokens: str, words) -> Column:
    return F.expr(_count_in_sql(tokens, words))


# BPE-ish pre-tokenizer pieces (GPT-2-style word/number/punct split with
# common English contraction suffixes, WITHOUT lookaheads so the same pattern
# runs identically under Java regex (Spark) and RE2 (DuckDB oracle)). Token
# counts from this split approximate subword-tokenizer budget accounting far
# better than whitespace counts on web text. Whitespace is an EXPLICIT char
# class, not \s: Java's \s includes \x0b (vertical tab) while RE2's does not,
# so \s would let the two engines disagree on VT-containing text.
WS_CLASS = r" \t\n\x0B\f\r"
BPE_ISH_PATTERN = rf"'(?:s|t|re|ve|m|ll|d)|[a-z]+|[0-9]+|[^a-z0-9{WS_CLASS}]+"


def bpe_ish_tokens_col(text: Column | str) -> Column:
    """Piece array under the BPE-ish pre-tokenizer (lowercased)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_extract_all(F.lower(c), F.lit(BPE_ISH_PATTERN), F.lit(0))


def token_counts(text_col: str = "text", tokens: str = "toks") -> list[Column]:
    """whitespace-word, simple-token and BPE-ish piece counts per doc — the
    token-budget accounting columns of a training-data pipeline."""
    c = F.col(text_col)
    ws = F.size(F.filter(F.split(c, rf"[{WS_CLASS}]+"), lambda t: t != ""))
    return [
        ws.cast("long").alias("n_ws_tokens"),
        F.size(F.col(tokens)).cast("long").alias("n_simple_tokens"),
        F.size(bpe_ish_tokens_col(text_col)).cast("long").alias("n_bpe_ish_tokens"),
    ]


def quality_features(text_col: str = "text", tokens: str = "toks") -> list[Column]:
    """n_chars, n_tokens, avg_token_len, stopword_ratio, distinct_ratio —
    the length/stopword-ratio quality heuristics used to filter web corpora."""
    toks = _sql_ident(tokens)

    def ratio(num: str) -> str:
        return sql_r4(f"CASE WHEN size({toks}) > 0 THEN {num} / CAST(size({toks}) AS DOUBLE) ELSE 0.0D END")

    return [
        F.expr(f"length({_sql_ident(text_col)}) AS n_chars"),
        F.expr(f"size({toks}) AS n_tokens"),
        F.expr(f"{ratio(f'aggregate({toks}, 0, (acc, t) -> acc + length(t))')} AS avg_token_len"),
        F.expr(f"{ratio(_count_in_sql(tokens, _STOP_SORTED))} AS stopword_ratio"),
        F.expr(f"{ratio(f'size(array_distinct({toks}))')} AS distinct_ratio"),
    ]


def lang_id_col(tokens: str = "toks") -> Column:
    """Marker-word-count argmax over {en,de,fr,es}; 'und' when no marker hits.
    Ties resolve in fixed order en > de > fr > es (same CASE shape as the SQL
    oracle, so predictions match bit-for-bit)."""
    counts = {lang: _count_in_sql(tokens, LANG_MARKERS[lang]) for lang in _LANG_ORDER}
    expr = "'und'"
    # build CASE from last to first so earlier langs win ties
    for i in range(len(_LANG_ORDER) - 1, -1, -1):
        lang = _LANG_ORDER[i]
        cond = f"{counts[lang]} > 0"
        # parenthesized left-deep, as the Column API's `&` chain built it
        # (the SQL parser balances a bare AND chain)
        for other in _LANG_ORDER[i + 1 :]:
            cond = f"({cond}) AND {counts[lang]} >= {counts[other]}"
        expr = f"CASE WHEN {cond} THEN {_sql_string(lang)} ELSE {expr} END"
    return F.expr(expr)


def fingerprint_col(tokens: str = "toks") -> Column:
    """Normalized-content fingerprint: md5 over the space-joined token stream.
    Whitespace/punctuation/case changes do not alter it; any token change does."""
    return F.md5(F.concat_ws(" ", F.col(tokens)))


def shingles_col(tokens: str = "toks", n: int = 3) -> Column:
    """n-gram (word shingle) array from a materialized token column; empty when
    the document has fewer than n tokens."""
    toks = _sql_ident(tokens)
    parts = ", ".join(f"element_at({toks}, i + {j})" for j in range(n))
    return F.expr(
        f"CASE WHEN size({toks}) >= {n} "
        f"THEN transform(sequence(1, size({toks}) - {n - 1}), i -> concat_ws(' ', {parts})) "
        "ELSE CAST(array() AS ARRAY<STRING>) END"
    )
