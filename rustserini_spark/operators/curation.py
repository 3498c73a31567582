"""Composed corpus-curation pipeline — the end-to-end shape of a
training-data cleaning job over web text, built ONLY from stages that each
carry their own exact DuckDB oracle (language ID, quality heuristics, exact
dedup, SimHash near-dup dedup), so the composition is oracle-checkable
end to end.

The reference has no curation surface (single-purpose IR engine,
/root/reference/src/lib.rs); this is a first-class addition a 100 TB
pretraining pipeline runs over the same corpus before indexing.

100 TB plan shape — ONE pass over the corpus, ONE barrier, two keeper
windows over the barrier:

1. per-document pass: language ID + quality features as pure Catalyst
   column expressions in ONE projection over the scan (no shuffle,
   whole-stage codegen), the quality filter, then md5(text) and the 64-bit
   bag-of-words SimHash (one Arrow pass through dedup.with_simhash, one md5
   per distinct token per batch) appended to the surviving rows. The pass
   writes ONE narrow barrier: ids, features and the two fixed-width keys,
   no text.
2. exact dedup: keep a row when id = min(id) OVER (PARTITION BY md5(text)).
3. near-dup dedup: of those, keep a row when id = min(id) OVER (PARTITION
   BY simhash). Permuting a document's words does not change its
   fingerprint, so copy-paste reorderings collapse; for Hamming-tolerant
   matching compose with dedup.simhash_neardup_pairs instead.

The two keepers are the oracle's two ``QUALIFY doc_id = min(doc_id) OVER
(PARTITION BY ...)`` clauses, row for row: a window keeps every row whose id
equals its partition's minimum, so an id held by several rows is judged in
each row's own partition. Each window shuffles the survivor-sized barrier
once, keyed on a fixed-width value regardless of document size (see
``curate_corpus`` for the skew this trades); nothing is ever all-pairs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from rustserini_spark.functions.parity import r4
from rustserini_spark.session import _sql_ident, barrier, fan_out, filter_unpushed
from rustserini_spark.functions.text import (
    _STOP_SORTED,
    _count_in,
    lang_id_col,
    quality_features,
    with_tokens,
)
from rustserini_spark.operators.dedup import require_integral_id, with_simhash

QUALITY_COLS = (
    "n_chars",
    "n_tokens",
    "avg_token_len",
    "stopword_ratio",
    "distinct_ratio",
)


def curate_corpus(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    langs: tuple[str, ...] = ("en",),
    min_tokens: int = 15,
    max_stopword_ratio: float = 0.5,
    min_distinct_ratio: float = 0.35,
) -> DataFrame:
    """Surviving documents of the lang -> quality -> exact-dedup ->
    near-dup-dedup pipeline, with their curation features:
    (id, lang_pred, n_chars, n_tokens, avg_token_len, stopword_ratio,
    distinct_ratio). Keeper of every duplicate group is the smallest id.

    Plan: one pass computes the features, filters, and appends md5(text)
    and the SimHash; its rows land in ONE narrow barrier (no text column);
    the exact and near-dup keepers are ``id = min(id) OVER (PARTITION BY
    _text_hash)`` and ``... (PARTITION BY simhash)`` filters over the
    barrier, the same shape as the oracle's two ``QUALIFY`` clauses, so a
    duplicated id is kept wherever it is its partition's minimum.

    Skew trade-off: a window has no map-side combine, so every copy of one
    text (or of one SimHash value) shuffles into one task and is sorted
    there — a page copied a million times sends a million narrow rows (no
    text) to one task. Pre-aggregating ``min(id)`` per key in a groupBy
    (map-side combined) and joining back on (key, id) keeps the same
    per-row semantics; it is the change to make where such skew shows.

    The ratio thresholds compare the SAME r4-rounded values the
    ``text_quality`` oracle checks, so the survivor set is engine-exact."""
    # fail BEFORE the pass burns a corpus scan: the SimHash stage carries
    # ids as int64 and a string id would silently become NULL there (see
    # require_integral_id)
    require_integral_id(docs, id_col, "curate_corpus")
    feat = with_tokens(fan_out(docs.select(id_col, text_col)), text_col).select(
        F.col(id_col),
        F.col(text_col),
        lang_id_col("toks").alias("lang_pred"),
        *quality_features(text_col, "toks"),
    )
    # filter_unpushed: the quality filter references four computed columns,
    # and Catalyst's pushdown would substitute the full tokenize+feature
    # tree per reference below the projection — the pushed form put the
    # tokenizer 15 times in the optimized plan (test_plans.py pins it to
    # once) and re-tokenized every row ~5x (5.1s vs 1.1s at 50k docs).
    kept = filter_unpushed(
        feat,
        F.col("lang_pred").isin(list(langs))
        & (F.col("n_tokens") >= min_tokens)
        & (F.col("stopword_ratio") <= max_stopword_ratio)
        & (F.col("distinct_ratio") >= min_distinct_ratio),
    )
    # the whole per-document pass ends in ONE barrier of narrow rows: both
    # keeper windows read fixed-width keys, so the text never crosses a
    # shuffle, and the Arrow SimHash pass runs once per survivor.
    kept = barrier(
        with_simhash(kept.withColumn("_text_hash", F.md5(F.col(text_col))), text_col),
        "curate_kept",
    )
    ident = _sql_ident(id_col)
    for key in ("_text_hash", "simhash"):
        kept = kept.withColumn(
            "_keeper", F.expr(f"min({ident}) OVER (PARTITION BY {key})")
        ).filter(F.expr(f"{ident} = _keeper"))
    return kept.select(id_col, "lang_pred", *QUALITY_COLS)


def token_shingles(toks, n: int):
    """Array of n-token shingles (space-joined) of a token-array column;
    empty array when the document has fewer than n tokens. Pure Catalyst —
    no UDF, stays inside whole-stage codegen."""
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - n + 1),
            lambda i: F.array_join(F.slice(toks, i, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))


def ngram_contaminated_ids(
    docs: DataFrame,
    bench: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str = "text",
) -> DataFrame:
    """doc ids sharing at least one n-token shingle with a benchmark/eval
    set — the detection half of test-set DECONTAMINATION, the step every
    pretraining pipeline runs so eval benchmarks don't leak into training
    data (the reference has no curation surface; first-class addition).

    100 TB plan shape: eval sets are tiny (1e3-1e6 shingles), so the distinct
    bench shingle set BROADCASTS; the corpus side explodes to shingles but is
    consumed by a map-side broadcast semi-join — the corpus is never
    shuffled. Only MATCHED doc ids (bounded by the corpus's contamination
    rate, typically <<1%) reach the distinct's exchange."""
    doc_sh = with_tokens(fan_out(docs.select(id_col, text_col)), text_col).select(
        id_col, F.explode(token_shingles(F.col("toks"), n)).alias("shingle")
    )
    bench_sh = (
        with_tokens(bench.select(bench_text_col), bench_text_col)
        .select(F.explode(token_shingles(F.col("toks"), n)).alias("shingle"))
        .distinct()
    )
    return (
        doc_sh.join(F.broadcast(bench_sh), "shingle", "left_semi")
        .select(id_col)
        .distinct()
    )


def ngram_decontaminate(
    docs: DataFrame,
    bench: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str = "text",
) -> DataFrame:
    """docs minus every document contaminated by the benchmark set (shares
    an n-token shingle). The contaminated-id table is tiny next to the
    corpus, so the anti-join broadcasts under AQE at any corpus size."""
    bad = ngram_contaminated_ids(docs, bench, n, text_col, id_col, bench_text_col)
    return docs.join(bad.select(F.col(id_col)), [id_col], "left_anti")


def _rep_stats(shingles: Column) -> Column:
    """struct(maxrun, dup) over a shingle array: maxrun = occurrence count of
    the most frequent shingle, dup = total occurrences of shingles appearing
    more than once. Computed as a run-length pass over the SORTED array — one
    Catalyst ``aggregate`` per row, O(k log k), no explode, no shuffle."""
    zero = F.lit(0).cast("long")
    acc0 = F.struct(
        F.lit("").alias("prev"),
        zero.alias("run"),
        zero.alias("maxrun"),
        zero.alias("dup"),
    )

    def step(acc, x):
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1).cast("long"))
        dup = F.when(x == acc["prev"], acc["dup"]).otherwise(
            acc["dup"] + F.when(acc["run"] > 1, acc["run"]).otherwise(zero)
        )
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.greatest(acc["maxrun"], run).alias("maxrun"),
            dup.alias("dup"),
        )

    def fin(acc):
        dup = acc["dup"] + F.when(acc["run"] > 1, acc["run"]).otherwise(zero)
        return F.struct(acc["maxrun"].alias("maxrun"), dup.alias("dup"))

    return F.aggregate(F.array_sort(shingles), acc0, step, fin)


def repetition_features(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ns: tuple[int, ...] = (2, 3),
) -> DataFrame:
    """Gopher-style repetition quality signals (Rae et al. 2021, "Scaling
    Language Models", table A1 repetition filters — public): per document and
    per n, the fraction of tokens covered by the single most frequent n-token
    shingle (``top{n}_frac``) and by all shingles occurring more than once
    (``dup{n}_frac``). Shingles overlap, so dup fractions can exceed 1.0 on
    degenerate spam — callers threshold, they don't normalize. Docs shorter
    than n tokens score 0.0. Fractions are r4-rounded for oracle parity.

    100 TB plan shape: the whole computation is a per-row expression
    (sorted-shingle run-length aggregate) in the SAME map-only projection as
    the other quality features — no explode, no shuffle, no Python; a
    corpus-scale scan emits exactly one row per doc."""
    out = with_tokens(docs.select(id_col, text_col), text_col)
    cols = [F.col(id_col)]
    ntoks = F.greatest(F.size("toks"), F.lit(1))
    for n in ns:
        stats = _rep_stats(token_shingles(F.col("toks"), n))
        cols.append(r4(F.lit(float(n)) * stats["maxrun"] / ntoks).alias(f"top{n}_frac"))
        cols.append(r4(F.lit(float(n)) * stats["dup"] / ntoks).alias(f"dup{n}_frac"))
    return out.select(*cols)


# PII scrub rules: (name, pattern, replacement), applied IN ORDER. Patterns
# deliberately avoid lookarounds, backreferences and \s (Java's \s includes
# \x0b, RE2's does not) so the same pattern string runs identically under
# Java regex (Spark executors) and RE2 (the DuckDB oracle).
PII_RULES: tuple[tuple[str, str, str], ...] = (
    ("email", r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IPV4>"),
    ("phone", r"\+?\d[\d\- ]{7,14}\d", "<PHONE>"),
)


def pii_scrub(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    rules: tuple[tuple[str, str, str], ...] = PII_RULES,
) -> DataFrame:
    """Redact PII spans (emails, IPv4 addresses, phone-shaped numbers) from a
    text column and report per-document match counts — the scrubbing step a
    web-corpus pipeline runs before training-data release.

    Rules apply sequentially; ``n_<name>`` counts rule matches on the text
    AFTER all earlier rules were applied, so digits inside an
    already-redacted email are never double-counted as a phone number, and
    the counts are exactly the substitutions performed. Replacement tokens
    contain no digits, so later rules cannot match inside them.

    100 TB plan shape: one map-only projection — a chain of
    ``regexp_count``/``regexp_replace`` expressions inside whole-stage
    codegen. No shuffle, no Python, no UDF; scales linearly with the scan."""
    cur = F.col(text_col)
    counts = []
    for name, pat, repl in rules:
        counts.append(F.regexp_count(cur, F.lit(pat)).cast("long").alias(f"n_{name}"))
        cur = F.regexp_replace(cur, pat, repl)
    return docs.select(F.col(id_col), cur.alias(text_col), *counts)


def remove_frequent_lines(
    docs: DataFrame,
    min_df: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n",
) -> DataFrame:
    """C4-style corpus-level boilerplate removal (Raffel et al. 2020, §2.2 —
    public): drop EVERY occurrence of any line that appears at least
    ``min_df`` times across the whole corpus ("subscribe to our newsletter",
    cookie banners, nav text), then reassemble each document from its
    surviving lines in original order. Documents whose every line is
    boilerplate come back with empty text (callers drop them downstream).
    ``sep`` must be a plain literal (it is used both to split and re-join).

    100 TB plan shape: explode lines once; one hash aggregation on the line
    value (map-side combined — a million-fold repeated banner collapses to
    one row per map task) produces the frequent-line table, which is tiny
    relative to the corpus and broadcasts under AQE; the anti-join then
    consumes the exploded side map-side. The rebuild is one groupBy(id) of
    the SURVIVING lines. No sort, no all-pairs, nothing quadratic."""
    lines = docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), sep, -1)).alias("pos", "line"),
    )
    freq = (
        lines.groupBy("line")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") >= min_df)
        .select("line")
    )
    rebuilt = (
        lines.join(freq, "line", "left_anti")
        .groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "line"))),
                    lambda s: s["line"],
                ),
                sep,
            ).alias(text_col)
        )
    )
    return (
        docs.select(id_col)
        .join(rebuilt, [id_col], "left")
        .select(F.col(id_col), F.coalesce(F.col(text_col), F.lit("")).alias(text_col))
    )


def source_stats(
    docs: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Per-source (domain/host) quality profile — n_docs, exact-dup rate,
    mean token count, corpus stopword ratio — the aggregation behind
    RefinedWeb/C4-style DOMAIN-level filtering, where whole low-quality
    sources are dropped rather than scoring every page in isolation.

    Every mean derives from INTEGER per-doc sums (token counts, stopword
    hits, distinct-text counts), so float summation order cannot perturb the
    result: the values are bit-identical across Spark partitionings and the
    DuckDB oracle. One groupBy(source) with map-side combine; countDistinct
    adds the only extra exchange, keyed on (source, md5) — fixed-width
    regardless of document size."""
    feat = with_tokens(fan_out(docs.select(source_col, text_col)), text_col).select(
        source_col,
        F.md5(F.col(text_col)).alias("_h"),
        F.size("toks").cast("long").alias("_nt"),
        _count_in("toks", _STOP_SORTED).cast("long").alias("_ns"),
    )
    agg = feat.groupBy(source_col).agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("_h").alias("_ndist"),
        F.sum("_nt").alias("_snt"),
        F.sum("_ns").alias("_sns"),
    )
    return agg.select(
        F.col(source_col),
        F.col("n_docs").cast("long").alias("n_docs"),
        r4((F.col("n_docs") - F.col("_ndist")) / F.col("n_docs")).alias("dup_rate"),
        r4(F.col("_snt") / F.col("n_docs")).alias("mean_tokens"),
        r4(
            F.when(F.col("_snt") > 0, F.col("_sns") / F.col("_snt")).otherwise(
                F.lit(0.0)
            )
        ).alias("stopword_ratio"),
    )


def filter_by_source_stats(
    docs: DataFrame,
    max_dup_rate: float = 1.0,
    min_mean_tokens: float = 0.0,
    max_stopword_ratio: float = 1.0,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Documents surviving source-level filtering: every doc from a source
    whose aggregate profile passes ALL thresholds (compared on the same
    r4-rounded values ``source_stats`` reports, so the survivor set is
    engine-exact). The good-source table is one row per source — tiny next
    to the corpus — so the semi-join broadcasts under AQE at any corpus
    size; left unforced because host-level tables at full web scale can
    exceed the broadcast budget, and the shuffle fallback keys on the same
    column the stats aggregation already produced."""
    good = (
        source_stats(docs, text_col, source_col)
        .filter(
            (F.col("dup_rate") <= max_dup_rate)
            & (F.col("mean_tokens") >= min_mean_tokens)
            & (F.col("stopword_ratio") <= max_stopword_ratio)
        )
        .select(source_col)
    )
    return docs.join(good, [source_col], "left_semi").select(
        id_col, source_col, text_col
    )


def training_mix_sample(
    docs: DataFrame,
    rates: dict[str, float],
    strat_col: str = "lang_pred",
    id_col: str = "doc_id",
    salt: str = "mix",
) -> DataFrame:
    """Deterministic per-stratum Bernoulli sample — the training-MIX step
    that downweights over-represented strata (language, domain, quality
    band) to a target mixture. Strata absent from ``rates`` are dropped.

    The keep decision is a pure function of (salt, stratum, id): u =
    int(md5(salt:stratum:id)[:8 hex]) / 2^32, keep iff u < rate. That makes
    it (a) engine-portable bit-for-bit (the DuckDB oracle recomputes the
    same doubles — both sides divide the same 32-bit integer by the same
    power of two, so the comparison is exact), (b) resampling-stable: adding
    or removing documents never flips another document's decision, and
    changing one stratum's rate monotonically grows/shrinks only that
    stratum, (c) a single map-side filter — no shuffle, no RNG state, no
    seed-per-partition coupling to the physical plan."""
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":", F.lit(salt), F.col(strat_col), F.col(id_col).cast("string")
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("double")
        / F.lit(float(2**32))
    )
    rate = F.create_map(
        *[x for k, v in sorted(rates.items()) for x in (F.lit(k), F.lit(float(v)))]
    )[F.col(strat_col)]
    # filter_unpushed: the keep predicate is always derived (md5 over salt,
    # stratum and id), so it can never reach a scan's PushedFilters — but
    # when the stratum column is itself computed (lang_pred from the
    # tokenize tree), Catalyst's pushdown would substitute that whole tree
    # per reference below the projection (33 tokenizer copies in the
    # training_mix entry's plan). The pin keeps the filter directly above
    # the projection, so the tree is computed once per row.
    return filter_unpushed(docs, u < F.coalesce(rate, F.lit(0.0)))


def unigram_lm(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(term, cnt) unigram counts over the corpus — the train half of the
    LM-perplexity quality filter (CCNet-style: Wenzek et al. 2020 filter
    CommonCrawl by LM perplexity; a count LM over a trusted corpus is the
    shuffle-shaped core of that signal). One groupBy(term) shuffle with
    map-side combine; materialize to parquet for train-once/score-many."""
    toks = with_tokens(docs.select(id_col, text_col), text_col)
    return (
        toks.select(F.explode("toks").alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def lm_perplexity_scores(
    docs: DataFrame,
    lm: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 0.5,
    broadcast_lm: bool = False,
    lm_path: str | None = None,
) -> DataFrame:
    """(doc_id, n_toks, avg_nll, ppl) under an add-alpha-smoothed unigram LM.

    P(w) = (cnt(w) + alpha) / (N + alpha * V) with N = total training tokens,
    V = vocabulary size; avg_nll = mean over doc tokens of -ln P(w);
    ppl = exp(avg_nll). Docs whose token list is empty are dropped (no
    distribution to score). ``lm`` defaults to a LM trained on ``docs``
    itself (self-perplexity: boilerplate and keyword-stuffed docs sit in the
    low tail, lorem-ipsum-like token salad in the high tail); pass a table
    from ``unigram_lm`` over a trusted corpus for the CCNet shape. Unseen
    terms fall back to the alpha mass (left join + coalesce(cnt, 0)).

    Plan at scale: explode tokens (map) -> join the LM on term -> one
    groupBy(doc_id). The LM table is vocabulary-sized — tiny next to the
    corpus — so pass broadcast_lm=True to pin a broadcast join and keep the
    corpus-side relation shuffle-free until the per-doc agg; the (N, V)
    scalar pair rides in as a 1-row broadcast cross join either way.

    The LM relation is consumed TWICE (the term join and the (N, V) agg), so
    when trained inline it is materialized to parquet first (``lm_path``, a
    session scratch dir by default, deleted on ``spark.stop()``) — otherwise
    Catalyst re-derives the count subtree per consumer and the corpus is
    scanned three times instead of once (the train-once/score-many split;
    same policy as the minhash signature table).
    """
    if lm is None:
        lm = barrier(unigram_lm(docs, text_col, id_col), "unigram_lm", lm_path)
    stats = lm.agg(
        F.sum("cnt").cast("double").alias("_n"), F.count(F.lit(1)).cast("double").alias("_v")
    )
    toks = with_tokens(docs.select(id_col, text_col), text_col)
    tokens = toks.select(F.col(id_col).alias("doc_id"), F.explode("toks").alias("term"))
    lm_side = F.broadcast(lm) if broadcast_lm else lm
    joined = (
        tokens.join(lm_side, "term", "left")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            (
                -F.log(
                    (F.coalesce(F.col("cnt"), F.lit(0)).cast("double") + F.lit(float(alpha)))
                    / (F.col("_n") + F.lit(float(alpha)) * F.col("_v"))
                )
            ).alias("nll"),
        )
    )
    per_doc = joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_toks"), F.sum("nll").alias("_sum_nll")
    )
    avg = F.col("_sum_nll") / F.col("n_toks")
    return per_doc.select("doc_id", "n_toks", avg.alias("avg_nll"), F.exp(avg).alias("ppl"))
