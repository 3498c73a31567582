"""Focused tests for the round-8 pass-2 optimization internals:

- AllPairs/PPJoin prefix-filtered exact jaccard (k=2 joint-share guarantee
  with per-side degradation for tiny sets) vs a brute-force reference,
  including the tiny-doc (g=1) edge the k-share proof degrades to;
- the capped variant's lower-bound semantics through the prefix path;
- minhash_verified_pairs inline (with_sets) path vs the caller-supplied
  fixed-width-table path (both result shapes must agree exactly);
- session.filter_unpushed is a pure plan pin (row set unchanged).
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from rustserini_spark.operators.dedup import (
    build_minhash_table,
    minhash_verified_pairs,
    ngram_jaccard_pairs,
)
from rustserini_spark.session import filter_unpushed


def _r4(x: float) -> float:
    return math.floor(x * 10000.0 + 0.5) / 10000.0


def _brute_jaccard(rows, threshold=0.8, max_df=None):
    """Reference implementation of the declared query over (id, text)."""
    import re

    sets = {}
    for i, t in rows:
        toks = [w for w in re.split(r"[^a-z0-9]+", t.lower()) if w]
        sh = {" ".join(toks[j : j + 3]) for j in range(len(toks) - 2)}
        if sh:
            sets[i] = sh
    df: dict[str, int] = {}
    for sh in sets.values():
        for s in sh:
            df[s] = df.get(s, 0) + 1
    out = []
    ids = sorted(sets)
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            a, b = ids[x], ids[y]
            common = sets[a] & sets[b]
            if max_df is not None:
                common = {s for s in common if df[s] <= max_df}
            if not common:
                continue
            j = _r4(len(common) / (len(sets[a]) + len(sets[b]) - len(common)))
            if j >= threshold:
                out.append((a, b, j))
    return sorted(out)


TINY_ROWS = [
    # docs with exactly one 3-gram shingle: alpha = floor(.7999*1) = 0, the
    # k=2 guarantee degrades to g=1 and a single shared shingle must pair
    (0, "alpha beta gamma"),
    (1, "alpha beta gamma"),
    (2, "delta beta gamma"),
    # 2-shingle docs (alpha = 1 -> g=1)
    (3, "one two three four"),
    (4, "one two three four"),
    # mid-size docs: near-dup pair + an unrelated doc
    (5, "a b c d e f g h i j k l m n o p"),
    (6, "a b c d e f g h i j k l m n o q"),
    (7, "z y x w v u t s r q p o n m l k"),
    # doc with no shingles at all (fewer than 3 tokens)
    (8, "just two"),
]


@pytest.mark.parametrize("max_df", [None, 2])
def test_prefix_jaccard_matches_bruteforce_on_tiny_docs(spark, max_df):
    docs = spark.createDataFrame(TINY_ROWS, "doc_id long, text string")
    got = sorted(
        tuple(r)
        for r in ngram_jaccard_pairs(
            docs, threshold=0.8, max_shingle_df=max_df
        ).collect()
    )
    want = _brute_jaccard(TINY_ROWS, 0.8, max_df)
    assert got == want


def test_prefix_jaccard_threshold_sweep(spark):
    """The prefix length/g guarantee must hold at thresholds other than the
    entry's 0.8 (different alpha arithmetic)."""
    rows = [(i, " ".join(f"w{(i * 7 + k) % 13}" for k in range(10))) for i in range(20)]
    rows += [(100 + i, rows[i][1] + " extra") for i in range(5)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    for t in (0.5, 0.9):
        got = sorted(
            tuple(r) for r in ngram_jaccard_pairs(docs, threshold=t).collect()
        )
        want = _brute_jaccard(rows, t)
        assert got == want, f"threshold {t}"


def test_minhash_verified_inline_matches_table_path(spark, tmp_path):
    rows = [(i, " ".join(f"tok{(i * 3 + k) % 40}" for k in range(30))) for i in range(40)]
    rows += [(200 + i, rows[i][1]) for i in range(6)]  # exact dups -> J=1 pairs
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    inline = sorted(tuple(r) for r in minhash_verified_pairs(docs).collect())
    sig = build_minhash_table(docs, str(tmp_path / "sig"))  # fixed-width
    assert "_arr" not in sig.columns
    via_table = sorted(tuple(r) for r in minhash_verified_pairs(docs, sig=sig).collect())
    assert inline == via_table
    assert len(inline) >= 6


def test_filter_unpushed_preserves_rows(spark):
    df = spark.range(100).select(
        F.col("id"), (F.col("id") % 7).alias("m")
    )
    cond = F.col("m") >= 3
    plain = sorted(r.id for r in df.filter(cond).collect())
    pinned = sorted(r.id for r in filter_unpushed(df, cond).collect())
    assert plain == pinned


def test_filter_unpushed_stays_above_the_fan_out(spark):
    """The pin's whole point: in the optimized plan the pinned filter stays
    above the fan-out repartition, where a plain filter on the same computed
    column is pushed below it (with the projection's expression substituted)
    onto the undivided scan. An always-false term the optimizer can fold away
    (``rand(0) < -1.0``) fails this."""
    df = spark.range(100).repartition(4).select(F.col("id"), (F.col("id") % 7).alias("m"))
    cond = F.col("m") >= 3

    def filter_above_repartition(frame) -> bool:
        ops = [
            op for line in frame._jdf.queryExecution().optimizedPlan().toString().splitlines()
            if (op := line.lstrip(" :+-").split(" ", 1)[0]) in ("Filter", "Repartition")
        ]
        return ops.index("Filter") < ops.index("Repartition")

    assert not filter_above_repartition(df.filter(cond))
    assert filter_above_repartition(filter_unpushed(df, cond))
