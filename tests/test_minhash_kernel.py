"""The Arrow minhash kernel and the snapshot pass's SQL lanes against the
JVM lane SQL they replaced and the oracle's lane formula: every lane and
every shingle key bit-identical, one signature row per input row, and no
row for a doc without a shingle."""

import hashlib
import random
from collections import Counter

import duckdb
import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry
from rustserini_spark.analysis import simple_tokenize_text
from rustserini_spark.operators import dedup
from rustserini_spark.operators.dedup import (
    MINHASH_A,
    MINHASH_B,
    MINHASH_P,
    N_MINHASHES,
    _minhash_batch,
    build_minhash_table,
    doc_shingles,
    minhash_signatures,
    minhash_verified_pairs,
    snapshot_minhash_signatures,
)
from rustserini_spark.session import local_rows_df

LANES = [f"h{i}" for i in range(N_MINHASHES)]


def seeded_docs(seed: int, n: int) -> list:
    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(3000)] + ["The", "of", "a", "AND", "x1", "--", "e.g.", "it's"]
    return [
        " ".join(rng.choice(vocab) for _ in range(rng.choice([0, 1, 2, 3, 5, 40, 200, 900])))
        for _ in range(n)
    ]


ADVERSARIAL = [
    None,
    "",
    "   \t\n ",
    "two tokens",
    "!! -- ... ?!",
    "Straße ist groß und schön",
    "İstanbul İzmir Ilıca ışık kent",
    "y" * 300 + " tail end here",
    " ".join(f"t{i % 997}" for i in range(10_000)),
    "mixed CASE Case case, with punctuation!!",
    "one two three",
]
# more than two default chunks of shingle occurrences in one batch
TEXTS = seeded_docs(5, 120) + ADVERSARIAL


def jvm_reference(docs) -> dict:
    """The JVM lane aggregation ``minhash_signatures`` ran before the kernel:
    explode the shingles, h = conv(substring(md5(shingle), 1, 7)), 16
    multiply-mod lanes in a groupBy; ``_arr`` as the signed first 16 hex
    digits of each shingle's md5 (the kernel's big-endian int64)."""
    h = "CAST(conv(substring(md5(shingle), 1, 7), 16, 10) AS BIGINT)"
    aggs = [
        F.expr(f"min(({MINHASH_A[i]} * {h} + {MINHASH_B[i]}) % {MINHASH_P}) AS h{i}")
        for i in range(N_MINHASHES)
    ]
    arr = F.expr(
        "sort_array(collect_set(CAST(conv(substring(md5(shingle), 1, 16), 16, -10) AS BIGINT))) AS _arr"
    )
    rows = doc_shingles(docs).groupBy("doc_id").agg(*aggs, arr).collect()
    return {r.doc_id: (tuple(r[c] for c in LANES), list(r._arr)) for r in rows}


@pytest.fixture(scope="module")
def reference(spark):
    docs = local_rows_df(spark, list(enumerate(TEXTS)), "doc_id long, text string")
    return jvm_reference(docs)


def kernel_by_row(texts) -> dict:
    rows, lanes, sets = _minhash_batch(texts, N_MINHASHES, with_sets=True)
    assert lanes.dtype.name == "int64" and lanes.shape == (len(rows), N_MINHASHES)
    return {
        int(r): (tuple(lane.tolist()), keys.tolist())
        for r, lane, keys in zip(rows, lanes, sets)
    }


def assert_matches(got: dict, want: dict) -> None:
    assert got.keys() == want.keys(), sorted(got.keys() ^ want.keys())
    bad = [i for i in want if got[i] != want[i]]
    assert not bad, [(TEXTS[i], got[i][0], want[i][0]) for i in bad[:3]]


def test_batch_is_longer_than_two_chunks():
    n_sh = sum(max(0, len(simple_tokenize_text(t)) - 2) for t in TEXTS)
    assert n_sh > 2 * dedup._KERNEL_CHUNK


@pytest.mark.parametrize("chunk", [1, 3, 64, None])
def test_kernel_matches_jvm_lanes_and_keys(monkeypatch, reference, chunk):
    if chunk is not None:
        monkeypatch.setattr(dedup, "_KERNEL_CHUNK", chunk)
    assert_matches(kernel_by_row(TEXTS), reference)


def test_each_text_alone_matches_its_batch(reference):
    for i, text in enumerate(TEXTS):
        got = kernel_by_row([text])
        assert got == ({0: reference[i]} if i in reference else {}), text


def test_kernel_matches_oracle_lane_formula():
    """The oracle's lane aggregates (``_minhash_lane_mins``, run in DuckDB)
    over the kernel's own shingles give the kernel's lanes."""
    con = duckdb.connect()
    con.execute("CREATE TABLE sh (doc_id BIGINT, shingle VARCHAR)")
    con.executemany(
        "INSERT INTO sh VALUES (?, ?)",
        [
            (i, s)
            for i, t in enumerate(TEXTS)
            for s in set(dedup._shingles(simple_tokenize_text(t)))
        ],
    )
    sql = f"SELECT doc_id, {entry._minhash_lane_mins()} FROM sh GROUP BY doc_id"
    want = {r[0]: tuple(r[1:]) for r in con.execute(sql).fetchall()}
    got = {i: lanes for i, (lanes, _) in kernel_by_row(TEXTS).items()}
    assert got == want


def test_spark_pass_matches_jvm_reference(spark, reference):
    docs = local_rows_df(spark, list(enumerate(TEXTS)), "doc_id long, text string")
    got = {
        r.doc_id: (tuple(r[c] for c in LANES), list(r._arr))
        for r in minhash_signatures(docs, with_sets=True).collect()
    }
    assert_matches(got, reference)
    lanes_only = {i: lanes for i, (lanes, _) in reference.items()}
    for sign in (minhash_signatures, snapshot_minhash_signatures):
        plain = sign(docs)
        assert plain.columns == ["doc_id", *LANES]
        assert {r.doc_id: tuple(r[c] for c in LANES) for r in plain.collect()} == lanes_only


def replay_row(text):
    """Per-row Python replay of one signature; None without a shingle."""
    toks = simple_tokenize_text(text)
    shingles = {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}
    if not shingles:
        return None
    hs = [int(hashlib.md5(s.encode()).hexdigest()[:7], 16) for s in shingles]
    return tuple(min((a * h + b) % MINHASH_P for h in hs) for a, b in zip(MINHASH_A, MINHASH_B))


@pytest.mark.parametrize("sign", [minhash_signatures, snapshot_minhash_signatures])
def test_signature_is_per_row_and_degenerate_rows_emit_none(spark, sign):
    """A duplicated id gets one signature per row (two texts under id 7 are
    not pooled); null, empty, whitespace-only, punctuation-only and
    under-3-token docs emit no row. The oracle's ``sig`` CTE groups by
    doc_id, so it cannot judge this input; the replay is per row."""
    rows = [
        (1, None),
        (2, ""),
        (3, "   \t "),
        (4, "!! -- ?!"),
        (5, "two tokens"),
        (7, "the first text under a shared id"),
        (7, "a second and different text under the same id"),
        (8, "the first text under a shared id"),
        (9, "one two three"),
        (9, "one two three"),
    ]
    docs = local_rows_df(spark, rows, "doc_id int, text string")
    sig = sign(docs)
    assert sig.schema["doc_id"].dataType.simpleString() == "int"
    got = Counter((r.doc_id, tuple(r[c] for c in LANES)) for r in sig.collect())
    want = Counter((i, replay_row(t)) for i, t in rows if replay_row(t) is not None)
    assert got == want
    assert sorted(i for i, _ in got.elements()) == [7, 7, 8, 9, 9]


def test_n_hashes_beyond_the_lane_constants_fails_on_the_driver(spark):
    docs = local_rows_df(spark, [(1, "one two three four")], "doc_id long, text string")
    with pytest.raises(ValueError, match="n_hashes"):
        minhash_signatures(docs, n_hashes=len(MINHASH_A) + 1)
    with pytest.raises(ValueError, match="n_hashes"):
        minhash_signatures(docs, n_hashes=0)
    with pytest.raises(ValueError, match="n_hashes"):
        snapshot_minhash_signatures(docs, n_hashes=len(MINHASH_A) + 1)


def shingle_set(text) -> set:
    toks = simple_tokenize_text(text)
    return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}


@pytest.mark.parametrize("table", [False, True])
def test_verified_pairs_with_a_duplicated_id_are_per_row_combinations(spark, tmp_path, table):
    """Id 7 holds two near-identical texts and id 8 a copy of the first: the
    verify scores (7, 8) once per row combination that passes the threshold,
    so the pair comes back twice with two jaccards; a third text under id 7
    shares no shingle with id 8 and adds no row. Same output whether the
    signature table is built inline or supplied by the caller."""
    base = " ".join(f"word{i}" for i in range(60))
    rows = [
        (7, base),
        (7, base + " and one more clause at the end"),
        (7, "an unrelated sentence about lighthouses harbours and tides"),
        (8, base),
        (9, "something else entirely with no overlap at all here"),
    ]
    docs = local_rows_df(spark, rows, "doc_id long, text string")
    sig = build_minhash_table(docs, str(tmp_path / "sig")) if table else None
    got = sorted(
        (r.doc_a, r.doc_b, r.jaccard)
        for r in minhash_verified_pairs(docs, threshold=0.8, sig=sig).collect()
    )
    b = shingle_set(base)
    want = sorted(
        (7, 8, len(a & b) / len(a | b))
        for i, t in rows
        if i == 7 and len((a := shingle_set(t)) & b) / len(a | b) >= 0.8
    )
    assert [p[:2] for p in got] == [(7, 8), (7, 8)]
    assert [g[2] for g in got] == pytest.approx([w[2] for w in want], abs=1e-4)

