"""The batch-vectorized SimHash kernel against the per-token definition: every
fingerprint bit-identical, and degenerate text pinned to simhash 0."""

import hashlib
import random
from collections import Counter
from itertools import combinations

import numpy as np
import pytest

from rustserini_spark.analysis import simple_tokenize_text
from rustserini_spark.operators import dedup
from rustserini_spark.operators.dedup import (
    _simhash64_batch,
    simhash64_signatures,
    simhash_neardup_pairs,
)
from rustserini_spark.session import local_rows_df


def _token_sign_vector(token: str) -> np.ndarray:
    """64-element ±1 vector for one token: bit b = bit (b%4) of hex digit
    (b//4) of md5(token) — the definition the DuckDB oracle replays."""
    h = hashlib.md5(token.encode("utf-8")).hexdigest()
    digits = np.frombuffer(bytes.fromhex(h[:16]), dtype=np.uint8)
    # frombuffer gives byte pairs; re-derive the 16 hex-digit values in string order
    digits = np.stack([(digits >> 4) & 0xF, digits & 0xF], axis=1).reshape(-1)
    b = np.arange(64)
    bits = (digits[b // 4].astype(np.int64) >> (b % 4)) & 1
    return (2 * bits - 1).astype(np.int64)


def reference_simhash(text) -> int:
    """Occurrence-weighted ±1 sum per bit, one token at a time."""
    acc = np.zeros(64, dtype=np.int64)
    for t, n in Counter(simple_tokenize_text(text)).items():
        acc += n * _token_sign_vector(t)
    return sum(1 << b for b in range(64) if acc[b] > 0) - (1 << 64 if acc[63] > 0 else 0)


def seeded_docs(seed: int, n: int) -> list:
    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(3000)] + ["The", "of", "a", "AND", "x1", "--", "e.g.", "it's"]
    docs = []
    for _ in range(n):
        k = rng.choice([0, 1, 2, 5, 40, 200, 900])
        docs.append(" ".join(rng.choice(vocab) for _ in range(k)))
    return docs


ADVERSARIAL = [
    None,
    "",
    "Straße",
    "İstanbul",
    "naïve",
    "y" * 300,
    " ".join(["echo"] * 10_000),
    "mixed CASE Case case, with punctuation!!",
]


def assert_parity(texts) -> None:
    got = _simhash64_batch(texts)
    assert got.dtype == np.int64 and len(got) == len(texts)
    want = [reference_simhash(t) for t in texts]
    bad = [i for i, (g, w) in enumerate(zip(got.tolist(), want)) if g != w]
    assert not bad, [(texts[i], got[i], want[i]) for i in bad[:3]]


def test_kernel_matches_reference_on_seeded_docs():
    assert_parity(seeded_docs(7, 500))


def test_kernel_matches_reference_on_adversarial_strings():
    assert_parity(ADVERSARIAL)
    for text in ADVERSARIAL:  # alone in its batch, too
        assert_parity([text])


def test_kernel_chunk_boundaries_match_per_doc_calls():
    """A batch over two chunks long, plus one doc longer than a chunk, gives
    each doc the fingerprint it gets alone in its batch."""
    docs = seeded_docs(11, 800)
    docs.insert(300, " ".join(f"t{i % 997}" for i in range(dedup._KERNEL_CHUNK + 5)))
    assert sum(len(simple_tokenize_text(d)) for d in docs) > 2 * dedup._KERNEL_CHUNK
    batch = _simhash64_batch(docs).tolist()
    alone = [int(_simhash64_batch([d])[0]) for d in docs]
    assert batch == alone
    assert batch[300] == reference_simhash(docs[300])


@pytest.mark.parametrize("chunk", [1, 3, 64])
def test_kernel_tiny_chunks_match_reference(monkeypatch, chunk):
    monkeypatch.setattr(dedup, "_KERNEL_CHUNK", chunk)
    assert_parity(seeded_docs(3, 60) + ADVERSARIAL)


DEGENERATE = [(1, None), (2, ""), (3, "   \t\n "), (4, "!! -- ... ?!")]


def test_degenerate_docs_get_simhash_zero_and_pair_at_hamming_zero(spark):
    """Null, empty, whitespace-only and punctuation-only docs have no tokens:
    simhash 0, so they are mutual near-duplicates at Hamming distance 0."""
    rows = DEGENERATE + [(5, "an ordinary sentence about lighthouses and harbours")]
    docs = local_rows_df(spark, rows, "doc_id long, text string")
    sig = {r.doc_id: r.simhash for r in simhash64_signatures(docs).collect()}
    assert [sig[i] for i, _ in DEGENERATE] == [0, 0, 0, 0]
    assert sig[5] != 0
    degenerate = {i for i, _ in DEGENERATE}
    pairs = {
        (r.doc_a, r.doc_b): r.hamming
        for r in simhash_neardup_pairs(docs, max_hamming=3).collect()
        if r.doc_a in degenerate and r.doc_b in degenerate
    }
    assert pairs == {pair: 0 for pair in combinations(sorted(degenerate), 2)}
