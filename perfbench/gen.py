"""Seeded input generators for the benchmark workloads.

Every row is a pure function of ``(seed, doc ordinal)`` (plus the table size
for the few rows that refer to others), so one seed yields identical tables no
matter how the ordinal range is split into Spark partitions or Arrow batches.
``write_parquet`` writes a table from the benchmark process and returns a
hash of the bytes written, so two runs with one seed can show they read
identical files.

Two tables:

* ``webtext``: ``(url, warc_ts, html, text, lang)``, the engine's ingestion
  shape. Text is drawn from a Zipf law over a 60,000-word vocabulary whose
  head is the Lucene English stop set, so most index terms are tail terms with
  short posting lists and the analyzer has stopwords to drop. Ordinals 0-9
  carry the engine's fixed Manhattan-Project passages, so the canonical query
  has a known best answer (ordinal 0).
* ``documents``: ``(doc_id, text, lang, source)`` for curation and dedup,
  with planted content laid out by ``ordinal % 100`` (see ``CURATE_LAYOUT``).
"""

from __future__ import annotations

import functools
import hashlib
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from rustserini_spark.analysis import LUCENE_ENGLISH_STOPWORDS
from rustserini_spark.functions.text import LANG_MARKERS
from rustserini_spark.sources.synth import FIXED_PASSAGES  # noqa: F401 (re-exported)

VOCAB_SIZE = 60_000
ZIPF_S = 0.9
BASE_TS = pd.Timestamp("2024-06-01T00:00:00Z")
MANHATTAN_QUERY = "did scientific minds lead to the success of the manhattan project"

# Stop words ordered roughly by English frequency; they take the Zipf head.
_HEAD = (
    "the of and to a in is it that was for on are as with at by this be or "
    "not but an they their there these then if into no such will"
).split()
assert set(_HEAD) == LUCENE_ENGLISH_STOPWORDS

_ONSETS = "b c d f g h j k l m n p r s t v w z br cr dr fr gr pl st tr".split()
_VOWELS = "a e i o u ai ea ou".split()
_CODAS = "m n l r k x nd rk st".split()

# Curation layout: ordinal % 100 -> planted kind, share of the table, and the
# stage of curate_corpus that must remove it (None: the doc may survive).
CURATE_LAYOUT = (
    # (kind, first slot, last slot + 1, removed by, why)
    ("base", 0, 62, None, "unique English pages: the survivors"),
    ("exact_dup", 62, 67, "exact", "byte copies of base slots 0-4: md5 keeper stage"),
    ("permuted", 67, 72, "simhash", "token-reversed copies of base slots 5-9: same bag of words, so same simhash, different md5"),
    ("near_dup", 72, 77, None, "3 token edits of base slots 10-14: minhash and simhash pair candidates"),
    ("templated", 77, 87, None, "shared 91-token template body plus a 12-token tail: hot minhash/simhash buckets"),
    ("non_english", 87, 92, "lang", "German/French marker words, no English ones: language stage"),
    ("too_short", 92, 96, "quality", "5-12 tokens, below min_tokens=15: quality stage"),
    ("repetitive", 96, 100, "quality", "40 tokens over 4 distinct words: distinct_ratio stage"),
)
# The DuckDB curation oracle appends copies of doc_ids 0-15 of its own
# fixture; starting ids above that keeps the replay's input equal to ours.
CURATE_ID_BASE = 1_000
TEMPLATE_GROUP = 40  # templated pages per template body


def _pseudo_words(n: int) -> list[str]:
    """n distinct pronounceable non-words, none a stop word or language
    marker (so lang_id and the stop set see only the words planted for
    them)."""
    reserved = set(LUCENE_ENGLISH_STOPWORDS).union(*LANG_MARKERS.values())
    syllables = [o + v for o in _ONSETS for v in _VOWELS]
    rng = np.random.default_rng(20240601)
    out: dict[str, None] = {}
    while len(out) < n:
        m = 2 * n
        k = rng.integers(2, 4, m)
        syl = rng.integers(0, len(syllables), (m, 3))
        coda = rng.integers(0, len(_CODAS), m)
        for j in range(m):
            w = "".join(syllables[s] for s in syl[j, : k[j]]) + _CODAS[coda[j]]
            if w not in reserved:
                out.setdefault(w)
    return list(out)[:n]


class Vocab:
    """Zipf-ranked vocabulary: stop words first, then pseudo-words."""

    def __init__(self, size: int = VOCAB_SIZE, s: float = ZIPF_S):
        self.words = np.asarray(_HEAD + _pseudo_words(size - len(_HEAD)), dtype=object)
        w = 1.0 / np.arange(1, size + 1) ** s
        self.cdf = np.cumsum(w / w.sum())
        self.n_head = len(_HEAD)

    def draw(self, rng: np.random.Generator, n: int) -> list[str]:
        idx = np.minimum(np.searchsorted(self.cdf, rng.random(n)), len(self.words) - 1)
        return self.words[idx].tolist()

    def draw_content(self, rng: np.random.Generator, n: int) -> list[str]:
        """Zipf draws restricted to the non-stop-word part of the vocabulary."""
        lo = self.cdf[self.n_head - 1]
        u = lo + rng.random(n) * (1.0 - lo)
        idx = np.minimum(np.searchsorted(self.cdf, u), len(self.words) - 1)
        return self.words[idx].tolist()


@functools.cache
def cached_vocab() -> Vocab:
    """One Vocab per process: Spark's Python workers are reused across
    tasks, so each builds the word list once."""
    return Vocab()


def _rng(seed: int, table: int, ordinal: int) -> np.random.Generator:
    return np.random.default_rng((seed, table, ordinal))


# ------------------------------------------------------------------ webtext --

HTML_HEAD = b"<html><head><title>doc</title></head><body><p>"
HTML_TAIL = b"</p></body></html>"  # the markup extract_text_col strips


def webtext_lang(seed: int, ordinals) -> np.ndarray:
    """Language of each webtext row: one in ten is German or French, by a
    multiplicative hash of (seed, ordinal) so counting needs no text."""
    o = np.asarray(ordinals, dtype=np.uint64)
    h = (o * np.uint64(2654435761) + np.uint64(seed) * np.uint64(40503)) % np.uint64(1000)
    lang = np.where(h < 50, "de", np.where(h < 100, "fr", "en")).astype(object)
    lang[o < len(FIXED_PASSAGES)] = "en"
    return lang


def webtext_text(seed: int, ordinal: int, vocab: Vocab) -> str:
    if ordinal < len(FIXED_PASSAGES):
        return FIXED_PASSAGES[ordinal]
    rng = _rng(seed, 1, ordinal)
    return " ".join(vocab.draw(rng, int(rng.integers(30, 220))))


def webtext_batch(seed: int, ordinals, vocab: Vocab) -> pd.DataFrame:
    ordinals = [int(i) for i in ordinals]
    texts = [webtext_text(seed, i, vocab) for i in ordinals]
    return pd.DataFrame(
        {
            "url": [f"https://site{i % 97:02d}.example.org/page/{i:09d}" for i in ordinals],
            "warc_ts": [BASE_TS + pd.Timedelta(seconds=i) for i in ordinals],
            "html": [HTML_HEAD + t.encode("utf-8") + HTML_TAIL for t in texts],
            "text": texts,
            "lang": webtext_lang(seed, ordinals),
        }
    )


def webtext_english_count(seed: int, n_docs: int) -> int:
    """Rows with lang 'en': the docs an English index must hold."""
    return int((webtext_lang(seed, np.arange(n_docs)) == "en").sum())


# -------------------------------------------------------------- curation --


def curate_kind(ordinal: int) -> str:
    slot = ordinal % 100
    for kind, lo, hi, _, _ in CURATE_LAYOUT:
        if lo <= slot < hi:
            return kind
    raise AssertionError(slot)


def _base_words(seed: int, ordinal: int, vocab: Vocab) -> list[str]:
    rng = _rng(seed, 2, ordinal)
    # always at least one English marker, so the language stage keeps it
    return ["the"] + vocab.draw(rng, int(rng.integers(40, 160)))


def _template_words(seed: int, template: int, vocab: Vocab) -> list[str]:
    return ["the"] + vocab.draw(_rng(seed, 3, template), 90)


def curate_doc(seed: int, ordinal: int, n_docs: int, vocab: Vocab) -> tuple[str, str, str]:
    """(text, lang, source) of one documents row."""
    kind = curate_kind(ordinal)
    block = ordinal - ordinal % 100
    slot = ordinal % 100
    rng = _rng(seed, 4, ordinal)
    if kind == "base":
        words, lang = _base_words(seed, ordinal, vocab), "en"
    elif kind == "exact_dup":
        words, lang = _base_words(seed, block + slot - 62, vocab), "en"
    elif kind == "permuted":
        words, lang = _base_words(seed, block + slot - 67 + 5, vocab)[::-1], "en"
    elif kind == "near_dup":
        words = _base_words(seed, block + slot - 72 + 10, vocab)
        for pos in rng.choice(np.arange(1, len(words)), size=3, replace=False):
            words[int(pos)] = vocab.draw_content(rng, 1)[0]
        lang = "en"
    elif kind == "templated":
        n_templated = sum(hi - lo for k, lo, hi, _, _ in CURATE_LAYOUT if k == "templated")
        n_templates = max(1, (n_docs * n_templated // 100) // TEMPLATE_GROUP)
        body = _template_words(seed, int(rng.integers(n_templates)), vocab)
        words, lang = body + vocab.draw(rng, 12), "en"
    elif kind == "non_english":
        lang = "de" if rng.random() < 0.5 else "fr"
        markers = list(LANG_MARKERS[lang])
        content = vocab.draw_content(rng, int(rng.integers(30, 120)))
        mk = rng.choice(markers, size=max(3, len(content) // 4)).tolist()
        words = content + mk
        rng.shuffle(words)
    elif kind == "too_short":
        words, lang = ["the"] + vocab.draw(rng, int(rng.integers(4, 12))), "en"
    else:  # repetitive
        pool = ["the"] + vocab.draw_content(rng, 3)
        words, lang = [pool[int(j)] for j in rng.integers(0, len(pool), 40)], "en"
    return " ".join(words), lang, f"crawl-{ordinal % 7}"


def curate_batch(seed: int, ordinals, n_docs: int, vocab: Vocab) -> pd.DataFrame:
    rows = [curate_doc(seed, int(i), n_docs, vocab) for i in ordinals]
    return pd.DataFrame(
        {
            "doc_id": np.asarray([CURATE_ID_BASE + int(i) for i in ordinals], dtype=np.int64),
            "text": [r[0] for r in rows],
            "lang": [r[1] for r in rows],
            "source": [r[2] for r in rows],
        }
    )


# ------------------------------------------------------------------ output --


def write_parquet(path: str, n_docs: int, batch_fn, schema: pa.Schema, n_files: int) -> str:
    """Write ordinals ``0..n_docs`` as ``n_files`` parquet files under
    ``path``, ``batch_fn(ordinals)`` giving each file's rows. Returns
    ``"<rows>:<sha256 prefix>"`` over the files' bytes in name order."""
    os.makedirs(path)
    cuts = np.linspace(0, n_docs, n_files + 1).astype(int)
    digest = hashlib.sha256()
    for i, (lo, hi) in enumerate(zip(cuts, cuts[1:])):
        f = os.path.join(path, f"part-{i:05d}.parquet")
        pq.write_table(pa.Table.from_pandas(batch_fn(range(lo, hi)), schema=schema, preserve_index=False), f)
        with open(f, "rb") as fh:
            digest.update(fh.read())
    return f"{n_docs}:{digest.hexdigest()[:16]}"
