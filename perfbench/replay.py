"""Driver-side replays of the curate workload's three calls, written from the
specification the DuckDB oracles in ``__spark_entry__.oracle_sql()`` encode
(``curation_pipeline``, ``minhash_lsh_pairs``, ``simhash_neardup_pairs``).

They share no logic with the engine, only its constants (hash parameters,
marker and stop word lists), which the SQL oracles import too: tokens,
md5-derived hashes, the r4 rounding and the keeper rules are spelled out here
again. The DuckDB SQL itself is exact but costs 48 s (curation) and 161 s
(simhash pairs) on 10,000 documents on a 4-core box, beyond one benchmark
run's budget; these replays take about a second on 1,000 documents and check
every timed call in full.
"""

from __future__ import annotations

import hashlib
import math
import re
from collections import defaultdict

import numpy as np

from rustserini_spark.analysis import LUCENE_ENGLISH_STOPWORDS
from rustserini_spark.functions.text import LANG_MARKERS
from rustserini_spark.operators.dedup import MINHASH_A, MINHASH_B, MINHASH_P, N_BANDS, N_MINHASHES

_TOKEN = re.compile(r"[0-9a-z]+")
_LANGS = ("en", "de", "fr", "es")


def tokens(text: str) -> list[str]:
    return _TOKEN.findall(text.lower())


def _r4(x: float) -> float:
    return math.floor(x * 10000 + 0.5) / 10000


def _lang(toks: list[str]) -> str:
    c = {lang: sum(t in LANG_MARKERS[lang] for t in toks) for lang in _LANGS}
    for i, lang in enumerate(_LANGS):
        if c[lang] > 0 and all(c[lang] >= c[o] for o in _LANGS[i + 1 :]):
            return lang
    return "und"


def simhashes(docs) -> dict[int, int]:
    """Signed 64-bit simhash per doc: bit b is bit (b % 4) of hex digit
    b // 4 of md5(token), summed as +-1 over token occurrences, set when the
    sum is positive."""
    toks = {d: tokens(t) for d, t in docs}
    vocab = sorted(set().union(*toks.values()))
    index = {t: i for i, t in enumerate(vocab)}
    digits = np.array(
        [[int(c, 16) for c in hashlib.md5(t.encode()).hexdigest()[:16]] for t in vocab],
        dtype=np.int64,
    ).reshape(len(vocab), 16)
    b = np.arange(64)
    signs = 2 * ((digits[:, b // 4] >> (b % 4)) & 1) - 1
    weights = (1 << np.arange(64, dtype=np.uint64))
    out = {}
    for d, ts in toks.items():
        acc = signs[[index[t] for t in ts]].sum(axis=0) if ts else np.zeros(64, dtype=np.int64)
        out[d] = int(((acc > 0).astype(np.uint64) * weights).sum().view(np.int64))
    return out


def curate_survivors(docs, fps, langs, min_tokens, max_stopword_ratio, min_distinct_ratio) -> set[int]:
    """Ids kept by lang -> quality -> exact (min id per md5) -> identical
    simhash (min id per fingerprint among exact survivors)."""
    kept = []
    for doc_id, text in docs:
        toks = tokens(text)
        n = len(toks)
        stop = _r4(sum(t in LUCENE_ENGLISH_STOPWORDS for t in toks) / n) if n else 0.0
        distinct = _r4(len(set(toks)) / n) if n else 0.0
        if (
            _lang(toks) in langs
            and n >= min_tokens
            and stop <= max_stopword_ratio
            and distinct >= min_distinct_ratio
        ):
            kept.append((doc_id, text, toks))
    by_md5: dict[str, int] = {}
    for doc_id, text, _ in kept:
        h = hashlib.md5(text.encode()).hexdigest()
        by_md5[h] = min(doc_id, by_md5.get(h, doc_id))
    exact = [d for d, text, _ in kept if by_md5[hashlib.md5(text.encode()).hexdigest()] == d]
    by_fp: dict[int, int] = {}
    for d in exact:
        by_fp[fps[d]] = min(d, by_fp.get(fps[d], d))
    return set(by_fp.values())


def simhash_pairs(fps: dict[int, int], max_hamming: int) -> set[tuple[int, int, int]]:
    """Every (a, b, hamming) with a < b and popcount(sa ^ sb) <= max_hamming,
    by brute force (banding is complete by pigeonhole, so the engine must
    return exactly this set)."""
    ids = np.array(sorted(fps), dtype=np.int64)
    fps = np.array([fps[d] for d in ids], dtype=np.int64).view(np.uint64)
    out = set()
    for i in range(len(ids) - 1):
        x = fps[i + 1 :] ^ fps[i]
        pc = np.zeros(x.size, dtype=np.int64)
        for shift in range(0, 64, 8):
            pc += _POP8[((x >> np.uint64(shift)) & np.uint64(0xFF)).astype(np.int64)]
        for j in np.flatnonzero(pc <= max_hamming):
            out.add((int(ids[i]), int(ids[i + 1 + j]), int(pc[j])))
    return out


_POP8 = np.array([bin(i).count("1") for i in range(256)], dtype=np.int64)


def minhash_pairs(docs) -> set[tuple[int, int]]:
    """Pairs (a < b) sharing any band of the 16-lane, 8-band minhash
    signature over distinct 3-token shingles."""
    a = np.array(MINHASH_A, dtype=np.int64)
    b = np.array(MINHASH_B, dtype=np.int64)
    rpb = N_MINHASHES // N_BANDS
    base_memo: dict[str, int] = {}
    buckets: dict[tuple[int, str], list[int]] = defaultdict(list)
    for doc_id, text in docs:
        toks = tokens(text)
        if len(toks) < 3:
            continue
        shingles = {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}
        hs = []
        for s in shingles:
            h = base_memo.get(s)
            if h is None:
                h = int(hashlib.md5(s.encode()).hexdigest()[:7], 16)
                base_memo[s] = h
            hs.append(h)
        lanes = ((a[:, None] * np.array(hs, dtype=np.int64)[None, :] + b[:, None]) % MINHASH_P).min(axis=1)
        for band in range(N_BANDS):
            key = "|".join(str(int(v)) for v in lanes[band * rpb : (band + 1) * rpb])
            buckets[(band, hashlib.md5(key.encode()).hexdigest()[:15])].append(doc_id)
    out = set()
    for members in buckets.values():
        members.sort()
        for i, x in enumerate(members):
            for y in members[i + 1 :]:
                if x != y:
                    out.add((x, y))
    return out
