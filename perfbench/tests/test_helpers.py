"""Tests for the benchmark's own helpers: the tail-percentile rule, the
driver-time interval union, input generation and fingerprinting, the
top-k comparison and the worker daemon's import path."""

import sys

import pandas as pd
import pyarrow.parquet as pq
import pytest

import gen
import perfbench_daemon
from stats import covered_length, quartile_spread, tail_percentile
from workloads import DOCUMENTS_ARROW, WEBTEXT_ARROW, compare_topk


def test_tail_percentile_keeps_ten_samples_beyond():
    xs = list(range(100, 0, -1))  # 100 distinct values, unsorted
    t = tail_percentile(xs)
    assert t == {"pct": 90.0, "value": 90, "n": 100}
    assert sum(x > t["value"] for x in xs) == 10


def test_tail_percentile_small_samples():
    assert tail_percentile(range(11)) == {"pct": 100 / 11, "value": 0, "n": 11}
    # ten or fewer samples: no rank has ten beyond it, so the max, as p100
    assert tail_percentile([3.0, 1.0, 2.0]) == {"pct": 100.0, "value": 3.0, "n": 3}
    with pytest.raises(ValueError):
        tail_percentile([])


@pytest.mark.parametrize(
    "intervals, expected",
    [
        ([], 0.0),
        ([(1, 2), (3, 5)], 3.0),  # disjoint
        ([(1, 4), (2, 6)], 5.0),  # overlapping
        ([(1, 9), (2, 3), (4, 5)], 8.0),  # nested
        ([(-5, 1), (9, 20)], 2.0),  # clipped to [0, 10]
        ([(11, 12), (4, 4)], 0.0),  # outside, empty
        ([(2, 3), (3, 4)], 2.0),  # touching
    ],
)
def test_covered_length(intervals, expected):
    assert covered_length(intervals, 0, 10) == pytest.approx(expected)


def test_quartile_spread():
    assert quartile_spread([10.0] * 10) == 0.0
    assert quartile_spread([1, 2, 3, 4, 5, 6, 7, 8, 9, 10]) == pytest.approx(5.5 / 5.5)


@pytest.mark.parametrize("cuts", [(0, 300), (0, 1, 77, 300), (0, 150, 151, 299, 300)])
def test_webtext_independent_of_partitioning(cuts):
    vocab = gen.cached_vocab()
    whole = gen.webtext_batch(7, range(300), vocab)
    parts = pd.concat(
        [gen.webtext_batch(7, range(lo, hi), vocab) for lo, hi in zip(cuts, cuts[1:])],
        ignore_index=True,
    )
    pd.testing.assert_frame_equal(whole, parts)
    assert (whole["lang"] == "en").sum() == gen.webtext_english_count(7, 300)
    assert whole["text"][0] == gen.FIXED_PASSAGES[0]


@pytest.mark.parametrize("cuts", [(0, 400), (0, 99, 100, 333, 400)])
def test_documents_independent_of_partitioning(cuts):
    vocab = gen.cached_vocab()
    whole = gen.curate_batch(7, range(400), 400, vocab)
    parts = pd.concat(
        [gen.curate_batch(7, range(lo, hi), 400, vocab) for lo, hi in zip(cuts, cuts[1:])],
        ignore_index=True,
    )
    pd.testing.assert_frame_equal(whole, parts)


def test_write_parquet_fingerprints_identical_bytes(tmp_path):
    vocab = gen.cached_vocab()

    def write(name, seed, schema=WEBTEXT_ARROW):
        return gen.write_parquet(
            str(tmp_path / name), 50, lambda o: gen.webtext_batch(seed, o, vocab), schema, 3
        )

    a = write("a", 7)
    assert write("b", 7) == a
    assert write("c", 8) != a
    back = pq.read_table(tmp_path / "a").to_pandas()
    assert len(back) == 50 and back["text"][0] == gen.FIXED_PASSAGES[0]
    docs = gen.write_parquet(
        str(tmp_path / "d"), 30, lambda o: gen.curate_batch(7, o, 30, vocab), DOCUMENTS_ARROW, 2
    )
    assert docs.startswith("30:")


def test_seeds_differ_and_planted_content_holds():
    vocab = gen.cached_vocab()
    a = gen.curate_batch(1, range(200), 200, vocab)
    b = gen.curate_batch(2, range(200), 200, vocab)
    assert (a["text"] != b["text"]).mean() > 0.9
    text = dict(zip(a["doc_id"] - gen.CURATE_ID_BASE, a["text"]))
    assert text[162] == text[100]  # exact copy of base slot 0
    assert text[167].split() == text[105].split()[::-1]  # token-reversed copy
    assert sum(x != y for x, y in zip(text[172].split(), text[110].split())) <= 3
    assert len(text[192].split()) < 15


def test_vocabulary_is_fixed_and_distinct():
    v = gen.Vocab()
    assert len(set(v.words)) == gen.VOCAB_SIZE
    assert list(v.words) == list(gen.cached_vocab().words)


def test_compare_topk():
    ref = [(1, 5, 3.0), (2, 7, 2.0), (3, 9, 2.0), (4, 1, 1.0)]
    assert compare_topk(ref, ref) == ""
    swapped = [(1, 5, 3.0), (2, 9, 2.0 + 1e-12), (3, 7, 2.0), (4, 1, 1.0)]
    assert compare_topk(swapped, ref) == ""  # tied run may reorder
    assert compare_topk([(1, 5, 3.0), (2, 7, 2.0), (3, 9, 2.0), (4, 2, 1.0)], ref) == ""  # cut at k
    assert "docs" in compare_topk([(1, 6, 3.0)] + ref[1:], ref)
    assert "score" in compare_topk([(1, 5, 3.1)] + ref[1:], ref)
    assert "results" in compare_topk(ref[:3], ref)


def test_daemon_drops_archives_only_when_pyspark_stays_importable(monkeypatch):
    archives = ["/spark/python/lib/pyspark.zip", "/spark/jars/spark-core.jar"]
    monkeypatch.setattr(sys, "path", [*archives, *sys.path])
    perfbench_daemon._drop_archives()
    assert not set(archives) & set(sys.path)

    monkeypatch.setattr(sys, "path", archives[:])  # nothing else to import from
    perfbench_daemon._drop_archives()
    assert sys.path == archives
