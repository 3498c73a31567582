"""The sweep harness's two statistics, without Spark: the per-operation line
fit and the N→4N pair summary."""

import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts"))

from sweep import fit_line, pair_stats  # noqa: E402


def test_fit_recovers_exact_line():
    docs = [500, 5_000, 50_000]
    fixed, slope = fit_line(docs, [0.25 + 2e-5 * d for d in docs])
    assert fixed == pytest.approx(0.25, abs=1e-12)
    assert slope == pytest.approx(2e-5, rel=1e-12)


def test_pair_stats_median_and_iqr():
    # sorted 0.4, 0.5, 0.6, 0.8: quartiles by linear interpolation at
    # positions 0.75, 1.5 and 2.25
    s = pair_stats([0.8, 0.4, 0.6, 0.5])
    assert s["median"] == pytest.approx(0.55)
    assert s["q1"] == pytest.approx(0.475)
    assert s["q3"] == pytest.approx(0.65)
    assert s["iqr"] == pytest.approx(0.175)
    # three pairs, the harness's count: the median is the middle ratio
    s = pair_stats([0.9, 0.7, 0.8])
    assert s["median"] == pytest.approx(0.8)
    assert s["iqr"] == pytest.approx(0.1)
