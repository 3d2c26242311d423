"""Differential test: the vectorized ``local_maxima`` and
``peak_prominences`` in operators/peaks.py against the straightforward
sample-by-sample loops they replaced (kept here as the reference).
Indices, prominences and bases must be bit-identical. No Spark.
"""

from __future__ import annotations

import numpy as np
import pytest

from metevents_spark.operators.peaks import find_peaks, local_maxima, peak_prominences


def ref_local_maxima(x: np.ndarray) -> np.ndarray:
    n = len(x)
    mids: list[int] = []
    i = 1
    i_max = n - 1
    while i < i_max:
        if x[i - 1] < x[i]:
            i_ahead = i + 1
            while i_ahead < i_max and x[i_ahead] == x[i]:
                i_ahead += 1
            if x[i_ahead] < x[i]:
                mids.append((i + i_ahead - 1) // 2)
                i = i_ahead
        i += 1
    return np.asarray(mids, dtype=np.intp)


def ref_peak_prominences(x: np.ndarray, peaks: np.ndarray):
    n = len(x)
    prom = np.empty(len(peaks), dtype=np.float64)
    left_bases = np.empty(len(peaks), dtype=np.intp)
    right_bases = np.empty(len(peaks), dtype=np.intp)
    for k, p in enumerate(peaks):
        i = p
        left_min = x[p]
        left_bases[k] = p
        while i >= 0 and x[i] <= x[p]:
            if x[i] < left_min:
                left_min = x[i]
                left_bases[k] = i
            i -= 1
        i = p
        right_min = x[p]
        right_bases[k] = p
        while i < n and x[i] <= x[p]:
            if x[i] < right_min:
                right_min = x[i]
                right_bases[k] = i
            i += 1
        prom[k] = x[p] - max(left_min, right_min)
    return prom, left_bases, right_bases


def _series(rng: np.random.Generator, n: int) -> np.ndarray:
    """Quantized random walk: frequent plateaus and repeated minima,
    some NaN, some signed zeros."""
    x = np.round(np.cumsum(rng.normal(size=n)) * rng.choice([1.0, 4.0]))
    x[rng.random(n) < 0.3] = 0.0
    x[rng.random(n) < 0.1] = -0.0
    if n and rng.random() < 0.5:
        x[rng.random(n) < 0.05] = np.nan
    return x


def _bits(a: np.ndarray) -> np.ndarray:
    """Floats as their bit patterns, so signed zeros and NaN compare."""
    return a.view(np.int64) if a.dtype == np.float64 else a


def _assert_same(x: np.ndarray) -> None:
    peaks = local_maxima(x)
    ref = ref_local_maxima(x)
    assert peaks.dtype == ref.dtype and np.array_equal(peaks, ref), x
    got = peak_prominences(x, peaks)
    want = ref_peak_prominences(x, ref)
    for g, w in zip(got, want):
        assert g.dtype == w.dtype and np.array_equal(_bits(g), _bits(w)), x


@pytest.mark.parametrize("sign", [1.0, -1.0])
def test_vectorized_matches_loops_on_seeded_series(sign):
    rng = np.random.default_rng(20260)
    for _ in range(300):
        n = int(rng.integers(0, 400))
        _assert_same(sign * _series(rng, n))


@pytest.mark.parametrize("sign", [1.0, -1.0])
def test_short_series(sign):
    rng = np.random.default_rng(3)
    for n in range(4):
        for _ in range(50):
            _assert_same(sign * rng.choice([0.0, 1.0, 2.0, np.nan], size=n))


@pytest.mark.parametrize(
    "x",
    [
        [3.0, 1.0, 2.0, 1.0, 3.0],  # maxima at both borders never count
        [0.0, 2.0, 2.0, 2.0, 1.0],  # plateau: midpoint
        [0.0, 2.0, 2.0, 2.0],  # plateau reaching the border
        [1.0, 5.0, 1.0, 5.0, 1.0, 5.0, 1.0],  # equal peaks, equal bases
        [1.0, 3.0, np.nan, 3.0, 1.0],  # NaN neighbour
        [0.0, 2.0, 1.0, np.nan, 0.5, 3.0, 0.0],  # NaN stops the base scan
        [5.0, 1.0, 4.0, 1.0, 2.0, 1.0, 4.0, 1.0, 5.0],  # nested peaks
        [-0.0, 1.0, 0.0, 1.0, -0.0],  # signed zeros as bases
        [0.0, np.inf, 0.0, np.nan, np.inf, 0.0],  # infinite peaks
    ],
)
def test_edge_cases(x):
    x = np.asarray(x, dtype=np.float64)
    _assert_same(x)
    _assert_same(-x)


def test_find_peaks_properties_match_loops():
    rng = np.random.default_rng(11)
    for _ in range(50):
        x = _series(rng, 500)
        peaks, props = find_peaks(x, prominence=2.0, width=(0, 3))
        ref = ref_local_maxima(x)
        prom, lb, rb = ref_peak_prominences(x, ref)
        keep = prom >= 2.0
        # the width filter only drops peaks; every survivor keeps its
        # loop-computed prominence and bases
        pos = np.searchsorted(ref[keep], peaks)
        assert np.array_equal(ref[keep][pos], peaks)
        assert np.array_equal(prom[keep][pos], props["prominences"])
        assert np.array_equal(lb[keep][pos], props["left_bases"])
        assert np.array_equal(rb[keep][pos], props["right_bases"])
