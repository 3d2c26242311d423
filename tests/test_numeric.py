"""The shared numeric primitives (metevents_spark/numeric.py), without
Spark or test data: the Holt fold against a sequential loop, and the
half-away rounding against each inline form it replaced and against
DuckDB's ROUND."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest

from metevents_spark.numeric import holt_fold, round_half_away
from metevents_spark.operators.seriesstats import _errors_us

NAN = float("nan")


def _holt_loop(vals, alpha, beta):
    """Sequential reference: seed l = x, b = 0 at the first non-NaN
    value; a NaN row emits the carried state (NaN before the seed)."""
    l = b = None
    level, trend = [], []
    for x in vals:
        if not math.isnan(x):
            if l is None:
                l, b = x, 0.0
            else:
                prev = l
                l = alpha * x + (1 - alpha) * (l + b)
                b = beta * (l - prev) + (1 - beta) * b
        level.append(NAN if l is None else l)
        trend.append(NAN if b is None else b)
    return np.array(level), np.array(trend)


def _series(n=80, seed=11):
    vals = np.random.default_rng(seed).normal(50.0, 3.0, n)
    vals[[0, 1, 37, 38, 50, n - 1]] = NAN  # start, middle, end
    return vals


@pytest.mark.parametrize("alpha,beta", [(0.2, 0.1), (0.3, 0.1), (0.7, 0.45)])
def test_holt_fold_matches_sequential_loop(alpha, beta):
    vals = _series()
    level, trend, state = holt_fold(vals, alpha, beta)
    want_l, want_b = _holt_loop(vals.tolist(), alpha, beta)
    np.testing.assert_array_equal(level, want_l)
    np.testing.assert_array_equal(trend, want_b)
    assert np.isnan(level[:2]).all() and np.isnan(trend[:2]).all()
    assert level[-1] == level[-2] and state == (level[-1], trend[-1])


def test_holt_fold_all_nan_and_empty_stay_unseeded():
    level, trend, state = holt_fold([NAN, NAN], 0.2, 0.1)
    assert np.isnan(level).all() and np.isnan(trend).all() and state is None
    level, trend, state = holt_fold(np.empty(0), 0.2, 0.1)
    assert len(level) == len(trend) == 0 and state is None
    level, _, state = holt_fold([NAN], 0.2, 0.1, state=(5.0, 1.0))
    assert level[0] == 5.0 and state == (5.0, 1.0)


@pytest.mark.parametrize("split", [0, 1, 2, 37, 50, 79, 80])
def test_holt_fold_is_chunk_invariant(split):
    vals = _series()
    whole_l, whole_b, whole_state = holt_fold(vals, 0.3, 0.1)
    l1, b1, state = holt_fold(vals[:split], 0.3, 0.1)
    l2, b2, state = holt_fold(vals[split:], 0.3, 0.1, state)
    np.testing.assert_array_equal(np.concatenate([l1, l2]), whole_l)
    np.testing.assert_array_equal(np.concatenate([b1, b2]), whole_b)
    assert state == whole_state


def test_holt_fold_beta_zero_is_the_ewma():
    vals = _series()
    level, trend, _ = holt_fold(vals, 0.2, 0.0)
    s = None
    ewma = []
    for x in vals.tolist():
        if not math.isnan(x):
            s = x if s is None else 0.2 * x + (1.0 - 0.2) * s
        ewma.append(NAN if s is None else s)
    np.testing.assert_array_equal(level, ewma)
    assert (trend[~np.isnan(trend)] == 0.0).all()


def _numpy_form(v):
    # pca.py, semdedup._quantize_units and knn.py's two quantizers
    return np.where(v >= 0, np.floor(v + 0.5), np.ceil(v - 0.5))


def _scalar_form(v):
    # seriesstats.py: the backtests' error and final-ratio roundings
    return math.floor(v + 0.5) if v >= 0 else math.ceil(v - 0.5)


def _rounding_inputs():
    rng = np.random.default_rng(5)
    k = rng.integers(-10**6, 10**6, 2000).astype(np.float64)
    return np.concatenate([
        rng.normal(0.0, 1e6, 5000),
        k + 0.5,
        k - 0.5,
        np.nextafter(k + 0.5, np.inf),
        np.nextafter(k + 0.5, -np.inf),
        [0.0, -0.0, 0.5, -0.5, 1.5, -1.5, 2.5, -2.5],
        [2.0**53, -(2.0**53), 2.0**53 + 2, 2.0**60 + 2**8, -(2.0**62)],
    ])


def test_round_half_away_equals_the_replaced_forms():
    v = _rounding_inputs()
    got = round_half_away(v)
    np.testing.assert_array_equal(got, _numpy_form(v))
    assert got.tolist() == [_scalar_form(x) for x in v.tolist()]
    assert not np.signbit(round_half_away(-0.0))
    assert round_half_away([2.5, -2.5, 0.5, -0.5]).tolist() == [3, -3, 1, -1]
    assert np.isnan(round_half_away(NAN))
    # scaled like SQL ROUND(x, 6): multiply, round, divide
    w = v / 1e6
    np.testing.assert_array_equal(round_half_away(w, 6), _numpy_form(w * 1e6) / 1e6)


def test_round_half_away_places_is_duckdb_round():
    """Python's ``round`` and ``np.round`` both differ from SQL
    ``ROUND(x, 6)`` near half-way points; ``round_half_away`` does not."""
    duckdb = pytest.importorskip("duckdb")
    rng = np.random.default_rng(9)
    grid = np.round(rng.normal(50.0, 30.0, 20000) * 1e6) / 1e6 + 5e-7
    v = np.concatenate([[49.6036855], grid, -grid, rng.normal(0.0, 100.0, 20000)])
    con = duckdb.connect()
    con.register("frame", pd.DataFrame({"v": v}))
    want = con.sql("SELECT round(v, 6) AS r FROM frame").df()["r"].to_numpy()
    np.testing.assert_array_equal(round_half_away(v, 6), want)
    assert round_half_away(49.6036855, 6) == 49.603686 != round(49.6036855, 6)
    # where the replaced floor(s + 0.5) forms rounded up
    edges = np.array([0.49999999999999994, 2.0**52 + 1, -(2.0**52 + 1)])
    want = con.sql("SELECT round(x) AS r FROM (SELECT unnest($e) AS x)",
                   params={"e": edges.tolist()}).df()["r"].to_numpy()
    np.testing.assert_array_equal(round_half_away(edges), want)
    assert (round_half_away(edges) != _numpy_form(edges)).all()


def test_backtest_error_sums_stay_exact_past_int64():
    """A 3,100-unit forecast error is 3.1e9 micro-units; its square
    alone passes 2^63, so the error sums must be exact Python ints."""
    vals = np.array([0.0, 3100.0, NAN, -3100.0, 0.0])
    level, trend, _ = holt_fold(vals, 0.2, 0.1)
    e_us = _errors_us(vals, level, trend)
    l = b = None
    want = []
    for x in vals.tolist():
        if math.isnan(x):
            continue
        if l is not None:
            want.append(_scalar_form((x - (l + b)) * 1e6))
            prev = l
            l = 0.2 * x + (1.0 - 0.2) * (l + b)
            b = 0.1 * (l - prev) + (1.0 - 0.1) * b
        else:
            l, b = x, 0.0
    assert e_us == want and all(type(e) is int for e in e_us)
    assert max(map(abs, e_us)) > 3.04e9
    s_sq = sum(e * e for e in e_us)
    assert s_sq > 2**63
    with np.errstate(over="ignore"):
        wrapped = int((np.array(e_us, dtype=np.int64) ** 2).sum())
    assert wrapped != s_sq
