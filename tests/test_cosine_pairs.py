"""``similarity.knn.cosine_pairs``: the one within-block pair sweep of
the four embedding near-dup kernels (embedding_near_dup,
semantic_dedup, media_embedding_near_dup, stream_embedding_near_dup).

Its output must be exactly the pair set of the full-matrix form kept
here as the reference: round the whole n × n cosine matrix to 6
places, take its strict upper triangle and cut at the threshold.

Data-independent: numpy only.
"""

from __future__ import annotations

import numpy as np
import pytest

from metevents_spark.similarity.knn import cosine_pairs


def _reference(m, norms, threshold, start):
    with np.errstate(divide="ignore", invalid="ignore"):
        sims = np.round((m @ m.T) / np.outer(norms, norms), 6)
    ra, rb = np.triu_indices(len(m), k=1)
    keep = (rb >= start) & (sims[ra, rb] >= threshold)
    return set(zip(ra[keep].tolist(), rb[keep].tolist(), sims[ra, rb][keep].tolist()))


def _block(n, dim=16, seed=0):
    """n rows with duplicate rows (cosine exactly 1.0 with their copy),
    a scaled copy and a zero-norm row, once n is large enough."""
    m = np.random.default_rng(seed).normal(size=(n, dim))
    if n > 10:
        m[7] = m[3]
        m[9] = 2.5 * m[3]
        m[5] = 0.0
    return m


@pytest.mark.parametrize("n", [0, 1, 2, 12, 1100])
@pytest.mark.parametrize("threshold", [-1.0, 0.35, 1.0])
def test_pairs_equal_the_full_matrix_form(n, threshold):
    m = _block(n)
    norms = np.sqrt((m * m).sum(axis=1))
    for start in sorted({0, n // 2, 511, 513, n}):
        i, j, cos = cosine_pairs(m, norms, threshold, start=start)
        got = set(zip(i.tolist(), j.tolist(), cos.tolist()))
        assert len(got) == len(i)
        assert got == _reference(m, norms, threshold, min(start, n))


def test_output_is_row_major_in_j_with_i_ascending():
    m = _block(1100)
    i, j, _ = cosine_pairs(m, np.sqrt((m * m).sum(axis=1)), -1.0)
    order = np.lexsort((i, j))
    np.testing.assert_array_equal(order, np.arange(len(i)))
    assert (i < j).all()
    assert len(i) == 1099 * 1098 // 2  # every pair but the zero row's


def test_duplicates_and_zero_norm_row():
    m = _block(1100)
    norms = np.sqrt((m * m).sum(axis=1))
    with np.errstate(all="raise"):  # no divide-by-zero RuntimeWarning
        i, j, cos = cosine_pairs(m, norms, 1.0)
    assert {(3, 7), (3, 9), (7, 9)} <= set(zip(i.tolist(), j.tolist()))
    assert (cos == 1.0).all()
    for t in (-1.0, 0.35, 1.0):
        i, j, _ = cosine_pairs(m, norms, t)
        assert 5 not in set(i.tolist()) | set(j.tolist())


def test_unit_rows_with_unit_norms_are_the_plain_dot():
    """media_embedding_near_dup passes unit rows with norms 1.0: the
    cosine is then round(m_i·m_j, 6), with no division in the way."""
    m = _block(600)
    m[5] = 1.0
    m /= np.sqrt((m * m).sum(axis=1))[:, None]
    i, j, cos = cosine_pairs(m, np.ones(len(m)), 0.2)
    dots = np.round(m @ m.T, 6)
    ra, rb = np.triu_indices(len(m), k=1)
    keep = dots[ra, rb] >= 0.2
    assert set(zip(i.tolist(), j.tolist(), cos.tolist())) == set(
        zip(ra[keep].tolist(), rb[keep].tolist(), dots[ra, rb][keep].tolist())
    )
