"""``similarity.knn.cosine_pairs``: the one within-block pair sweep of
the four embedding near-dup kernels (embedding_near_dup,
semantic_dedup, media_embedding_near_dup, stream_embedding_near_dup).

Its output must be exactly the pair set of the full-matrix form kept
here as the reference: round the whole n × n cosine matrix to 6
places, take its strict upper triangle and cut at the threshold.

``_block_near_dups`` expands ``embedding_near_dup``'s unique-row pairs
back over duplicate rows; it must give the rows of the per-pair loop
kept here as the reference, in the same order.

Data-independent: numpy only.
"""

from __future__ import annotations

from itertools import combinations

import numpy as np
import pytest

from metevents_spark.similarity.knn import _block_near_dups, cosine_pairs


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


def _expansion_loop(m, ids, threshold):
    """The per-unique-row-pair member expansion ``_block_near_dups``
    replaced: one repeat/tile per pair, then each group's own pairs."""
    uniq, inverse = np.unique(m, axis=0, return_inverse=True)
    inverse = inverse.reshape(-1)
    members = [ids[inverse == r] for r in range(len(uniq))]
    norms = np.sqrt((uniq * uniq).sum(axis=1))
    outs = [(np.empty(0, np.int64),) * 2 + (np.empty(0),)]
    for i, j, cos in zip(*cosine_pairs(uniq, norms, threshold)):
        aa = np.repeat(members[i], len(members[j]))
        bb = np.tile(members[j], len(members[i]))
        outs.append((np.minimum(aa, bb), np.maximum(aa, bb), np.full(len(aa), cos)))
    if threshold <= 1.0:
        for a in members:
            ab = np.array(list(combinations(a, 2)), np.int64).reshape(-1, 2)
            outs.append((ab[:, 0], ab[:, 1], np.full(len(ab), 1.0)))
    return tuple(np.concatenate(c) for c in zip(*outs))


@pytest.mark.parametrize("threshold", [-1.0, 0.35, 1.0, 1.5])
def test_near_dup_expansion_equals_the_pair_loop(threshold):
    """~200 seeded rows: 150 distinct vectors plus 50 copies, so some
    rows sit in groups of two, three or more, and a zero row pair."""
    rng = np.random.default_rng(3)
    base = rng.normal(size=(150, 16))
    base[4] = 0.0
    m = np.concatenate([base, base[rng.integers(0, 150, 48)], base[[4, 4]]])
    m = m[rng.permutation(len(m))]
    ids = np.sort(rng.choice(10**6, len(m), replace=False)).astype(np.int64)
    got = _block_near_dups(m, ids, threshold)
    want = _expansion_loop(m, ids, threshold)
    for g, w in zip(got, want):
        np.testing.assert_array_equal(g, w)
    if threshold == -1.0:
        # every pair of rows but the zero row's cross pairs
        n, z = len(m), 3
        assert len(got[0]) == n * (n - 1) // 2 - z * (n - z)
    assert (got[0] < got[1]).all()
