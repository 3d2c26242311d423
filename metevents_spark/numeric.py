"""The shared numeric primitives of the sequential smoothers and the
integer micro-unit paths.

- :func:`holt_fold` is the one Holt level/trend recurrence. Batch
  ``holt_smooth``, the two walk-forward backtests and the stream's
  ``stream_holt`` step all take their arrays from it, so they agree
  bit for bit.
- :func:`round_half_away` is the one half-away-from-zero rounding, what
  SQL ``ROUND(x, places)`` does on a double in DuckDB. Micro-unit
  quantizers (embeddings, backtest errors) and the smoothers' 6-place
  outputs call it.

Lint rule NU1 (tools/lint.py) keeps other copies of either out of the
package.
"""

from __future__ import annotations

import math

import numpy as np


def holt_fold(
    vals, alpha: float, beta: float, state: tuple[float, float] | None = None
) -> tuple[np.ndarray, np.ndarray, tuple[float, float] | None]:
    """Fold ``vals`` through Holt's additive-trend recurrence

        l_t = a*x_t + (1-a)*(l_{t-1} + b_{t-1})
        b_t = B*(l_t - l_{t-1}) + (1-B)*b_{t-1}

    from ``state`` = (level, trend), or, when it is None, seeding
    l = x, b = 0 at the first non-NaN value. Returns the level and
    trend after every row (NaN before the seed) and the final state
    (None while unseeded). A NaN row carries the state unchanged, and
    folding ``b`` from ``a``'s final state equals folding ``a + b``.
    The evaluation order (level before trend, each one fixed float
    expression) is the one the DuckDB recursive-CTE oracles replay;
    with ``beta=0`` the level is the EWMA recursion."""
    x = np.asarray(vals, dtype=np.float64)
    level = np.empty(len(x))
    trend = np.empty(len(x))
    seeded = state is not None
    l, b = state if seeded else (math.nan, math.nan)
    for i, v in enumerate(x.tolist()):
        if v == v:  # NaN rows carry the state
            if seeded:
                prev = l
                l = alpha * v + (1.0 - alpha) * (l + b)
                b = beta * (l - prev) + (1.0 - beta) * b
            else:
                l, b, seeded = v, 0.0, True
        level[i] = l
        trend[i] = b
    return level, trend, ((l, b) if seeded else None)


def round_half_away(v, places: int = 0) -> np.ndarray:
    """``v`` rounded to ``places`` decimals with halves away from zero,
    as float64: ``v * 10^places`` goes to the nearest integer and is
    divided back, which is DuckDB's SQL ``ROUND`` on a double
    (``np.round`` is half-even, and Python's ``round`` rounds the exact
    binary value, so each differs from it near a half-way point).
    With ``places=0`` the result holds integers, for an ``int64`` or
    exact Python-int cast. Exact for every double, where the
    ``floor(s + 0.5)`` form rounds 0.49999999999999994 and the odd
    integers between 2^52 and 2^53 up. NaN stays NaN; -0.0 gives 0.0."""
    scale = 10.0**places
    s = np.asarray(v, dtype=np.float64) * scale
    t = np.trunc(s)  # s - t is exact: a double's fraction is a double
    return (t + np.where(np.abs(s - t) >= 0.5, np.sign(s), 0.0)) / scale
