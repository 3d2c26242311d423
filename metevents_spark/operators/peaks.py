"""Pure-numpy reimplementation of the published ``scipy.signal.find_peaks``
semantics (local maxima + height / threshold / prominence / width
filters), written from the SciPy public documentation and papers — no
scipy available in this environment.

Needed because the reference's spike/valley detector
(metevents/events.py:199-248) is defined directly in terms of
``find_peaks(series, height, threshold, prominence, width)`` and its
``widths`` property. Verified against the reference's golden
expectations (11 events on flv.csv, /root/reference/tests/test_events.py:118-176).

``local_maxima`` and ``peak_prominences`` are vectorized numpy (no
per-sample Python): plateaus come from value-change boundaries, and
each peak's base interval and minimum from sparse range tables
searched by binary lifting. tests/test_peaks.py holds both to the
sample-by-sample loops of the published algorithm, bit for bit.
"""

from __future__ import annotations

import numpy as np


def local_maxima(x: np.ndarray) -> np.ndarray:
    """Indices of strict local maxima; flat peaks yield their midpoint
    (left_edge + right_edge) // 2. First/last samples never qualify.

    A plateau is a maximal run of equal samples (NaN never equals
    anything, so each NaN is its own run); it is a peak when both
    neighbours exist and are strictly lower."""
    n = len(x)
    if n < 3:
        return np.empty(0, dtype=np.intp)
    change = np.flatnonzero(x[1:] != x[:-1]) + 1
    starts = change[:-1]  # runs with a left neighbour and a right one
    ends = change[1:] - 1
    peak = (x[starts - 1] < x[starts]) & (x[ends + 1] < x[starts])
    return ((starts[peak] + ends[peak]) // 2).astype(np.intp)


def _unpack_interval(val) -> tuple[float | None, float | None]:
    if val is None:
        return None, None
    if np.isscalar(val):
        return float(val), None
    lo, hi = val
    return (None if lo is None else float(lo)), (None if hi is None else float(hi))


def _sparse_tables(x: np.ndarray):
    """Level ``k`` covers the 2**k samples starting at each index: an
    argmax that picks a NaN if the block holds one (so ``x[argmax]``
    is the NaN-propagating maximum), and the argmin preferring the
    rightmost / leftmost of equal minima. Entries past ``n - 2**k`` are
    unused. Three int32 tables of ``n.bit_length()`` levels: about
    12 * (log2(n) + 1) bytes per sample, 1.5 MB for a station-year of
    hourly samples, 2.9 GB for 10M samples."""
    n = len(x)
    levels = max(n.bit_length(), 1)
    idx_t = np.int32 if n < 2**31 else np.intp
    arg_max, arg_r, arg_l = np.empty((3, levels, n), dtype=idx_t)
    arg_max[0] = arg_r[0] = arg_l[0] = np.arange(n, dtype=idx_t)
    # block maxima / minima of the level below; the two argmin tables
    # differ only between equal minima, so one ``lo`` serves both
    hi = lo = x
    for k in range(1, levels):
        half, m = 1 << (k - 1), n - (1 << k) + 1
        ha, hb, la, lb = hi[:m], hi[half : half + m], lo[:m], lo[half : half + m]
        up, right, left = (hb > ha) | np.isnan(hb), lb <= la, lb < la
        for t, pick in ((arg_max, up), (arg_r, right), (arg_l, left)):
            t[k, :m] = np.where(pick, t[k - 1, half : half + m], t[k - 1, :m])
        hi, lo = np.where(up, hb, ha), np.where(left, lb, la)
    return arg_max, arg_r, arg_l


def _range_argmin(x, table, lo, hi, prefer_right: bool) -> np.ndarray:
    """Argmin of ``x[lo..hi]`` (inclusive) per query, from two
    overlapping power-of-two blocks."""
    k = np.frexp(hi - lo + 1)[1] - 1  # floor(log2(length)), exact
    a = table[k, lo]
    b = table[k, hi - (1 << k) + 1]
    pick_b = x[b] <= x[a] if prefer_right else x[b] < x[a]
    return np.where(pick_b, b, a)


def peak_prominences(
    x: np.ndarray, peaks: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Prominence of each peak: height above the higher of the two
    bases, where each base is the minimum between the peak and the
    nearest strictly-higher (or NaN) sample or signal border on that
    side — the rightmost equal minimum on the left, the leftmost on
    the right.

    The nearest higher-or-NaN sample on each side comes from binary
    lifting over the range-argmax table (a block is skipped only if
    its maximum, NaN-propagating, is <= the peak), the base from the
    range-argmin tables; O(n log n) time and table memory for the
    whole series (see :func:`_sparse_tables`)."""
    peaks = np.asarray(peaks, dtype=np.intp)
    n = len(x)
    if len(peaks) == 0:
        empty = np.empty(0, dtype=np.intp)
        return np.empty(0, dtype=np.float64), empty, empty.copy()
    arg_max, arg_r, arg_l = _sparse_tables(x)
    xp = x[peaks]
    left = peaks.copy()  # first index of the run of samples <= x[p]
    right = peaks.copy()  # last index of that run
    for k in range(arg_max.shape[0] - 1, -1, -1):
        step = 1 << k
        cand = left - step
        ok = cand >= 0
        ok[ok] &= x[arg_max[k, cand[ok]]] <= xp[ok]
        left = np.where(ok, cand, left)
        cand = right + 1
        ok = right + step <= n - 1
        ok[ok] &= x[arg_max[k, cand[ok]]] <= xp[ok]
        right = np.where(ok, right + step, right)
    left_bases = _range_argmin(x, arg_r, left, peaks, prefer_right=True)
    right_bases = _range_argmin(x, arg_l, peaks, right, prefer_right=False)
    left_min, right_min = x[left_bases], x[right_bases]
    prom = xp - np.where(right_min > left_min, right_min, left_min)
    return prom, left_bases.astype(np.intp), right_bases.astype(np.intp)


def peak_widths(
    x: np.ndarray,
    peaks: np.ndarray,
    prominences: np.ndarray,
    left_bases: np.ndarray,
    right_bases: np.ndarray,
    rel_height: float = 0.5,
) -> np.ndarray:
    """Width of each peak at ``peak_height - prominence * rel_height``,
    with linear interpolation at the crossing points."""
    widths = np.empty(len(peaks), dtype=np.float64)
    for k, p in enumerate(peaks):
        height = x[p] - prominences[k] * rel_height
        i_min = left_bases[k]
        i_max = right_bases[k]
        i = p
        while i_min < i and height < x[i]:
            i -= 1
        left_ip = float(i)
        if x[i] < height:
            left_ip += (height - x[i]) / (x[i + 1] - x[i])
        i = p
        while i < i_max and height < x[i]:
            i += 1
        right_ip = float(i)
        if x[i] < height:
            right_ip -= (height - x[i]) / (x[i - 1] - x[i])
        widths[k] = right_ip - left_ip
    return widths


def find_peaks(
    x: np.ndarray,
    height=None,
    threshold=None,
    prominence=None,
    width=None,
) -> tuple[np.ndarray, dict]:
    """Subset of the scipy ``find_peaks`` contract the reference uses:
    filters applied in order height -> threshold -> prominence ->
    width; returns surviving peak indices + properties incl. widths."""
    x = np.asarray(x, dtype=np.float64)
    peaks = local_maxima(x)
    props: dict = {}

    if height is not None:
        hmin, hmax = _unpack_interval(height)
        ph = x[peaks]
        keep = np.ones(len(peaks), dtype=bool)
        if hmin is not None:
            keep &= ph >= hmin
        if hmax is not None:
            keep &= ph <= hmax
        peaks = peaks[keep]
        props["peak_heights"] = x[peaks]

    if threshold is not None:
        tmin, tmax = _unpack_interval(threshold)
        lt = x[peaks] - x[peaks - 1]
        rt = x[peaks] - x[peaks + 1]
        mins = np.minimum(lt, rt)
        maxs = np.maximum(lt, rt)
        keep = np.ones(len(peaks), dtype=bool)
        if tmin is not None:
            keep &= mins >= tmin
        if tmax is not None:
            keep &= maxs <= tmax
        peaks = peaks[keep]

    need_prominence = prominence is not None or width is not None
    if need_prominence:
        prom, lb, rb = peak_prominences(x, peaks)
        if prominence is not None:
            pmin, pmax = _unpack_interval(prominence)
            keep = np.ones(len(peaks), dtype=bool)
            if pmin is not None:
                keep &= prom >= pmin
            if pmax is not None:
                keep &= prom <= pmax
            peaks = peaks[keep]
            prom, lb, rb = prom[keep], lb[keep], rb[keep]
        props["prominences"] = prom
        props["left_bases"] = lb
        props["right_bases"] = rb

    if width is not None:
        widths = peak_widths(x, peaks, prom, lb, rb)
        wmin, wmax = _unpack_interval(width)
        keep = np.ones(len(peaks), dtype=bool)
        if wmin is not None:
            keep &= widths >= wmin
        if wmax is not None:
            keep &= widths <= wmax
        peaks = peaks[keep]
        widths = widths[keep]
        for key in ("prominences", "left_bases", "right_bases"):
            props[key] = props[key][keep]
        props["widths"] = widths

    return peaks, props
