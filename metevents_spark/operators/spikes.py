"""Spike/valley detection via peak finding — grouped-map kernel.

Reference semantics (metevents/events.py:168-248): run ``find_peaks``
on the series (spikes) and on its negation (valleys) with
height/threshold/prominence/width params; for each surviving peak ``p``
with reported width ``w`` mark positions ``int(p - w) .. int(p + w)``
True (:240-247, including the int() truncation and Python slice
semantics); then group marked runs into events.

Prominence/width are neighborhood algorithms — not SQL-expressible —
so the kernel runs once per series through
``grouped.map_series_kernel`` (one range exchange on sid, Arrow
batches, vectorized numpy peak finding from operators/peaks.py); its
output is ordered by ``(sid, start)`` with a within-partition sort.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from metevents_spark.operators.peaks import find_peaks
from metevents_spark.operators.storms import EVENT_SCHEMA, _runs_of


def spike_mask_numpy(
    values: np.ndarray,
    height=None,
    threshold=None,
    prominence: float | None = 100.0,
    width=None,
) -> np.ndarray:
    """Boolean mask of rows belonging to a spike or valley
    (metevents/events.py:199-248, width default (0, 3) at :219)."""
    width = width or (0, 3)
    mask = np.zeros(len(values), dtype=bool)
    for sign in (1.0, -1.0):
        peaks, props = find_peaks(
            values * sign,
            height=height,
            threshold=threshold,
            prominence=prominence,
            width=width,
        )
        for p, w in zip(peaks.tolist(), props.get("widths", []).tolist()):
            p1 = int(p - w)
            p2 = int(p + w) + 1
            mask[p1:p2] = True  # replicate Python slice semantics incl.
            # negative-start wraparound (events.py:241-243)
    return mask


def spike_valley(
    df: DataFrame,
    height=None,
    threshold=None,
    prominence: float | None = 100.0,
    width=None,
) -> DataFrame:
    """Distributed spike/valley events over the canonical series frame.

    Streaming sorted-partition kernel (operators/grouped.py): one sid
    range exchange, numpy peak detection per series, no per-group
    pandas; events ordered by ``(sid, start)``."""
    from metevents_spark.operators.grouped import map_series_kernel

    def kernel(sid: str, ts: np.ndarray, values: np.ndarray) -> tuple:
        mask = spike_mask_numpy(
            values, height=height, threshold=threshold,
            prominence=prominence, width=width,
        )
        rows = []
        for rs, re in _runs_of(mask):
            seg = values[rs : re + 1]
            rows.append(
                (
                    sid,
                    ts[rs],
                    ts[re],
                    int((ts[re] - ts[rs]) / np.timedelta64(1, "us")),
                    re - rs + 1,
                    float(np.nansum(seg)),
                )
            )
        return tuple(zip(*rows))

    return map_series_kernel(df, kernel, EVENT_SCHEMA).sortWithinPartitions(
        "sid", "start"
    )
