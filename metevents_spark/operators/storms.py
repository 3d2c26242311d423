"""Storm detection — stateful burst merging per series.

Reference semantics (metevents/events.py:54-121): threshold the series
into precipitation bursts (runs of ``value >= instant_mass_to_start``),
then fold over bursts in time order keeping a candidate storm ``start``;
a storm closes when (enough dry time before the next burst OR the storm
exceeds the max duration) AND enough mass accumulated — or at the last
burst. Insufficient-mass bursts merge into the next storm, so state
carries across runs: this is inherently sequential *per series* and
runs as a per-series kernel (``grouped.map_series_kernel``). Scale
comes from series-key parallelism — one series' rows fit one task;
100 TB = many series.

The kernel body is numpy (vectorized threshold/run extraction; the fold
itself iterates over *bursts*, not rows).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

EVENT_SCHEMA = (
    "sid string, start timestamp_ntz, stop timestamp_ntz, "
    "duration_us long, n_points long, total double"
)

_US = np.timedelta64(1, "us")


def _reference_tstep_us(delta_us: int) -> int:
    """The reference converts the inferred delta to a timestep via
    ``to_offset(delta.resolution_string)`` (events.py:76-77 +
    utilities.py:14) — i.e. ONE unit of the largest standard unit that
    evenly divides the delta, NOT the delta itself. A 6-hourly series
    therefore gets tstep = 1 hour (resolution_string "h"), and the
    one-timestep start extension on storm close reaches back 1 hour —
    where no sample exists — rather than 6. Quirk replicated, not
    fixed (same policy as data_gap / freq_infer)."""
    for unit_us in (86_400_000_000, 3_600_000_000, 60_000_000,
                    1_000_000, 1_000, 1):
        if delta_us % unit_us == 0:
            return unit_us
    return delta_us


def infer_tstep_us(ts: np.ndarray) -> int | None:
    """Reference frequency inference (metevents/utilities.py:2-15):
    unique consecutive deltas over ``index[1:-1] - index[0:-2]`` (the
    reference's own off-by-one drops the final delta — replicated); a
    single unique delta yields the timestep (via the reference's
    resolution-unit conversion, see _reference_tstep_us), otherwise
    None."""
    if len(ts) < 3:
        return None
    deltas = ts[1:-1] - ts[0:-2]
    uniq = np.unique(deltas)
    if len(uniq) == 1:
        return _reference_tstep_us(int(uniq[0] / _US))
    return None


def _runs_of(mask: np.ndarray) -> list[tuple[int, int]]:
    """(start_pos, end_pos) inclusive for each run of True."""
    if not mask.any():
        return []
    m = mask.astype(np.int8)
    d = np.diff(m)
    starts = np.flatnonzero(d == 1) + 1
    ends = np.flatnonzero(d == -1)
    if m[0]:
        starts = np.concatenate(([0], starts))
    if m[-1]:
        ends = np.concatenate((ends, [len(m) - 1]))
    return list(zip(starts.tolist(), ends.tolist()))


def storm_find_numpy(
    ts: np.ndarray,
    values: np.ndarray,
    instant_mass_to_start: float = 0.1,
    min_storm_total: float = 0.5,
    hours_to_stop: float = 24,
    max_storm_hours: float = 336,
    tstep_us: int | None = None,
) -> list[tuple[np.datetime64, np.datetime64, float, int]]:
    """The per-series fold. ts: sorted datetime64[us]; values: float64
    (NaN = missing). Returns (start, stop, total, n_points) tuples.

    Faithful to metevents/events.py:72-121 including: the running
    ``start`` label (:89,121), totals over the *unadjusted* start
    (:100), duration from unadjusted start (:101), the one-timestep
    start extension on close unless at the series head (:116), and the
    unconditional last-burst flush (:114).
    """
    with np.errstate(invalid="ignore"):
        ind = values >= instant_mass_to_start  # NaN compares False
    runs = _runs_of(ind)
    if not runs:
        return []

    if tstep_us is None:
        tstep_us = infer_tstep_us(ts)
    if tstep_us is None:
        # Irregular series: the reference would fail to build an offset
        # (utilities.py returns None -> to_offset raises). We fall back
        # to the median positive delta so irregular event streams work.
        deltas = np.diff(ts) / _US
        deltas = deltas[deltas > 0]
        tstep_us = int(np.median(deltas)) if len(deltas) else 0
    tstep = np.timedelta64(tstep_us, "us")
    dt = np.timedelta64(int(hours_to_stop * 3_600_000_000), "us")
    max_storm = np.timedelta64(int(max_storm_hours * 3_600_000_000), "us")

    # prefix sums for O(1) NaN-skipping range totals (the reference
    # rescans data.loc[start:stop].sum() per burst — O(n*bursts)).
    csum = np.concatenate(([0.0], np.nancumsum(values)))

    events: list[tuple[np.datetime64, np.datetime64, float, int]] = []
    n_runs = len(runs)
    start_pos = runs[0][0]
    start_label = ts[start_pos]
    for i, (rs, re) in enumerate(runs):
        curr_stop = ts[re]
        if i + 1 < n_runs:
            next_start = ts[runs[i + 1][0]]
        else:
            next_start = curr_stop

        total = csum[re + 1] - csum[start_pos]
        duration = curr_stop - ts[start_pos]

        enough_dry = (next_start - curr_stop) > dt
        too_long = duration > max_storm
        enough_mass = total >= min_storm_total
        if ((enough_dry or too_long) and enough_mass) or i + 1 == n_runs:
            if start_label != ts[0]:
                adj_label = start_label - tstep
            else:
                adj_label = start_label
            # label slice data.loc[adj_label:curr_stop]
            p1 = int(np.searchsorted(ts, adj_label, side="left"))
            p2 = re
            ev_start = ts[p1]
            ev_total = csum[p2 + 1] - csum[p1]
            events.append((ev_start, curr_stop, float(ev_total), int(p2 - p1 + 1)))
            if i + 1 < n_runs:
                start_pos = runs[i + 1][0]
                start_label = ts[start_pos]
    return events


def storm_find(
    df: DataFrame,
    instant_mass_to_start: float = 0.1,
    min_storm_total: float = 0.5,
    hours_to_stop: float = 24,
    max_storm_hours: float = 336,
    tstep_us: int | None = None,
) -> DataFrame:
    """Distributed storm detection over the canonical series frame.

    Uses the streaming sorted-partition kernel (operators/grouped.py)
    rather than per-group applyInPandas — same semantics, no per-group
    pandas overhead. Its range exchange on sid is the plan's only one;
    events are ordered by ``(sid, start)`` with a within-partition sort.
    """
    from metevents_spark.operators.grouped import map_series_kernel

    def kernel(sid: str, ts: np.ndarray, values: np.ndarray) -> tuple:
        evs = storm_find_numpy(
            ts,
            values,
            instant_mass_to_start=instant_mass_to_start,
            min_storm_total=min_storm_total,
            hours_to_stop=hours_to_stop,
            max_storm_hours=max_storm_hours,
            tstep_us=tstep_us,
        )
        return tuple(zip(*[
            (sid, e[0], e[1], int((e[1] - e[0]) / _US), e[3], e[2]) for e in evs
        ]))

    return map_series_kernel(df, kernel, EVENT_SCHEMA).sortWithinPartitions(
        "sid", "start"
    )
