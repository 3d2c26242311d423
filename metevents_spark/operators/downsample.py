"""Largest-Triangle-Three-Buckets series downsampling.

LTTB (Steinarsson 2013, "Downsampling Time Series for Visual
Representation") keeps the n_out points that best preserve a series'
visual shape: first and last point always survive, the middle splits
into n_out-2 equal buckets, and each bucket contributes the point
forming the largest triangle with the previously selected point and
the next bucket's centroid. The selection is inherently sequential
(each choice depends on the previous one), so no WINDOW formulation
exists — the committed oracle is a DuckDB recursive CTE that replays
the 18-step selection exactly (see queries.py) — and the Spark side
is a per-series numpy kernel on the shared
sorted-partition mapper (operators/grouped.py): ONE sid exchange,
vectorized per-bucket argmax, O(n) per series.

At 100 TB the parallelism axis is series count (the kernel never sees
more than one series' points at once), exactly like storm_find — a
dashboard tier downsampling millions of metrics concurrently.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from metevents_spark.io import series_frame
from metevents_spark.operators.grouped import map_series_kernel

_OUT_SCHEMA = "sid string, ts timestamp_ntz, value double"


def lttb_numpy(ts: np.ndarray, vals: np.ndarray, n_out: int) -> np.ndarray:
    """Indices of the LTTB-selected points (sorted ascending).

    NaN values are excluded up front (a NaN y poisons every triangle
    area it touches); callers index the original arrays with the
    returned positions.
    """
    ok = ~np.isnan(vals)
    idx = np.flatnonzero(ok)
    n = len(idx)
    if n <= n_out or n_out < 3:
        return idx if n <= n_out else idx[: max(n_out, 0)]
    x = ts[idx].astype("datetime64[us]").astype(np.int64).astype(np.float64)
    y = vals[idx]
    # bucket boundaries over the middle n-2 points
    edges = np.linspace(1, n - 1, n_out - 1).astype(np.int64)
    selected = [0]
    prev = 0
    for b in range(n_out - 2):
        s, e = edges[b], edges[b + 1]
        nxt_s, nxt_e = (edges[b + 1], n) if b == n_out - 3 else (
            edges[b + 1], edges[b + 2]
        )
        cx = x[nxt_s:nxt_e].mean()
        cy = y[nxt_s:nxt_e].mean()
        ax, ay = x[prev], y[prev]
        # twice the triangle area for every candidate in the bucket
        area = np.abs(
            (ax - cx) * (y[s:e] - ay) - (ax - x[s:e]) * (cy - ay)
        )
        prev = s + int(np.argmax(area))
        selected.append(prev)
    selected.append(n - 1)
    return idx[np.asarray(selected, dtype=np.int64)]


def lttb_downsample(
    spark: SparkSession, sf_dir: str, n_out: int = 20
) -> DataFrame:
    """Downsample every series to at most ``n_out`` shape-preserving
    points (LTTB). Oracle-backed since round 7 (recursive-CTE replay,
    bit-exact at sf0.001/0.01/0.1);
    tests/test_downsample.py holds the kernel to a reference
    implementation and pins the invariants (endpoints kept, output
    sorted, size == min(n, n_out))."""
    df = series_frame(spark, sf_dir)

    def kernel(sid: str, ts: np.ndarray, vals: np.ndarray) -> tuple:
        keep = lttb_numpy(ts, vals, n_out)
        return np.full(len(keep), sid, dtype=object), ts[keep], vals[keep]

    return map_series_kernel(df, kernel, _OUT_SCHEMA).sortWithinPartitions(
        "sid", "ts"
    )
