"""Streaming per-series numpy kernels over sorted partitions — the
engine's one per-series path.

``groupBy(sid).applyInPandas`` costs one pandas DataFrame construction
per *group*; with millions of small series that per-group overhead
dominates (measured ~10ms/group). This helper instead range-partitions
by sid (``runs.range_by_sid``), sorts within partitions, and runs
``mapInPandas`` with a numpy group-splitter per Arrow batch: per-batch
vectorized dtype conversion, ``np.flatnonzero`` boundary detection,
and a carry for series that straddle batch boundaries. Memory stays
O(batch + what the kernel holds for the largest series): O(n) for most
kernels, ≈12·(log2 n + 1) bytes per sample for the spike/valley
kernel's peak range tables (``peaks._sparse_tables``). Parallelism is
explicit (one shuffle on sid, with a fixed partition count), immune to
AQE coalescing the shuffle below core count just because the bytes
are small.

Kernel contract: the output schema says it all. A kernel returns one
array-like per schema field, in field order (``tuple(zip(*rows))`` for
a kernel that builds rows; ``()`` for no output). ``columns_frame``
builds each column with its field's pandas dtype and concatenates it
across the batch's series into one frame; a kernel that returns
another number of columns fails the task. Time fields are declared
``timestamp_ntz`` (the kernel sees naive datetime64[us]) and leave
with the input's ``ts`` type, as the window detectors' events do. The
seven callers: storm_find, spike_valley, lttb_downsample, ewma_smooth,
holt_smooth, holt_backtest and model_select_backtest.

``columns_frame`` is also the frame builder of the streaming kernels:
``streaming.detect.keyed_fold`` parses its output schema on the driver
and builds each step's columns with it, so batch and stream kernels
share one output contract. The four embedding near-dup kernels
(``embedding_near_dup``, ``semantic_dedup``,
``media_embedding_near_dup``, ``stream_embedding_near_dup``) build
their frames with it too.

Output order: the kernel's rows leave in input partition order, and
partitions follow sid order, so a caller that needs its output ordered
by ``(sid, ...)`` uses ``sortWithinPartitions`` — a global ``orderBy``
would add a range exchange whose sampling job re-runs the kernel
stage.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)

from metevents_spark.operators.runs import range_by_sid

#: kernel(sid, ts: datetime64[us] array, values: float64 array) -> one
#: array-like per output field, in schema order.
SeriesKernel = Callable[[str, np.ndarray, np.ndarray], Sequence]

_PANDAS_DTYPES = {
    StringType: object,
    BooleanType: bool,
    LongType: "Int64",  # nullable: a streaming step may emit None
    IntegerType: "int32",
    DoubleType: "float64",
    TimestampType: "datetime64[us]",
    TimestampNTZType: "datetime64[us]",
}


def columns_frame(
    fields: Sequence[StructField], outs: Sequence[Sequence]
) -> pd.DataFrame:
    """One frame of ``fields`` (a parsed schema) from ``outs``, which
    holds per kernel call one array-like per field, in field order.
    Each column is concatenated across the calls and built with its
    field's pandas dtype: a ``long`` column may hold None, and a time
    column takes datetime64 values or epoch micros. A call that returns
    another number of columns raises ``ValueError``."""
    for out in outs:
        if len(out) != len(fields):
            raise ValueError(
                f"a kernel returned {len(out)} columns for the"
                f" {len(fields)} fields {[f.name for f in fields]}"
            )
    columns = {}
    for i, f in enumerate(fields):
        dtype = _PANDAS_DTYPES[type(f.dataType)]
        if dtype == "Int64":
            # numpy has no nullable int: the parts keep their inferred
            # dtype (object where they hold None) and pandas masks None
            parts = [np.asarray(o[i]) for o in outs]
            columns[f.name] = pd.array(np.concatenate(parts) if parts else (), dtype)
        else:
            parts = [np.asarray(o[i], dtype) for o in outs]
            columns[f.name] = np.concatenate([np.asarray((), dtype), *parts])
    return pd.DataFrame(columns)


def series_segments(
    batches: Iterator[pd.DataFrame],
) -> Iterator[list[tuple[str, np.ndarray, np.ndarray]]]:
    """Split a partition sorted by (sid, ts, seq) into whole series.
    Per Arrow batch, yields the list of (sid, ts datetime64[us], value
    float64) series that END in it: boundaries come from one vectorized
    ``np.flatnonzero``, and the batch's last series is carried into
    the next batch, since it may continue there. The final carry is
    yielded after the last batch."""
    carry: tuple | None = None  # (sid, ts, values) of the open series
    for pdf in batches:
        n = len(pdf)
        if n == 0:
            continue
        sids = pdf["sid"].to_numpy(dtype=object)
        ts = pdf["ts"].to_numpy(dtype="datetime64[us]")
        vals = pdf["value"].to_numpy(dtype=np.float64)
        starts = np.concatenate(([0], np.flatnonzero(sids[1:] != sids[:-1]) + 1))
        ends = np.append(starts[1:], n)
        done = []
        for s, e in zip(starts.tolist(), ends.tolist()):
            sid, seg_ts, seg_v = sids[s], ts[s:e], vals[s:e]
            if carry is not None and carry[0] == sid:
                seg_ts = np.concatenate((carry[1], seg_ts))
                seg_v = np.concatenate((carry[2], seg_v))
            elif carry is not None:
                done.append(carry)
            carry = (sid, seg_ts, seg_v)
            if e < n:
                done.append(carry)
                carry = None
        yield done
    if carry is not None:
        yield [carry]


def map_series_kernel(
    df: DataFrame, kernel: SeriesKernel, schema: str
) -> DataFrame:
    """Apply ``kernel`` once per series over the canonical frame; the
    output has ``schema`` with its time fields cast to the input's
    ``ts`` type, and is range-partitioned on sid (see the module
    docstring)."""
    struct = StructType.fromDDL(schema)
    num_partitions = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    prepared = range_by_sid(df, num_partitions).sortWithinPartitions(
        "sid", "ts", "seq"
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for series in series_segments(batches):
            outs = [out for out in (kernel(*s) for s in series) if len(out)]
            if outs:
                yield columns_frame(struct.fields, outs)

    ts_type = df.schema["ts"].dataType
    return prepared.mapInPandas(run, struct).withColumns({
        f.name: F.col(f.name).cast(ts_type)
        for f in struct
        if isinstance(f.dataType, (TimestampType, TimestampNTZType))
    })
