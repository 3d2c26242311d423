"""Structured Streaming surface: windowed rollups, session windows, and
incremental stateful detectors.

The reference is batch-only (SURVEY.md §2.8); this is the streaming
story its semantics map onto: threshold bursts + merge rules become a
keyed stateful operator whose state is the *open* suffix of each
series — storms are emitted as soon as their close is provable from
data seen so far (a later burst confirms the dry gap, or the
max-duration rule fires), and the buffer is trimmed to rows after the
last emitted stop, so state stays bounded by the active storm length
regardless of stream length.

Every per-key fold here is a ``step`` run by ``keyed_fold``, whose
docstring holds the one ordering contract they share. A step returns
its output as columns: one array-like per field of its
``*_OUTPUT_SCHEMA``, in field order (``tuple(zip(*rows))`` for a step
that builds rows), and ``keyed_fold`` builds the frame from the schema
with ``grouped.columns_frame``, the batch kernels' builder.

STATE-SCHEMA RULE: a kernel's ``*_STATE_SCHEMA`` is the on-disk
layout of every running stream's checkpoint, and its step unpacks it
POSITIONALLY. New state fields are therefore APPENDED at the end of
the struct — inserting mid-struct silently misaligns every later
field on restore.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Sequence
from functools import partial

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from metevents_spark.numeric import holt_fold, round_half_away
from metevents_spark.operators.grouped import columns_frame
from metevents_spark.operators.storms import storm_find_numpy

US = 1_000_000

#: step(key, state or None, rows) -> (one array-like per output field,
#: or None / () for no output; new state)
FoldStep = Callable[[tuple, "tuple | None", pd.DataFrame], tuple]


def fold_chunks(
    step: FoldStep,
    key: tuple,
    state,
    chunks: Iterable[pd.DataFrame],
    fields: Sequence[StructField],
) -> tuple[list[pd.DataFrame], tuple]:
    """``keyed_fold``'s per-key body without Spark: one trigger's
    chunks for ``key``, concatenated and stable-sorted once, folded by
    ``step``, whose columns become a frame of ``fields`` (the parsed
    output schema). -> (output frames, new state)."""
    rows = pd.concat(list(chunks), ignore_index=True)
    order = ["ts", "seq"] if "seq" in rows.columns else ["ts"]
    rows = rows.sort_values(order, kind="stable", ignore_index=True)
    out, new_state = step(key, state, rows)
    return ([columns_frame(fields, [out])] if out else []), new_state


def keyed_fold(
    frame: DataFrame,
    keys: list[str],
    step: FoldStep,
    output_schema,
    state_schema: StructType,
) -> DataFrame:
    """Append-mode ``applyInPandasWithState`` over ``frame`` grouped by
    ``keys``: per key and trigger, ``step(key, state, rows)`` gets the
    state tuple (``None`` for a new key) and returns (columns, new
    state tuple).

    Output contract, the batch kernels' (``grouped.map_series_kernel``):
    the output schema says it all. ``output_schema`` (DDL string or
    StructType) is parsed once here, on the driver. ``columns`` holds
    one array-like per field, in field order (``tuple(zip(*rows))`` for
    a step that builds rows), or is None or ``()`` for no output.
    ``grouped.columns_frame`` builds each field with its pandas dtype:
    a ``long`` may hold None, a time field takes datetime64 values or
    epoch micros. A step that returns another number of columns fails
    the task.

    Ordering contract shared by every kernel built on it:

    - Per trigger, Spark hands a key's rows over in chunks of at most
      ``spark.sql.execution.arrow.maxRecordsPerBatch`` rows. They are
      concatenated and STABLE-sorted once by (ts, seq) — by ts alone
      when the frame has no seq column; equal keys keep their arrival
      order. ``rows`` is the key's whole trigger in event-time order,
      so the result does not depend on the Arrow batch size.
    - Across triggers, a kernel whose state records the last folded
      (ts, seq) drops the rows before it with ``drop_late`` and counts
      them in its ``n_late`` state field: folding them would rewrite a
      result already emitted. The other kernels need per-key event
      time to be non-decreasing across triggers.
    - ``state_schema`` is the checkpoint's positional layout (module
      docstring): new fields are appended at its end, never inserted.
    """

    if isinstance(output_schema, str):
        output_schema = StructType.fromDDL(output_schema)
    fields = output_schema.fields

    def fn(key, chunks, state: GroupState):
        frames, new_state = fold_chunks(
            step, key, state.get if state.exists else None, chunks, fields
        )
        state.update(new_state)
        yield from frames

    return frame.groupBy(*keys).applyInPandasWithState(
        fn, output_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def _ts_us(rows: pd.DataFrame) -> np.ndarray:
    return rows["ts"].to_numpy(dtype="datetime64[us]").astype("int64")


def drop_late(
    rows: pd.DataFrame, last_us: int | None, last_seq: int | None
) -> tuple[pd.DataFrame, int]:
    """The sorted trigger ``rows`` minus those strictly before the last
    folded (ts, seq), and how many were dropped (``keyed_fold``'s
    late-row rule; a frame without seq compares as seq 0)."""
    if last_us is None:
        return rows, 0
    us = _ts_us(rows)
    seq = (
        rows["seq"].to_numpy(dtype="int64")
        if "seq" in rows.columns
        else np.zeros(len(rows), dtype="int64")
    )
    late = (us < last_us) | ((us == last_us) & (seq < last_seq))
    return rows[~late], int(late.sum())


def stream_daily_rollup(stream_df: DataFrame, watermark: str = "1 day") -> DataFrame:
    """Tumbling 1-day windows per event_type with late-data watermark
    (append-mode safe)."""
    return (
        stream_df.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 day").alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 3).alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("day"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def stream_sessions(
    stream_df: DataFrame, gap: str = "4 hours", watermark: str = "1 day"
) -> DataFrame:
    """Native session windows per user keyed on inactivity gap — the
    streaming dual of operators/sessions.py."""
    return (
        stream_df.withWatermark("ts", watermark)
        .groupBy(
            F.session_window(F.col("ts"), gap).alias("win"),
            F.col("user_id"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 3).alias("total"),
        )
        .select(
            F.col("user_id"),
            F.col("win.start").alias("start"),
            F.col("win.end").alias("stop"),
            "n_events",
            "total",
        )
    )


STORM_OUTPUT_SCHEMA = StructType(
    [
        StructField("sid", StringType()),
        StructField("start_us", LongType()),
        StructField("stop_us", LongType()),
        StructField("n_points", LongType()),
        StructField("total", DoubleType()),
    ]
)

STORM_STATE_SCHEMA = StructType(
    [
        StructField("ts_us", ArrayType(LongType())),
        StructField("vals", ArrayType(DoubleType())),
        StructField("at_head", LongType()),  # buffer still contains series head
    ]
)


def _closed_storms(
    ts: np.ndarray,
    vals: np.ndarray,
    instant_mass_to_start: float,
    min_storm_total: float,
    hours_to_stop: float,
    max_storm_hours: float,
    tstep_us: int | None,
) -> list:
    """Run the batch kernel on the buffer and keep its provably closed
    events. Every event but the last closed under the batch rule. The
    last one may exist only because of the last-burst flush
    (metevents/events.py:114); the batch fold closes it only once data
    later than ``stop + hours_to_stop`` exists (the next burst must
    find it dry) AND its mass from its unadjusted start reaches
    ``min_storm_total`` — a lighter one merges into the next burst.

    The kernel's "start != first row" head check needs the true series
    head; the buffer keeps it until the first trim, and after a trim
    its first row follows a storm's stop, so it is never a burst."""
    events = storm_find_numpy(
        ts,
        vals,
        instant_mass_to_start=instant_mass_to_start,
        min_storm_total=min_storm_total,
        hours_to_stop=hours_to_stop,
        max_storm_hours=max_storm_hours,
        tstep_us=tstep_us,
    )
    if not events:
        return []
    *closed, last = events
    dry = np.timedelta64(int(hours_to_stop * 3600 * US), "us")
    if ts[-1] - last[1] <= dry:
        return closed

    def end(event) -> int:  # index past the event's last row
        return int(np.searchsorted(ts, event[0], "left")) + event[3]

    lo = end(closed[-1]) if closed else 0
    hi = end(last)
    start = lo + int(np.argmax(vals[lo:hi] >= instant_mass_to_start))
    csum = np.concatenate(([0.0], np.nancumsum(vals)))
    if csum[hi] - csum[start] >= min_storm_total:
        closed.append(last)
    return closed


def _advance_storm_buffer(
    key: tuple,
    state,
    rows: pd.DataFrame,
    instant_mass_to_start: float,
    min_storm_total: float,
    hours_to_stop: float,
    max_storm_hours: float,
    tstep_us: int | None,
):
    """Storm step of :func:`stream_storm_find`: merge the trigger's rows
    into the buffered open suffix, run the batch kernel, emit the
    provably closed storms, and trim the buffer past the last emitted
    stop.
    The state is the STORM_STATE_SCHEMA tuple (ts_us list, vals list,
    at_head flag)."""
    ts_buf, val_buf, at_head = state if state is not None else ([], [], 1)
    ts_arr = np.concatenate((np.asarray(ts_buf, dtype=np.int64), _ts_us(rows)))
    val_arr = np.concatenate(
        (
            np.asarray(val_buf, dtype=np.float64),
            rows["value"].to_numpy(dtype=np.float64),
        )
    )
    order = np.argsort(ts_arr, kind="stable")
    ts_arr = ts_arr[order].astype("datetime64[us]")
    val_arr = val_arr[order]

    closed = _closed_storms(
        ts_arr,
        val_arr,
        instant_mass_to_start,
        min_storm_total,
        hours_to_stop,
        max_storm_hours,
        tstep_us,
    )
    out = tuple(zip(*[
        (key[0], e[0].astype(np.int64), e[1].astype(np.int64), e[3], e[2])
        for e in closed
    ]))
    if closed:
        # bounded state: keep only rows after the last emitted stop
        keep = ts_arr > closed[-1][1]
        ts_arr, val_arr, at_head = ts_arr[keep], val_arr[keep], 0
    new_state = (ts_arr.astype("int64").tolist(), val_arr.tolist(), int(at_head))
    return out, new_state


def stream_storm_find(
    stream_df: DataFrame,
    instant_mass_to_start: float = 0.1,
    min_storm_total: float = 0.5,
    hours_to_stop: float = 24,
    max_storm_hours: float = 336,
    tstep_us: int | None = None,
) -> DataFrame:
    """Incremental storm detection over a streaming canonical frame
    (sid, ts, value). Emits each storm exactly once, as soon as its
    close is provable. Use ``ts_micros(start_us)`` downstream to get
    timestamps (kept as long for a stable Arrow state schema).

    State per series is the buffer after the last emitted storm. A
    burst lighter than ``min_storm_total`` stays buffered, with the dry
    rows after it, until the next burst merges into it — as in batch,
    where the merged storm's points and total include that gap."""
    step = partial(
        _advance_storm_buffer,
        instant_mass_to_start=instant_mass_to_start,
        min_storm_total=min_storm_total,
        hours_to_stop=hours_to_stop,
        max_storm_hours=max_storm_hours,
        tstep_us=tstep_us,
    )
    return keyed_fold(
        stream_df.select(
            F.col("sid"), F.col("ts"), F.col("value").cast("double")
        ),
        ["sid"],
        step,
        STORM_OUTPUT_SCHEMA,
        STORM_STATE_SCHEMA,
    )


def stream_dedup(
    stream_df: DataFrame,
    key_cols: list[str] | None = None,
    watermark: str = "1 day",
) -> DataFrame:
    """Streaming exact deduplication: keep the first arrival of each
    key, with state bounded by the watermark horizon
    (``dropDuplicatesWithinWatermark`` — late duplicates beyond the
    watermark age out of state instead of growing it forever, the only
    viable contract for an unbounded 100 TB/day stream)."""
    keys = key_cols or ["event_id"]
    return stream_df.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        keys
    )


def _clean_series(stream_df: DataFrame) -> DataFrame:
    """(sid, ts, value[, seq]) with NULL/NaN values dropped, for the
    per-series kernels; seq rides along as the order tiebreaker when
    the source has it."""
    cols = [F.col("sid"), F.col("ts"), F.col("value").cast("double")]
    if "seq" in stream_df.columns:
        cols.append(F.col("seq"))
    return stream_df.select(*cols).filter(
        F.col("value").isNotNull() & ~F.isnan("value")
    )


def _prior_z(state_n, state_s1, state_s2, v: np.ndarray):
    """Each point's z-score against the running mean/std of everything
    BEFORE it: prefix sums shifted by one give every row its prior
    (n, sum, sumsq) in one numpy pass. -> (n_prior, sd, z)."""
    n_prior = state_n + np.arange(len(v), dtype=np.int64)
    s1_prior = state_s1 + np.concatenate(([0.0], np.cumsum(v)[:-1]))
    s2_prior = state_s2 + np.concatenate(([0.0], np.cumsum(v * v)[:-1]))
    with np.errstate(invalid="ignore", divide="ignore"):
        mean = s1_prior / n_prior
        var = (s2_prior - s1_prior * s1_prior / n_prior) / (n_prior - 1)
        sd = np.sqrt(np.maximum(var, 0.0))
        z = (v - mean) / sd
    return n_prior, sd, z


ZSCORE_OUTPUT_SCHEMA = "sid string, ts timestamp, value double, z double"
ZSCORE_STATE_SCHEMA = StructType(
    [
        StructField("n", LongType()),
        StructField("s1", DoubleType()),
        StructField("s2", DoubleType()),
    ]
)


def _zscore_step(key, state, rows, z_thresh: float, min_n: int):
    """Prior-history z-score step: each point is scored against the
    running mean/std of everything BEFORE it, then folded into the
    state — so the verdict on a point never depends on how the stream
    was chunked into micro-batches (the chunking-invariance property
    test pins this)."""
    n0, s1_0, s2_0 = state if state is not None else (0, 0.0, 0.0)
    v = rows["value"].to_numpy(dtype=np.float64)
    n_prior, sd, z = _prior_z(n0, s1_0, s2_0, v)
    new_state = (n0 + len(v), s1_0 + float(v.sum()), s2_0 + float((v * v).sum()))
    ok = (n_prior >= min_n) & (sd > 0) & (np.abs(z) > z_thresh)
    if not ok.any():
        return None, new_state
    return (
        rows["sid"][ok], rows["ts"][ok], v[ok], round_half_away(z[ok], 6)
    ), new_state


def stream_zscore(
    stream_df: DataFrame,
    z_thresh: float = 3.0,
    min_n: int = 30,
) -> DataFrame:
    """Streaming z-score anomalies: the incremental counterpart of
    ``zscore_anomaly`` (operators/seriesstats.py). State per series is
    THREE numbers (count, sum, sum-of-squares) — constant regardless
    of stream length, no watermark needed. Sum-of-squares running
    variance is numerically fine at sensor value magnitudes; a
    Welford rewrite drops in behind the same state schema if inputs
    ever reach 1e8+.
    """
    step = partial(_zscore_step, z_thresh=z_thresh, min_n=min_n)
    return keyed_fold(
        _clean_series(stream_df),
        ["sid"],
        step,
        ZSCORE_OUTPUT_SCHEMA,
        ZSCORE_STATE_SCHEMA,
    )


CUSUM_OUTPUT_SCHEMA = (
    "sid string, ts timestamp, value double, s_pos double, s_neg double"
)
CUSUM_STATE_SCHEMA = StructType(
    [
        StructField("n", LongType()),
        StructField("s1", DoubleType()),
        StructField("s2", DoubleType()),
        StructField("cp", DoubleType()),
        StructField("cpmin", DoubleType()),
        StructField("cn", DoubleType()),
        StructField("cnmin", DoubleType()),
    ]
)


def _cusum_step(key, state, rows, h: float, min_n: int, slack: float = 0.5):
    """Two-sided CUSUM step with prior-history standardization: each
    point's z-score uses the running mean/std of everything BEFORE it
    (chunking-invariant, like ``_zscore_step``). Each side folds
    z -/+ slack into its cumulative path; the statistic is
    path - running_min(path) (the closed form of
    ``max(0, S + z - k)``), so the slack absorbs stationary noise and
    only sustained shifts accumulate. State is seven numbers per
    series. Vectorized: shifted prefix sums for the prior stats,
    cumsum for the paths, minimum.accumulate for the extrema.
    """
    n0, s1_0, s2_0, cp0, cpmin0, cn0, cnmin0 = (
        state if state is not None else (0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0)
    )
    v = rows["value"].to_numpy(dtype=np.float64)
    n_prior, sd, z = _prior_z(n0, s1_0, s2_0, v)
    live = (n_prior >= min_n) & (sd > 0)
    cp = cp0 + np.cumsum(np.where(live, z - slack, 0.0))
    cn = cn0 + np.cumsum(np.where(live, -z - slack, 0.0))
    cpmin = np.minimum(cpmin0, np.minimum.accumulate(cp))
    cnmin = np.minimum(cnmin0, np.minimum.accumulate(cn))
    s_pos = cp - cpmin
    s_neg = cn - cnmin
    new_state = (
        n0 + len(v),
        s1_0 + float(v.sum()),
        s2_0 + float((v * v).sum()),
        float(cp[-1]),
        float(cpmin[-1]),
        float(cn[-1]),
        float(cnmin[-1]),
    )
    ok = (s_pos > h) | (s_neg > h)
    if not ok.any():
        return None, new_state
    return (
        rows["sid"][ok], rows["ts"][ok], v[ok],
        round_half_away(s_pos[ok], 6), round_half_away(s_neg[ok], 6),
    ), new_state


def stream_cusum(
    stream_df: DataFrame,
    h: float = 5.0,
    min_n: int = 30,
) -> DataFrame:
    """Streaming CUSUM mean-shift alarms: the incremental counterpart
    of the batch ``cusum_alarm`` (operators/changepoint.py). State per
    series is SEVEN numbers — running count/sum/sumsq for the
    standardizer plus each side's cumulative path value and running
    minimum — constant regardless of stream length, no watermark
    needed. NULL/NaN values are filtered up front like the batch
    operator: one NaN reaching the numpy fold would make every later
    cumulative sum (and so every future alarm) NaN for that series."""
    return keyed_fold(
        _clean_series(stream_df),
        ["sid"],
        partial(_cusum_step, h=h, min_n=min_n),
        CUSUM_OUTPUT_SCHEMA,
        CUSUM_STATE_SCHEMA,
    )


HOLT_OUTPUT_SCHEMA = (
    "sid string, ts timestamp, value double, level double, trend double"
)
HOLT_STATE_SCHEMA = StructType(
    [
        StructField("l", DoubleType()),
        StructField("b", DoubleType()),
    ]
)


def _holt_step(key, state, rows, alpha: float, beta: float):
    """Holt step: fold the rows through
    :func:`metevents_spark.numeric.holt_fold` from the carried (level,
    trend) and round like the batch ``holt_smooth``, so batch/stream
    parity is a row-for-row equality and the verdict on a point never
    depends on how the stream was chunked (the carried state IS the
    whole history)."""
    v = rows["value"].to_numpy(dtype=np.float64)
    lv, tr, new_state = holt_fold(v, alpha, beta, state)
    return (
        rows["sid"], rows["ts"], v, round_half_away(lv, 6), round_half_away(tr, 6)
    ), new_state


def stream_holt(
    stream_df: DataFrame,
    alpha: float = 0.2,
    beta: float = 0.1,
) -> DataFrame:
    """Streaming Holt smoothing: the incremental counterpart of the
    batch ``holt_smooth`` (operators/seriesstats.py), with the same
    fold (``numeric.holt_fold``) and output rounding, so it emits
    batch's rows exactly. State per series is TWO numbers (level,
    trend) — constant regardless of stream length, no watermark
    needed. NULL/NaN values are filtered up front like the other
    streaming detectors (the batch operator instead emits carried state
    on dirty rows — the one documented divergence)."""
    return keyed_fold(
        _clean_series(stream_df),
        ["sid"],
        partial(_holt_step, alpha=alpha, beta=beta),
        HOLT_OUTPUT_SCHEMA,
        HOLT_STATE_SCHEMA,
    )


def stream_ohlc(stream_df: DataFrame, watermark: str = "1 day") -> DataFrame:
    """Streaming daily OHLC bars per series: the watermarked dual of
    the batch ``downsample_ohlc`` (operators/seriesstats.py). Pure
    declarative windowed aggregation — ``min_by``/``max_by`` pick the
    open/close inside the tumbling window with the same (ts[, seq])
    ordering key as the batch operator, so once a window closes the
    emitted bar equals the batch bar over the same rows (asserted in
    tests). Append-mode safe: a bar emits exactly once, when the
    watermark passes its window end. NULL/NaN values are dropped like
    the batch operator."""
    has_seq = "seq" in stream_df.columns
    ord_key = F.struct("ts", "seq") if has_seq else F.col("ts")
    return (
        _clean_series(stream_df)
        .withWatermark("ts", watermark)
        .groupBy("sid", F.window("ts", "1 day").alias("win"))
        .agg(
            F.min_by("value", ord_key).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", ord_key).alias("close"),
            F.count(F.lit(1)).alias("n_obs"),
        )
        .select(
            "sid",
            F.col("win.start").alias("day"),
            "open",
            "high",
            "low",
            "close",
            "n_obs",
        )
    )


COUNTER_OUTPUT_SCHEMA = (
    "sid string, ts timestamp, value double, n_points long, resets long,"
    " increase double, rate_per_hour double"
)
COUNTER_STATE_SCHEMA = StructType(
    [
        StructField("last_v", DoubleType()),
        StructField("n", LongType()),
        StructField("resets", LongType()),
        StructField("inc", DoubleType()),  # UNROUNDED running increase
        StructField("first_us", LongType()),
        StructField("last_us", LongType()),
    ]
)


def _counter_step(key, state, rows):
    """Reset-aware counter step: each row's running (points, resets,
    increase, increase per hour over the observed span)."""
    last_v, n, resets, inc, first_us, last_us = (
        state if state is not None else (None, 0, 0, 0.0, None, None)
    )
    v = rows["value"].to_numpy(dtype=np.float64)
    k = len(v)
    rows_n = np.empty(k, dtype=np.int64)
    rows_r = np.empty(k, dtype=np.int64)
    rows_i = np.empty(k)
    rows_rate = np.full(k, np.nan)
    for i, (x, u) in enumerate(zip(v.tolist(), _ts_us(rows).tolist())):
        if last_v is not None:
            if x < last_v:
                resets += 1
                inc += x
            else:
                inc += x - last_v
        last_v = x
        n += 1
        if first_us is None:
            first_us = u
        last_us = u
        rows_n[i] = n
        rows_r[i] = resets
        rows_i[i] = round(inc, 6)
        span_h = (last_us - first_us) / 3.6e9
        if n >= 2 and span_h > 0:
            rows_rate[i] = round(round(inc, 6) / span_h, 6)
    out = (rows["sid"], rows["ts"], v, rows_n, rows_r, rows_i, rows_rate)
    return out, (last_v, n, resets, inc, first_us, last_us)


def stream_counter_rate(stream_df: DataFrame) -> DataFrame:
    """Streaming reset-aware counter rate: the incremental counterpart
    of the batch ``counter_rate`` (operators/seriesstats.py). Each
    arriving reading emits the series' RUNNING aggregate — points,
    resets, accumulated increase, increase-per-hour over the observed
    span — so the LAST emitted row per series equals the batch
    operator's row exactly (same reset-delta algebra, same rounding
    order: the rate divides the ROUNDED increase like the batch
    select does). rate_per_hour is NULL until the series has >= 2
    points and a positive span, mirroring the batch HAVING filter.

    State per series is SIX numbers — constant for any stream length,
    no watermark needed. NULL/NaN readings are filtered up front like
    the batch operator (a NULL bridges its neighbors). Chunking
    invariance holds because the carried state is the whole history.
    There is no late-row guard: an out-of-order point from a later
    trigger would compare against the wrong neighbor (fake reset) and
    shrink the observed span — if the source can deliver late data,
    sort/stage it upstream or use the batch operator on the replayed
    log.
    """
    return keyed_fold(
        _clean_series(stream_df),
        ["sid"],
        _counter_step,
        COUNTER_OUTPUT_SCHEMA,
        COUNTER_STATE_SCHEMA,
    )


TWA_OUTPUT_SCHEMA = (
    "sid string, bucket_day timestamp, n_segments long, twa double,"
    " simple_avg double"
)
TWA_STATE_SCHEMA = StructType(
    [
        StructField("prev_us", LongType()),
        StructField("prev_v", DoubleType()),
        StructField("open_day_us", LongType()),
        StructField("n_seg", LongType()),
        StructField("sum_dt", DoubleType()),
        StructField("sum_mass", DoubleType()),
        StructField("sum_v", DoubleType()),
        StructField("n_late", LongType()),  # dropped out-of-order points
        # (ts, seq) late-row tiebreaker, appended last (state-schema rule)
        StructField("prev_seq", LongType()),
    ]
)

_DAY_US = 86_400 * 1_000_000


def _twa_step(key, state, rows):
    """Trapezoid fold: a segment joins the day of its later endpoint,
    and a day's row is emitted when a segment of a later day arrives."""
    (prev_us, prev_v, open_day, n_seg, s_dt, s_mass, s_v, n_late,
     prev_seq) = (
        state
        if state is not None
        else (None, None, None, 0, 0.0, 0.0, 0.0, 0, None)
    )
    rows, dropped = drop_late(rows, prev_us, prev_seq)
    # sources without seq compare on ts alone (q fixed at 0)
    sq = (
        rows["seq"].tolist() if "seq" in rows.columns else [0] * len(rows)
    )
    out = []
    for x, u, q in zip(rows["value"].tolist(), _ts_us(rows).tolist(), sq):
        if prev_us is not None:
            dt = float(u - prev_us)
            seg_day = (u // _DAY_US) * _DAY_US
            if open_day is None:
                open_day = seg_day
            elif seg_day > open_day:
                if s_dt > 0:
                    out.append(
                        (key[0], open_day, n_seg, round(s_mass / s_dt, 6),
                         round(s_v / n_seg, 6))
                    )
                open_day = seg_day
                n_seg, s_dt, s_mass, s_v = 0, 0.0, 0.0, 0.0
            n_seg += 1
            s_dt += dt
            s_mass += (prev_v + x) / 2.0 * dt
            s_v += x
        prev_us, prev_seq, prev_v = u, q, x
    new_state = (prev_us, prev_v, open_day, n_seg, s_dt, s_mass, s_v,
                 n_late + dropped, prev_seq)
    return tuple(zip(*out)), new_state


def stream_time_weighted(stream_df: DataFrame) -> DataFrame:
    """Streaming trapezoidal time-weighted daily mean: the incremental
    counterpart of the batch ``time_weighted_avg``
    (operators/seriesstats.py). Segments form between consecutive
    clean readings exactly as in batch (a segment belongs to the day
    of its LATER endpoint); a day's row is emitted when the first
    segment of a LATER day arrives — the same provably-closed contract
    as ``stream_storm_find``: every emitted day is final, the
    currently-open day is withheld until a later-day segment proves it
    complete. Days whose segments all have zero duration drop, like
    the batch HAVING filter.

    Replaying a static corpus yields exactly the batch rows for every
    series-day except each series' LAST (still-open) day — pinned by
    pytest together with chunking-invariance. State per series is
    NINE numbers. A late point (``keyed_fold``) would form a
    negative-duration segment whose negative trapezoid mass (possibly
    belonging to an already-emitted day) would corrupt the open day's
    twa, so it is dropped into ``n_late``. Equal timestamps (dt = 0)
    keep batch semantics: the segment counts but adds no mass.
    """
    return keyed_fold(
        _clean_series(stream_df),
        ["sid"],
        _twa_step,
        TWA_OUTPUT_SCHEMA,
        TWA_STATE_SCHEMA,
    )


BURST_OUTPUT_SCHEMA = (
    "sid string, event_type string, first_ts timestamp, first_seq long,"
    " n_collapsed long, span_us long"
)
BURST_STATE_SCHEMA = StructType(
    [
        StructField("first_us", LongType()),
        StructField("first_seq", LongType()),
        StructField("n", LongType()),
        StructField("last_us", LongType()),
        StructField("n_late", LongType()),  # dropped out-of-order points
        # (ts, seq) late-row tiebreaker, appended last (state-schema rule)
        StructField("last_seq", LongType()),
    ]
)


def _burst_step(key, state, rows, gap_us: int):
    """Debounce fold: a burst closes when the next event arrives more
    than ``gap_us`` after its last member."""
    first_us, first_seq, n, last_us, n_late, last_seq = (
        state if state is not None else (None, None, 0, None, 0, None)
    )
    rows, dropped = drop_late(rows, last_us, last_seq)
    out = []
    for u, q in zip(_ts_us(rows).tolist(), rows["seq"].tolist()):
        if first_us is not None and u - last_us > gap_us:
            out.append((*key, first_us, first_seq, n, last_us - first_us))
            first_us = None
        if first_us is None:
            first_us, first_seq, n = u, q, 1
        else:
            n += 1
            # the batch operator's MIN(seq) over the burst
            first_seq = min(first_seq, q)
        last_us, last_seq = u, q
    new_state = (first_us, first_seq, n, last_us, n_late + dropped, last_seq)
    return tuple(zip(*out)), new_state


def stream_burst_collapse(
    stream_df: DataFrame, refractory_minutes: int = 30
) -> DataFrame:
    """Streaming telemetry debounce: the incremental counterpart of the
    batch ``burst_collapse`` (operators/sessions.py). A burst of
    same-type events per user CLOSES — and emits exactly once — when a
    later same-type event arrives more than ``refractory_minutes``
    after the burst's last member; the currently-open burst is
    withheld (the stream_storm_find provably-closed contract, so
    replaying a static corpus yields exactly the batch rows minus each
    (user, type)'s LAST burst — pytest-pinned with chunking
    invariance).

    State per (user, type) is FIVE numbers. A late event
    (``keyed_fold``) would splice into an already-summarized burst, so
    it is dropped into ``n_late``.
    """
    return keyed_fold(
        stream_df.select("sid", "seq", "event_type", "ts"),
        ["sid", "event_type"],
        partial(_burst_step, gap_us=refractory_minutes * 60 * 1_000_000),
        BURST_OUTPUT_SCHEMA,
        BURST_STATE_SCHEMA,
    )


ATTR_OUTPUT_SCHEMA = (
    "sid string, purchase_id long, purchase_ts timestamp,"
    " touch_id long, touch_type string, gap_us long"
)
ATTR_STATE_SCHEMA = StructType(
    [
        StructField("t_us", LongType()),
        StructField("t_id", LongType()),
        StructField("t_type", StringType()),
        StructField("last_us", LongType()),
        StructField("n_late", LongType()),  # dropped out-of-order points
        # (ts, seq) late-row tiebreaker, appended last (state-schema rule)
        StructField("last_seq", LongType()),
    ]
)


def _attribution_step(key, state, rows, lb_us: int):
    """Last-touch fold: a purchase is credited to the user's last
    non-purchase event within ``lb_us`` before it."""
    t_us, t_id, t_type, last_us, n_late, last_seq = (
        state if state is not None else (None, None, None, None, 0, None)
    )
    rows, dropped = drop_late(rows, last_us, last_seq)
    out = []
    for u, q, ty in zip(
        _ts_us(rows).tolist(), rows["seq"].tolist(), rows["event_type"].tolist()
    ):
        last_us, last_seq = u, q
        if ty != "purchase":
            t_us, t_id, t_type = u, q, ty
        elif t_us is not None and u - t_us <= lb_us:
            out.append((key[0], q, u, t_id, t_type, u - t_us))
        else:
            out.append((key[0], q, u, None, None, None))
    new_state = (t_us, t_id, t_type, last_us, n_late + dropped, last_seq)
    return tuple(zip(*out)), new_state


def stream_purchase_attribution(
    stream_df: DataFrame, lookback_days: int = 7
) -> DataFrame:
    """Streaming last-touch attribution: the incremental counterpart of
    the batch ``purchase_attribution`` (relational/product.py). Every
    arriving purchase emits its attribution row IMMEDIATELY — the
    credit depends only on events already seen, so nothing is withheld
    and a static-corpus replay equals the batch result EXACTLY (not
    minus a tail — pytest-pinned with chunking invariance).

    State per user is the last non-purchase touch (epoch, id, type)
    plus the late-row guard — FOUR numbers and a string, O(1)
    regardless of stream length. A late event (``keyed_fold``) is
    dropped into ``n_late``: splicing it in would rewrite an
    attribution already emitted downstream.
    """
    return keyed_fold(
        stream_df.select("sid", "seq", "event_type", "ts"),
        ["sid"],
        partial(_attribution_step, lb_us=lookback_days * 86_400_000_000),
        ATTR_OUTPUT_SCHEMA,
        ATTR_STATE_SCHEMA,
    )


CONV_OUTPUT_SCHEMA = (
    "sid string, signup_ts timestamp, purchase_ts timestamp, lag_us long"
)
CONV_STATE_SCHEMA = StructType(
    [
        StructField("signup_us", LongType()),
        StructField("converted", LongType()),  # 0/1 — emit-once latch
        StructField("last_us", LongType()),
        StructField("n_late", LongType()),  # dropped out-of-order points
        # (ts, seq) late-row tiebreaker, appended last (state-schema rule)
        StructField("last_seq", LongType()),
    ]
)


def _conversion_step(key, state, rows):
    """Conversion fold: the first purchase at or after the first
    signup emits the lag, once."""
    signup_us, converted, last_us, n_late, last_seq = (
        state if state is not None else (None, 0, None, 0, None)
    )
    rows, dropped = drop_late(rows, last_us, last_seq)
    out = []
    for u, q, ty in zip(
        _ts_us(rows).tolist(), rows["seq"].tolist(), rows["event_type"].tolist()
    ):
        last_us, last_seq = u, q
        if ty == "signup" and signup_us is None:
            signup_us = u
        elif ty == "purchase" and signup_us is not None and not converted:
            out.append((key[0], signup_us, u, u - signup_us))
            converted = 1
    new_state = (signup_us, converted, last_us, n_late + dropped, last_seq)
    return tuple(zip(*out)), new_state


def stream_conversion_lag(stream_df: DataFrame) -> DataFrame:
    """Streaming signup→purchase conversion latency: the incremental
    counterpart of the batch ``conversion_lag`` (relational/product.py).
    The moment a user's FIRST purchase at-or-after their FIRST signup
    arrives, ONE row emits with the exact integer-microsecond lag —
    the real-time activation metric (time-to-convert percentiles over
    this stream feed launch dashboards without rescanning history).

    State per user is three epoch numbers and a latch — O(1) forever:
    first signup micros, the converted flag (emit-once), the
    late-row guard, and the late-drop counter. A static-corpus
    replay equals the batch result EXACTLY (conversion depends only on
    past events, nothing is withheld) under any chunking —
    pytest-pinned. A late event (``keyed_fold``) is dropped into
    ``n_late``: a late signup cannot retract an emitted conversion.
    """
    return keyed_fold(
        stream_df.select("sid", "seq", "event_type", "ts"),
        ["sid"],
        _conversion_step,
        CONV_OUTPUT_SCHEMA,
        CONV_STATE_SCHEMA,
    )


P2_OUTPUT_SCHEMA = (
    "sid string, seq long, ts timestamp, n long, q_est double"
)
P2_STATE_SCHEMA = StructType(
    [
        StructField("heights", ArrayType(DoubleType())),
        StructField("npos", ArrayType(LongType())),
        StructField("buf", ArrayType(DoubleType())),  # first <5 points
        StructField("last_us", LongType()),
        StructField("n_late", LongType()),
        # (ts, seq) late-row tiebreaker, appended last (state-schema rule)
        StructField("last_seq", LongType()),
    ]
)


def _p2_step(heights: list, npos: list, x: float, p: float) -> None:
    """One Jain–Chlamtac P² marker update (in place): classify x into
    a cell, shift higher marker positions, then move each interior
    marker toward its desired position with the parabolic formula
    (linear fallback when the parabola would cross a neighbor)."""
    if x < heights[0]:
        heights[0] = x
        k = 0
    elif x >= heights[4]:
        heights[4] = x
        k = 3
    else:
        k = max(i for i in range(4) if heights[i] <= x)
    for i in range(k + 1, 5):
        npos[i] += 1
    n = npos[4]
    desired = (
        1.0,
        1.0 + (n - 1) * p / 2.0,
        1.0 + (n - 1) * p,
        1.0 + (n - 1) * (1.0 + p) / 2.0,
        float(n),
    )
    for i in (1, 2, 3):
        d = desired[i] - npos[i]
        if (d >= 1.0 and npos[i + 1] - npos[i] > 1) or (
            d <= -1.0 and npos[i - 1] - npos[i] < -1
        ):
            s = 1 if d >= 1.0 else -1
            hp = heights[i] + s / (npos[i + 1] - npos[i - 1]) * (
                (npos[i] - npos[i - 1] + s)
                * (heights[i + 1] - heights[i])
                / (npos[i + 1] - npos[i])
                + (npos[i + 1] - npos[i] - s)
                * (heights[i] - heights[i - 1])
                / (npos[i] - npos[i - 1])
            )
            if heights[i - 1] < hp < heights[i + 1]:
                heights[i] = hp
            else:
                heights[i] = heights[i] + s * (
                    heights[i + s] - heights[i]
                ) / (npos[i + s] - npos[i])
            npos[i] += s


def _exact_quantile(sorted_vals: list, p: float) -> float:
    """Continuous-interpolation quantile of a small sorted list (the
    init-phase estimate while fewer than 5 points have arrived)."""
    n = len(sorted_vals)
    if n == 1:
        return sorted_vals[0]
    pos = (n - 1) * p
    lo = int(pos)
    frac = pos - lo
    hi = min(lo + 1, n - 1)
    return sorted_vals[lo] * (1 - frac) + sorted_vals[hi] * frac


def _p2_quantile_step(key, state, rows, p: float):
    """Per-point P² fold: the estimate after each accepted point."""
    heights, npos, buf, last_us, n_late, last_seq = (
        state if state is not None else ([], [], [], None, 0, None)
    )
    heights, npos, buf = list(heights), list(npos), list(buf)
    rows, dropped = drop_late(rows, last_us, last_seq)
    out = []
    for u, q, x in zip(
        _ts_us(rows).tolist(), rows["seq"].tolist(), rows["value"].tolist()
    ):
        last_us, last_seq = u, q
        if npos:
            _p2_step(heights, npos, x, p)
            est, n_seen = heights[2], npos[4]
        elif len(buf) < 4:
            buf.append(x)
            est, n_seen = _exact_quantile(sorted(buf), p), len(buf)
        else:  # the fifth point initializes the markers
            heights, npos, buf = sorted(buf + [x]), [1, 2, 3, 4, 5], []
            est = heights[2] if p == 0.5 else _exact_quantile(heights, p)
            n_seen = 5
        out.append((key[0], q, u, n_seen, est))
    new_state = (heights, npos, buf, last_us, n_late + dropped, last_seq)
    return tuple(zip(*out)), new_state


def stream_p2_quantile(stream_df: DataFrame, p: float = 0.5) -> DataFrame:
    """Streaming per-series quantile via the P² algorithm (Jain &
    Chlamtac 1985): a running p-quantile estimate from FIVE markers —
    O(1) state per series forever, where an exact streaming quantile
    needs O(n) history. The monitoring primitive behind live latency
    percentiles; the batch counterparts are ``value_quantiles``
    (exact) and ``value_quantiles_approx`` (GK sketch).

    Emits one row per accepted point with the estimate AFTER folding
    that point — during the first five points the estimate is the
    exact interpolated quantile of the prefix (the P² markers
    initialize from the first five sorted values). The per-point
    update is a fixed float-op sequence, so outputs are deterministic
    and CHUNKING-INVARIANT given the ``keyed_fold`` ordering contract
    (late points drop into ``n_late``).
    """
    return keyed_fold(
        stream_df.select("sid", "seq", "ts", "value").filter(
            F.col("value").isNotNull() & ~F.isnan("value")
        ),
        ["sid"],
        partial(_p2_quantile_step, p=p),
        P2_OUTPUT_SCHEMA,
        P2_STATE_SCHEMA,
    )
