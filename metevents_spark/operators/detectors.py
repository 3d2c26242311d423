"""Native (pure-DataFrame) event detectors.

Each detector reproduces one reference query's semantics
(metevents/events.py) as a lazy Filter -> Window -> Aggregate plan that
Catalyst optimizes; no Python executes per row. All take the canonical
series frame ``(sid, seq, ts, value)`` and return the events frame
``(sid, start, stop, duration_us, n_points, total)`` ordered by
``(sid, start)``. Each plan has exactly one exchange, the range
exchange of ``runs.range_by_sid``, which also serves the final sort.
"""

from __future__ import annotations

from metevents_spark.timeutil import epoch_us
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from metevents_spark.operators.runs import (
    detect,
    flag_runs,
    range_by_sid,
    series_window,
)

MICROS_PER_SECOND = 1_000_000


def _lag_diff() -> Column:
    """First difference of value in series order (pandas ``.diff()``,
    metevents/events.py:314,387). First row yields NULL, which every
    downstream comparison treats as False — matching pandas NaN."""
    return F.col("value") - F.lag("value").over(series_window())


def extreme_value(
    df: DataFrame, expected_max: float = 600.0, expected_min: float = 0.0
) -> DataFrame:
    """Out-of-range runs. Reference: metevents/events.py:333-358."""
    cond = (F.col("value") > F.lit(expected_max)) | (
        F.col("value") < F.lit(expected_min)
    )
    return detect(df, cond)


def flat_line(df: DataFrame, min_len: int = 5, slope_thresh: float = 0.0) -> DataFrame:
    """Runs of |diff| <= slope_thresh with at least ``min_len`` points.

    Reference: metevents/events.py:301-330 (length filter :329 keeps
    runs whose slice has >= min_len rows — identical to the run's row
    count since runs are contiguous).
    """
    cond = F.abs(_lag_diff()) <= F.lit(slope_thresh)
    return detect(df, cond).filter(F.col("n_points") >= min_len)


def extreme_change(
    df: DataFrame,
    min_len: int = 1,
    positive_slope_thresh: float | None = None,
    negative_slope_thresh: float | None = -3.0,
) -> DataFrame:
    """Runs of excessive rate of change (either slope direction).

    Reference: metevents/events.py:361-411; param validation :383-384.
    """
    if positive_slope_thresh is None and negative_slope_thresh is None:
        raise ValueError("One slope threshold must be provided")
    diff = _lag_diff()
    cond = F.lit(False)
    if positive_slope_thresh is not None:
        cond = cond | (diff >= F.lit(positive_slope_thresh))
    if negative_slope_thresh is not None:
        cond = cond | (diff <= F.lit(negative_slope_thresh))
    return detect(df, cond).filter(F.col("n_points") >= min_len)


def data_gap(
    df: DataFrame, min_len: int = 3, expected_frequency_s: float = 86400.0
) -> DataFrame:
    """Missing-data events: NULL runs plus sampling gaps.

    Reference: metevents/events.py:251-298. Two kinds of event:
      1. runs of NaN values (:263,275) -> standard run grouping;
      2. rows whose timestamp delta to the previous row exceeds the
         expected frequency (:269-286) inject a synthetic two-point
         event spanning ``[ts - delta, ts]`` — i.e. from the *previous
         present row* to the current one. This reproduces the
         reference's documented over-count quirk (its own TODO at
         :281: a 4-day hole reports a 6-day gap); we replicate, not
         fix, for parity.
    Both are filtered to ``duration >= min_len * expected`` (:297).

    One window pass computes the run id and the gap columns; each row
    then contributes to at most two events — its NaN run (key
    ``(0, run_id)``) and, if it closes a gap, its own gap event (key
    ``(1, ts)``: a gap row's ts is unique within its series, since the
    row after an equal ts has delta 0) — and one ``groupBy(sid, key)``
    aggregates both kinds. Unioning two separately windowed branches
    would lose the sid partitioning and bring back a second exchange.
    """
    expected_us = int(expected_frequency_s * MICROS_PER_SECOND)

    nan_cond = F.col("value").isNull() | F.isnan(F.col("value"))
    w = series_window()
    flagged = (
        flag_runs(range_by_sid(df), nan_cond)
        .withColumn("prev_ts", F.lag("ts").over(w))
        .withColumn("prev_val", F.lag("value").over(w))
    )
    delta_us = epoch_us(F.col("ts")) - epoch_us(F.col("prev_ts"))
    nan_part = F.struct(
        F.lit(0).alias("kind"),
        F.col("run_id").alias("id"),
        F.col("ts").alias("start"),
        F.lit(1).cast("long").alias("n"),
        F.col("value").alias("total"),
    )
    gap_part = F.struct(
        F.lit(1).alias("kind"),
        epoch_us(F.col("ts")).alias("id"),
        F.col("prev_ts").alias("start"),
        F.lit(2).cast("long").alias("n"),
        # NaN-skipping two-endpoint total (pandas sum over the label
        # slice [prev_ts, ts], which contains exactly the two boundary
        # rows because the interior is missing).
        F.when(F.col("value").isNull() & F.col("prev_val").isNull(), F.lit(None))
        .otherwise(
            F.coalesce(F.col("value"), F.lit(0.0))
            + F.coalesce(F.col("prev_val"), F.lit(0.0))
        )
        .alias("total"),
    )
    parts = F.filter(
        F.array(
            F.when(F.col("cond"), nan_part),
            F.when(delta_us > F.lit(expected_us), gap_part),
        ),
        lambda p: p.isNotNull(),
    )
    events = (
        flagged.select("sid", "ts", F.explode(parts).alias("p"))
        .groupBy("sid", "p.kind", "p.id")
        .agg(
            F.min("p.start").alias("start"),
            F.max("ts").alias("stop"),
            F.sum("p.n").alias("n_points"),
            # a gap has one row, so max is its total; a NaN run's values
            # are all NaN or NULL, where max (NaN if any, else NULL)
            # equals the reference's NaN-skipping sum
            F.max("p.total").alias("total"),
        )
        .withColumn(
            "duration_us", epoch_us(F.col("stop")) - epoch_us(F.col("start"))
        )
    )
    return (
        events.filter(F.col("duration_us") >= F.lit(int(min_len * expected_us)))
        .select("sid", "start", "stop", "duration_us", "n_points", "total")
        .orderBy("sid", "start")
    )
