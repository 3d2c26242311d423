"""Gaps-and-islands run grouping — the engine's core kernel.

Reference semantics (metevents/events.py:39-47 ``group_condition_by_time``):
``ind_sum = ind.eq(False).cumsum()`` assigns a stable id to each run of
consecutive True rows; rows where ``ind`` is False (or, for us, NULL)
increment the counter and are excluded from events.

Spark mapping: a running-sum window over ``(sid)`` ordered by
``(ts, seq)``. Every per-series stage starts from :func:`range_by_sid`,
the one exchange of its plan: a range exchange on sid. Range
partitioning on sid satisfies the window's clustering, the run
``groupBy(sid, run_id)`` and the final ``orderBy(sid, start)`` alike,
so lag-diff + cumsum + aggregate + output sort cost a single shuffle
and the events come back globally ordered without a second (range)
exchange whose boundary sampling would re-run the stage. At scale the
unit of parallelism is the series key, not the series length; no
driver-side collection anywhere.
"""

from __future__ import annotations

from metevents_spark.timeutil import epoch_us
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

PART_COLS: tuple[str, ...] = ("sid",)
ORDER_COLS: tuple[str, ...] = ("ts", "seq")


def range_by_sid(df: DataFrame, num_partitions: int | None = None) -> DataFrame:
    """Range-partition ``df`` on the series key: each series lands in
    one partition, and partitions follow series-key order, so a
    within-partition sort on ``(sid, ...)`` is a global order. The same
    partitioning satisfies clustering on any column set containing
    sid. Without ``num_partitions`` AQE picks (and coalesces) the
    count, as for an implicit exchange; the sampling job that sets the
    ranges reads only the input of this exchange."""
    if num_partitions is None:
        return df.repartitionByRange(*PART_COLS)
    return df.repartitionByRange(num_partitions, *PART_COLS)


def series_window():
    """The one window spec shared by diff/cumsum so plans sort once."""
    return Window.partitionBy(*PART_COLS).orderBy(*ORDER_COLS)


def flag_runs(df: DataFrame, cond: Column) -> DataFrame:
    """Add ``cond`` (boolean) and ``run_id`` (long) columns.

    NULL conditions behave like the reference's False (pandas boolean
    masks never contain NaN: comparisons with NaN yield False —
    metevents/events.py:73,316,345): the row increments the run counter
    and is excluded from any event.
    """
    w = series_window().rowsBetween(Window.unboundedPreceding, Window.currentRow)
    inc = F.when(cond, F.lit(0)).otherwise(F.lit(1))
    return df.withColumn("cond", cond).withColumn("run_id", F.sum(inc).over(w))


def runs_to_events(flagged: DataFrame) -> DataFrame:
    """Collapse flagged runs into one event row each.

    Reference: per-group index min/max (metevents/periods.py:12-22),
    duration = stop - start (periods.py:24-28), NaN-skipping total
    (periods.py:40-45 — Spark ``sum`` skips NULLs, matching pandas
    skipna). Partial (map-side) aggregation is free via HashAggregate.
    """
    return (
        flagged.filter(F.col("cond"))
        .groupBy(*PART_COLS, "run_id")
        .agg(
            F.min("ts").alias("start"),
            F.max("ts").alias("stop"),
            F.count(F.lit(1)).alias("n_points"),
            F.sum("value").alias("total"),
        )
        .withColumn(
            "duration_us", epoch_us(F.col("stop")) - epoch_us(F.col("start"))
        )
        .select(*PART_COLS, "start", "stop", "duration_us", "n_points", "total")
    )


def detect(df: DataFrame, cond: Column) -> DataFrame:
    """predicate -> run grouping -> event aggregation, time-ordered.

    The ordering matches the reference's sorted group emission
    (metevents/events.py:81,190,289,321,350,402); the range exchange
    of :func:`range_by_sid` already satisfies it, so the ``orderBy``
    plans as a local sort.
    """
    flagged = flag_runs(range_by_sid(df), cond)
    return runs_to_events(flagged).orderBy(*PART_COLS, "start")
