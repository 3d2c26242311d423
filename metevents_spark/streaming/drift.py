"""Streaming distribution-drift monitor: per-window PSI against a
batch reference — the serving-side counterpart of the batch
``value_drift_psi`` operator (metevents_spark/quality.py).

Structured Streaming allows ONE aggregation per query, and PSI is
nominally two (histogram, then a sum over bins). The single-agg shape:
the tumbling-window groupBy folds the whole histogram as ``n_bins``
conditional counts IN ONE aggregation (map-side partial, watermark
bounded), and the PSI reduction over bins becomes a row-wise
projection after a stream-static broadcast join with the reference
distribution — no second aggregation, append-mode safe.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from metevents_spark.io import load_table

N_BINS = 10
BIN_WIDTH = 50.0


def _bin(col):
    return F.least(
        F.floor(col / BIN_WIDTH).cast("long"), F.lit(N_BINS - 1)
    )


def drift_reference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Smoothed per-event_type bin probabilities (r0..r9) from the
    batch snapshot — the "training distribution" the stream is
    monitored against."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & ~F.isnan("value")
    )
    counts = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.sum(F.when(_bin(F.col("value")) == i, 1).otherwise(0)).alias(
                f"c{i}"
            )
            for i in range(N_BINS)
        ],
    )
    return counts.select(
        "event_type",
        *[
            (
                (F.col(f"c{i}") + 1.0)
                / (F.col("n") + F.lit(float(N_BINS)))
            ).alias(f"r{i}")
            for i in range(N_BINS)
        ],
    )


def stream_value_quantiles(
    stream_df: DataFrame,
    window: str = "1 day",
    watermark: str = "1 day",
    accuracy: int = 10000,
) -> DataFrame:
    """-> (win_start, event_type, n, p25, p50, p75) per tumbling
    window: streaming quantile monitoring on the mergeable
    approx-percentile (KLL/GK-family) sketch — exact quantiles need a
    global sort, which a stream cannot do, so the sketch IS the
    streaming-native (and 100 TB) formulation; ``accuracy`` trades
    state size for error exactly like the batch
    ``value_quantiles_approx``."""
    pct = F.percentile_approx(
        "value", F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75)),
        F.lit(accuracy),
    )
    return (
        stream_df.filter(
            F.col("value").isNotNull() & ~F.isnan("value")
        )
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), pct.alias("p"))
        .select(
            F.col("win.start").alias("win_start"),
            "event_type",
            "n",
            F.round(F.element_at("p", 1), 6).alias("p25"),
            F.round(F.element_at("p", 2), 6).alias("p50"),
            F.round(F.element_at("p", 3), 6).alias("p75"),
        )
    )


def stream_drift(
    stream_df: DataFrame,
    reference: DataFrame,
    window: str = "1 day",
    watermark: str = "1 day",
) -> DataFrame:
    """-> (win_start, event_type, n, psi) per tumbling window.

    ``reference`` is a (event_type, r0..r9) frame from
    :func:`drift_reference`; it broadcasts into the stream (static side
    of a stream-static join). PSI > 0.2 on a window is the standard
    drift alarm.
    """
    hist = (
        stream_df.filter(
            F.col("value").isNotNull() & ~F.isnan("value")
        )
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            *[
                F.sum(
                    F.when(_bin(F.col("value")) == i, 1).otherwise(0)
                ).alias(f"c{i}")
                for i in range(N_BINS)
            ],
        )
    )
    pa = [
        (F.col(f"c{i}") + 1.0) / (F.col("n") + F.lit(float(N_BINS)))
        for i in range(N_BINS)
    ]
    psi = sum(
        (pa[i] - F.col(f"r{i}")) * F.log(pa[i] / F.col(f"r{i}"))
        for i in range(N_BINS)
    )
    return (
        # broadcast: one row per event type (est 37 KB → 2.8 MB, sf0.001 → sf0.1)
        hist.join(F.broadcast(reference), "event_type")
        .select(
            F.col("win.start").alias("win_start"),
            "event_type",
            "n",
            F.round(psi, 6).alias("psi"),
        )
    )
