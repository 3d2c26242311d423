"""Series statistics beyond the reference's detectors: sliding-window
smoothing and per-series z-score anomalies.

The reference has no sliding/centered frames at all (SURVEY.md §2.4);
these add the rowsBetween sliding frame and the groupBy-stats + join
shapes over the same canonical (sid, seq, ts, value) frame, sharing its
single sid exchange.
"""

from __future__ import annotations

from metevents_spark.timeutil import epoch_us
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from metevents_spark.io import load_table, series_frame


def rolling_mean(
    spark: SparkSession, sf_dir: str, window_rows: int = 3
) -> DataFrame:
    """Trailing moving average over each series (current row + the
    ``window_rows`` preceding rows; NULL values skipped by avg)."""
    df = series_frame(spark, sf_dir)
    w = (
        Window.partitionBy("sid")
        .orderBy("ts", "seq")
        .rowsBetween(-window_rows, 0)
    )
    return df.select(
        "sid", "seq", "ts",
        F.round(F.avg("value").over(w), 6).alias("rmean"),
    ).orderBy("sid", "ts", "seq")


def zscore_anomaly(
    spark: SparkSession, sf_dir: str, z_thresh: float = 3.0
) -> DataFrame:
    """Rows whose value deviates more than ``z_thresh`` sample standard
    deviations from the series mean. Whole-partition window aggregates
    (no frame) compute mu/sigma alongside each row in ONE scan and one
    sid exchange — 3-4x faster at 10M rows than the groupBy-stats +
    join-back formulation, which scans the input twice."""
    df = series_frame(spark, sf_dir)
    w = Window.partitionBy("sid")
    z = F.round(
        (F.col("value") - F.avg("value").over(w))
        / F.stddev_samp("value").over(w),
        6,
    )
    return (
        df.select("sid", "seq", "ts", "value", z.alias("z"))
        .filter(F.abs(F.col("z")) > z_thresh)
        .orderBy("sid", "ts", "seq")
    )


def robust_zscore(
    spark: SparkSession, sf_dir: str, z_thresh: float = 3.5
) -> DataFrame:
    """Outliers by the modified z-score 0.6745*(x - median)/MAD
    (Iglewicz-Hoaglin), the robust counterpart of `zscore_anomaly`:
    a handful of extreme spikes inflate mean/stddev and mask each
    other, but leave median/MAD untouched.

    The exact ``median`` aggregate runs fine OVER A WINDOW (unbounded
    sid partition), so both medians annotate rows in place: one
    exchange + one sort on sid feeds two stacked Window nodes (the MAD
    median reads the med column the first window bound). The previous
    grouped-median + join-back formulation scanned the events table
    FOUR times (med computed twice — once for the output join, once
    inside the MAD branch) and paid three joins; this shape scans
    once, joins never — value-identical (same per-sid row sets; the
    explicit sid NOT NULL filter reproduces the inner joins' implicit
    null-key drop). Series with MAD = 0 (constant-valued) yield no
    rows (NULLIF guard).
    """
    df = series_frame(spark, sf_dir).filter(F.col("sid").isNotNull())
    w = Window.partitionBy("sid")
    with_med = df.withColumn("med", F.median("value").over(w))
    with_mad = with_med.withColumn(
        "mad", F.median(F.abs(F.col("value") - F.col("med"))).over(w)
    )
    z = F.round(
        F.lit(0.6745)
        * (F.col("value") - F.col("med"))
        / F.nullif(F.col("mad"), F.lit(0.0)),
        6,
    )
    return (
        with_mad.select("sid", "seq", "ts", "value", z.alias("mz"))
        .filter(F.abs(F.col("mz")) > z_thresh)
        .orderBy("sid", "ts", "seq")
    )


def series_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series linear trend via the SQL regression aggregates:
    slope (value units per HOUR), intercept, fit quality (r²), and
    point count — the operator family (regr_*) nothing else in the
    registry exercises. One groupBy exchange; the x coordinate is
    epoch-hours so slopes stay in human magnitudes. NULL/NaN points
    drop first (regr_* would skip NULLs anyway; NaNs would poison the
    sums). Series need >= 2 points for a defined slope.
    """
    df = series_frame(spark, sf_dir).filter(
        F.col("value").isNotNull() & ~F.isnan("value")
    )
    x = (epoch_us(F.col("ts")) / F.lit(3.6e9)).alias("x")
    out = (
        df.select("sid", F.col("value").alias("y"), x)
        .groupBy("sid")
        .agg(
            F.regr_count("y", "x").alias("n_points"),
            F.round(F.regr_slope("y", "x"), 5).alias("slope_per_hour"),
            F.round(F.regr_intercept("y", "x"), 4).alias("intercept"),
            F.round(F.regr_r2("y", "x"), 5).alias("r2"),
        )
    )
    return out.filter(F.col("n_points") >= 2).orderBy("sid")


def series_quantile_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series exact interpolated percentile bands (p10/p50/p90),
    IQR, and the count of points outside the Tukey 1.5×IQR fences —
    grouped exact percentiles, where ``value_quantiles`` is global.

    The bands annotate rows IN PLACE as unbounded-window percentiles
    over the sid partition (guide §2.4 — the winsorize_series /
    robust_zscore rewrite): the earlier grouped-percentile/join-back
    shape scanned the events twice and paid a second exchange for the
    join probe; the window pays the one sid exchange, the fence rollup
    reuses that partitioning (groupBy on the window's own key plans no
    new exchange), and the exact ``percentile`` aggregate computes the
    identical interpolated values over the identical partition row
    set. The explicit ``sid IS NOT NULL`` filter reproduces the old
    inner join's implicit null-key drop, so the row set is provably
    identical. Both engines use the same continuous-quantile
    interpolation, so the bands hash bit-stably after rounding.
    """
    df = series_frame(spark, sf_dir).filter(
        F.col("value").isNotNull()
        & ~F.isnan("value")
        & F.col("sid").isNotNull()
    )
    w_sid = Window.partitionBy("sid")
    pct = F.percentile(
        "value",
        F.array(*[F.lit(q) for q in (0.1, 0.25, 0.5, 0.75, 0.9)]),
    ).over(w_sid)
    banded = df.select("sid", "value", pct.alias("_q"))
    q = lambda i: F.element_at("_q", i)  # noqa: E731
    iqr = q(4) - q(2)
    lo = q(2) - 1.5 * iqr
    hi = q(4) + 1.5 * iqr
    out_flag = (F.col("value") < lo) | (F.col("value") > hi)
    return (
        banded.groupBy("sid")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.first(q(1)), 6).alias("p10"),
            F.round(F.first(q(3)), 6).alias("p50"),
            F.round(F.first(q(5)), 6).alias("p90"),
            F.round(F.first(iqr), 6).alias("iqr"),
            F.sum(F.when(out_flag, 1).otherwise(0)).cast("long").alias(
                "n_outliers"
            ),
        )
        .orderBy("sid")
    )


def seasonal_anomaly(
    spark: SparkSession, sf_dir: str, z_thresh: float = 1.5
) -> DataFrame:
    """Seasonality-aware z-score: each row scored against the mean/std
    of ITS OWN (series, time-of-day quadrant) stratum — 6-hour bins
    night/morning/afternoon/evening — so a value that is normal at
    14:00 but extreme at 03:00 is flagged where a global per-series
    z-score (``zscore_anomaly``) would average the diurnal cycle away.

    Same one-scan shape as ``zscore_anomaly``: whole-partition window
    aggregates over (sid, tod) — one exchange, partitioned FINER than
    per-series (4x the key cardinality), which at 100 TB is strictly
    better skew behavior than the per-sid window. NULL values produce
    NULL z and drop at the filter in both engines; single-row strata
    have NULL sample stddev and drop the same way.
    """
    df = series_frame(spark, sf_dir).withColumn(
        "tod", F.floor(F.hour("ts") / 6).cast("long")
    )
    w = Window.partitionBy("sid", "tod")
    z = F.round(
        (F.col("value") - F.avg("value").over(w))
        / F.stddev_samp("value").over(w),
        6,
    )
    return (
        df.select("sid", "seq", "ts", "value", "tod", z.alias("z"))
        .filter(F.abs(F.col("z")) > z_thresh)
        .orderBy("sid", "ts", "seq")
    )


def ewma_smooth(
    spark: SparkSession, sf_dir: str, alpha: float = 0.2
) -> DataFrame:
    """Exponentially weighted moving average per series
    (pandas-`ewm(alpha, adjust=False)` semantics: y_i = (1-a)*y_{i-1}
    + a*x_i, seeded with the first observation).

    Genuinely recursive — the closed form sum(a*(1-a)^(i-j)*x_j) needs
    (1-a)^(-i) intermediate terms that overflow past a few thousand
    rows, so no WINDOW formulation exists; the committed oracle is a
    DuckDB recursive CTE that replays the recursion row-by-row with
    pandas' exact C-kernel arithmetic order (bit-identical, hash-green
    at sf0.001/0.01/0.1), and tests/test_seriesstats.py additionally
    holds it to pandas' ewm differentially. The fold is pandas'
    C-implemented ``ewm(adjust=False, ignore_na=True)`` per series, run
    on the shared sorted-partition kernel path (operators/grouped.py).
    NaN inputs emit the carried mean and leave state unchanged.
    """
    import numpy as np
    import pandas as pd

    from metevents_spark.numeric import round_half_away
    from metevents_spark.operators.grouped import map_series_kernel

    def kernel(sid, ts, vals):
        ew = pd.Series(vals).ewm(alpha=alpha, adjust=False, ignore_na=True).mean()
        sids = np.full(len(ts), sid, dtype=object)
        return sids, ts, vals, round_half_away(ew.to_numpy(), 6)

    return map_series_kernel(
        series_frame(spark, sf_dir),
        kernel,
        "sid string, ts timestamp_ntz, value double, ewma double",
    ).sortWithinPartitions("sid", "ts")


def trailing_24h_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-based RANGE frame: average over each row's trailing 24
    hours (event-time window, not row count — rows are irregularly
    spaced). Ordered on epoch micros so the frame bound is numeric and
    engine-portable."""
    df = series_frame(spark, sf_dir)
    day_us = 86_400 * 1_000_000
    w = (
        Window.partitionBy("sid")
        .orderBy(epoch_us("ts"))
        .rangeBetween(-day_us, 0)
    )
    return (
        df.select(
            "sid", "seq", "ts",
            F.round(F.avg("value").over(w), 6).alias("mean_24h"),
            F.count("value").over(w).alias("n_24h"),
        )
        .orderBy("sid", "ts", "seq")
    )


def series_acf(
    spark: SparkSession, sf_dir: str, max_lag: int = 3
) -> DataFrame:
    """Per-series autocorrelation at lags 1..max_lag — the
    stationarity / seasonality diagnostic run before fitting any
    forecasting model on the series store.

    The lag columns come off ONE window pass (same (sid | ts, seq)
    exchange every series operator shares), and all lags reduce in ONE
    groupBy via corr aggregates — max_lag never adds scans or
    shuffles. NULL/NaN points drop first (corr pairs with a NULL lag
    are skipped by the aggregate on both engines, so series boundaries
    need no special casing). Rounded to 5 decimals: corr's co-moment
    merge is parallel-order dependent in the last ulps.
    """
    df = series_frame(spark, sf_dir).filter(
        F.col("value").isNotNull() & ~F.isnan("value")
    )
    w = Window.partitionBy("sid").orderBy("ts", "seq")
    lagged = df.select(
        "sid",
        "value",
        *[
            F.lag("value", k).over(w).alias(f"_lag{k}")
            for k in range(1, max_lag + 1)
        ],
    )
    return (
        lagged.groupBy("sid")
        .agg(
            F.count("value").alias("n_points"),
            *[
                F.round(F.corr("value", f"_lag{k}"), 5).alias(f"acf_lag{k}")
                for k in range(1, max_lag + 1)
            ],
        )
        .filter(F.col("n_points") > max_lag)
        .orderBy("sid")
    )


def seasonal_decompose(
    spark: SparkSession, sf_dir: str, half_window: int = 12
) -> DataFrame:
    """Classical additive decomposition (statsmodels
    ``seasonal_decompose`` flavor, moving-average trend — not LOESS
    STL): value = trend + seasonal + resid.

    trend    = centered +-``half_window``-row moving average per series
               (boundary rows average over the rows that exist —
               deterministic, no NULL edges);
    seasonal = mean detrended value of the row's (series, hour-of-day)
               stratum — the diurnal profile;
    resid    = what's left.

    All components live in EXACT integer micro-units (value * 1e6 as
    LONG): the windowed sums are associative integer adds, and each
    component does ONE double division + floor — so results are
    bit-identical across engines. A double formulation is NOT (window
    avg summation order differs between Spark's running frame and an
    oracle's segment tree; the ulp drift flips rounded digits —
    observed on this dataset).

    Two window families: the rows-frame trend shares the per-sid
    exchange every series operator uses; the seasonal stratum window
    repartitions FINER on (sid, hour) — same skew-friendly shape as
    seasonal_anomaly. All double math rounds to 6 decimals at the
    output boundary.
    """
    df = series_frame(spark, sf_dir).filter(
        F.col("value").isNotNull() & ~F.isnan("value")
    )
    w_trend = (
        Window.partitionBy("sid")
        .orderBy("ts", "seq")
        .rowsBetween(-half_window, half_window)
    )
    v_u = F.round(F.col("value") * 1e6).cast("long")
    with_trend = df.select(
        "sid",
        "seq",
        "ts",
        "value",
        v_u.alias("_vu"),
        F.floor(
            F.sum(v_u).over(w_trend)
            / F.count(F.lit(1)).over(w_trend)
            + F.lit(0.5)
        ).alias("_tu"),
        F.hour("ts").cast("long").alias("_hod"),
    )
    w_season = Window.partitionBy("sid", "_hod")
    det = F.col("_vu") - F.col("_tu")
    with_season = with_trend.select(
        "sid",
        "seq",
        "ts",
        "value",
        "_vu",
        "_tu",
        F.floor(
            F.sum(det).over(w_season)
            / F.count(F.lit(1)).over(w_season)
            + F.lit(0.5)
        ).alias("_su"),
    )
    return with_season.select(
        "sid",
        "seq",
        "ts",
        "value",
        (F.col("_tu") / 1e6).alias("trend"),
        (F.col("_su") / 1e6).alias("seasonal"),
        ((F.col("_vu") - F.col("_tu") - F.col("_su")) / 1e6).alias("resid"),
    ).orderBy("sid", "ts", "seq")


def winsorize_series(
    spark: SparkSession, sf_dir: str, lo: float = 0.05, hi: float = 0.95
) -> DataFrame:
    """Per-series winsorization: clip each value to its own series'
    [p_lo, p_hi] exact interpolated percentile band — the standard
    outlier-taming transform applied before training on heavy-tailed
    sensor data (keeps the row, unlike the filtering detectors).

    The band annotates rows IN PLACE as unbounded-window percentiles
    over the sid partition (guide §2.4): the earlier
    groupBy-then-join-back shape scanned the events twice (once into
    the band aggregate, once as the join probe) and re-ran the filter
    per side; the window pays the one sid exchange the output's range
    sort needs data clustered for anyway, and the exact ``percentile``
    aggregate computes the identical interpolated value over the
    identical partition row set (measured 1.01 → 0.64 s warm at sf0.1,
    hash-exact vs the DuckDB oracle — the same rewrite that took
    robust_zscore 1.20 → 0.50 s). The explicit ``sid IS NOT NULL``
    filter reproduces the old inner join's implicit null-key drop, so
    the row set is provably identical. NULL/NaN rows drop with the
    same filter every stats operator uses.
    """
    df = series_frame(spark, sf_dir).filter(
        F.col("value").isNotNull()
        & ~F.isnan("value")
        & F.col("sid").isNotNull()
    )
    w_sid = Window.partitionBy("sid")
    banded = df.select(
        "sid",
        "seq",
        "ts",
        "value",
        F.percentile("value", F.lit(lo)).over(w_sid).alias("p_lo"),
        F.percentile("value", F.lit(hi)).over(w_sid).alias("p_hi"),
    )
    clipped = F.least(F.greatest(F.col("value"), F.col("p_lo")), F.col("p_hi"))
    return (
        banded
        .select(
            "sid",
            "seq",
            "ts",
            "value",
            F.round(clipped, 6).alias("winsorized"),
            ((F.col("value") < F.col("p_lo")) | (F.col("value") > F.col("p_hi"))).alias(
                "was_clipped"
            ),
        )
        .orderBy("sid", "ts", "seq")
    )


def downsample_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily OHLC (open/high/low/close) bars per series — the standard
    resample for charting and coarse-grained storage of tick-style
    series (the reference's pandas users reach for
    ``resample('D').ohlc()``; this is that, distributed).

    Pure selection aggregates: ``min_by``/``max_by`` pick the first and
    last observation by (ts, seq) while high/low are plain MIN/MAX, so
    every column partial-aggregates map-side and the single exchange
    carries one row per (sid, day) — raw ticks never shuffle. No
    arithmetic on values (selection only), so the output is exact
    across engines with no rounding.

    NULL/NaN values are dropped first: a NaN would win every MAX under
    IEEE-ordering in both engines but poison AVG-style consumers, and
    a NULL open/close is never what a chart wants.
    """
    df = series_frame(spark, sf_dir).filter(
        F.col("value").isNotNull() & ~F.isnan("value")
    )
    ord_key = F.struct("ts", "seq")
    return (
        df.groupBy("sid", F.date_trunc("day", F.col("ts")).alias("day"))
        .agg(
            F.min_by("value", ord_key).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", ord_key).alias("close"),
            F.count(F.lit(1)).alias("n_obs"),
        )
        .orderBy("sid", "day")
    )


def event_type_corr(
    spark: SparkSession, sf_dir: str, min_hours: int = 24
) -> DataFrame:
    """Pearson correlation between every pair of event types' hourly
    mean values over co-observed hours — the cross-signal diagnostic
    that tells a pipeline which metrics co-move before anyone fits a
    model on them.

    Scale shape: event_type is a bounded-cardinality dimension, so the
    raw scan collapses to (hour, type) means FIRST (partial agg
    map-side; the exchange carries |hours| x k rows, never events) and
    the pair join is a k-way self-equijoin on the hour key of that tiny
    rollup — pairwise work scales with k^2 * |hours|, independent of
    event volume. The rollup is PERSISTED: DataFrame reuse shares no
    subplan, so the unpersisted self-join re-derived the whole
    scan+aggregate subtree per side — two corpus scans for a
    |hours| x k frame (r13 2x-scan sweep; the mad_drift pattern).
    Hourly means round to 6 digits before the corr so the aggregate
    sees identical inputs in any engine; the corr itself rounds to 5
    (the proven series_acf discipline).
    """
    from pyspark import StorageLevel

    from metevents_spark.cache import track

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & ~F.isnan("value")
    )
    hourly = track(
        ev.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hr"), "event_type"
        )
        .agg(F.round(F.avg("value"), 6).alias("v"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    a = hourly.select(
        F.col("hr"), F.col("event_type").alias("type_a"), F.col("v").alias("va")
    )
    b = hourly.select(
        F.col("hr"), F.col("event_type").alias("type_b"), F.col("v").alias("vb")
    )
    return (
        a.join(b, "hr")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(
            F.count(F.lit(1)).alias("n_hours"),
            F.round(F.corr("va", "vb"), 5).alias("corr"),
        )
        .filter(F.col("n_hours") >= min_hours)
        .orderBy("type_a", "type_b")
    )


def holt_smooth(
    spark: SparkSession, sf_dir: str, alpha: float = 0.2, beta: float = 0.1
) -> DataFrame:
    """Holt double exponential smoothing per series (additive trend):
    the level is the smoothed value, the trend the per-step drift a
    forecaster extrapolates.

    The recurrence is :func:`metevents_spark.numeric.holt_fold`, the one
    shared with holt_backtest, model_select_backtest and the streaming
    ``stream_holt``: seeded l = x, b = 0 at the first non-NULL point, so
    ``beta=0`` reduces exactly to the EWMA recursion, and a NaN/NULL
    input emits the carried state and leaves it unchanged, matching the
    EWMA operator's dirty-data contract. Level and trend round with
    ``round_half_away(·, 6)``, SQL ``ROUND(x, 6)``.

    Genuinely recursive (two-state linear recurrence), so there is no
    WINDOW form, but the linearity lets a DuckDB recursive CTE replay
    it exactly (the committed oracle mirrors the fold's evaluation
    order). The distributed plumbing is the shared sorted-partition
    kernel path every sequential kernel here uses.
    """
    import numpy as np

    from metevents_spark.numeric import holt_fold, round_half_away
    from metevents_spark.operators.grouped import map_series_kernel

    def kernel(sid, ts, vals):
        level, trend, _ = holt_fold(vals, alpha, beta)
        sids = np.full(len(ts), sid, dtype=object)
        return (
            sids, ts, vals, round_half_away(level, 6), round_half_away(trend, 6)
        )

    return map_series_kernel(
        series_frame(spark, sf_dir),
        kernel,
        "sid string, ts timestamp_ntz, value double, level double, trend double",
    ).sortWithinPartitions("sid", "ts")


def anomaly_consensus(
    spark: SparkSession,
    sf_dir: str,
    z_global: float = 3.0,
    z_robust: float = 3.5,
    z_seasonal: float = 1.5,
) -> DataFrame:
    """Ensemble anomaly vote: rows flagged by at least TWO of the three
    detectors — global z-score, robust (median/MAD) z-score, and the
    seasonality-aware stratum z-score. Single-method detectors each
    have a blind spot (spikes inflate the mean and mask each other;
    MAD misses level shifts; the global score averages the diurnal
    cycle away); production alerting pipelines vote across them to cut
    false positives without losing the unambiguous hits.

    ONE scan of the series frame computes all three scores: the global
    and stratum scores are whole-partition window aggregates (sid and
    (sid, tod) exchanges), and the median/MAD side is |sids|-row joins
    reusing the sid partitioning — no detector re-runs its own scan.
    NULL values and degenerate strata yield NULL scores, which vote 0
    via the CASE guard in both engines. Deliberately NOT cached (r13
    measurement): persisting the tagged frame for the three branches
    read 2.1s -> 2.5s warm at sf0.1 — the cache materializes every
    column, defeating each branch's own column pruning, and the
    branches share one job so they race to fill it anyway; the scan
    is cheaper than the cache.
    """
    df = series_frame(spark, sf_dir).withColumn(
        "tod", F.floor(F.hour("ts") / 6).cast("long")
    )
    w_sid = Window.partitionBy("sid")
    w_tod = Window.partitionBy("sid", "tod")
    zg = F.round(
        (F.col("value") - F.avg("value").over(w_sid))
        / F.stddev_samp("value").over(w_sid),
        6,
    )
    zs = F.round(
        (F.col("value") - F.avg("value").over(w_tod))
        / F.stddev_samp("value").over(w_tod),
        6,
    )
    med = df.groupBy("sid").agg(F.median("value").alias("med"))
    mad = (
        df.join(med, "sid")
        .groupBy("sid")
        .agg(F.median(F.abs(F.col("value") - F.col("med"))).alias("mad"))
    )
    zr = F.round(
        F.lit(0.6745)
        * (F.col("value") - F.col("med"))
        / F.nullif(F.col("mad"), F.lit(0.0)),
        6,
    )
    vote = lambda z, t: F.when(F.abs(z) > t, 1).otherwise(0)
    scored = (
        df.join(med, "sid")
        .join(mad, "sid")
        .select(
            "sid",
            "seq",
            "ts",
            "value",
            zg.alias("z_global"),
            zr.alias("z_robust"),
            zs.alias("z_seasonal"),
        )
        .withColumn(
            "n_flags",
            (
                vote(F.col("z_global"), z_global)
                + vote(F.col("z_robust"), z_robust)
                + vote(F.col("z_seasonal"), z_seasonal)
            ).cast("long"),
        )
    )
    return (
        scored.filter(F.col("n_flags") >= 2)
        .select(
            "sid", "seq", "ts", "value",
            "n_flags", "z_global", "z_robust", "z_seasonal",
        )
        .orderBy("sid", "ts", "seq")
    )


def time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(series, day) trapezoidal TIME-weighted mean over the
    irregular event stream — the TSDB operator (TimescaleDB
    ``time_weight('Linear')``, kdb ``twa``) that the plain AVG family
    cannot express: on irregular timestamps a sample that held for six
    hours must weigh 360x one that held for a minute.

    Each consecutive (prev, curr) pair within a series forms a segment
    whose mass is the trapezoid mean(prev, curr) x duration; a segment
    is attributed to the day of its LATER endpoint (no segment
    splitting — a deliberate, documented contract that keeps the
    operator a pure lag + groupBy with one sid exchange). ``simple_avg``
    of the same segment endpoints rides along so the two means can be
    contrasted row-for-row. Days whose segments all have zero duration
    (duplicate timestamps) drop — the time integral is undefined there.

    Scale: one window pass (sid exchange) + one groupBy on (sid, day)
    that AQE coalesces; no join, nothing driver-side. NULL/NaN values
    are excluded up front, so a NULL bridges its neighbors into one
    longer segment (the same skip-then-pair semantics the detectors
    use for gap analysis).
    """
    df = series_frame(spark, sf_dir).filter(
        F.col("value").isNotNull() & ~F.isnan("value")
    )
    w = Window.partitionBy("sid").orderBy("ts", "seq")
    seg = (
        df.select(
            "sid",
            "ts",
            "value",
            F.lag("ts").over(w).alias("pts"),
            F.lag("value").over(w).alias("pv"),
        )
        .filter(F.col("pts").isNotNull())
    )
    dt = (epoch_us(F.col("ts")) - epoch_us(F.col("pts"))).cast("double")
    return (
        seg.groupBy(
            "sid", F.date_trunc("day", F.col("ts")).alias("bucket_day")
        )
        .agg(
            F.count(F.lit(1)).alias("n_segments"),
            F.sum(dt).alias("_dt_total"),
            F.round(
                F.sum((F.col("pv") + F.col("value")) / 2 * dt) / F.sum(dt),
                6,
            ).alias("twa"),
            F.round(F.avg("value"), 6).alias("simple_avg"),
        )
        .filter(F.col("_dt_total") > 0)
        .drop("_dt_total")
        .orderBy("sid", "bucket_day")
    )


def counter_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series monotonic-counter increase and hourly rate with
    RESET handling — the Prometheus ``increase()``/``rate()`` contract:
    a value drop means the counter (a tipping-bucket rain gauge, a
    byte counter) restarted at zero, so the post-reset reading is
    itself new accumulation, not a negative delta.

    Per consecutive pair: delta = value - prev if the counter grew,
    else the raw value (reset). Per series: total increase, reset
    count, observed span, and increase / span-hours. Series need >= 2
    points and a positive span for a defined rate.

    Scale: identical shape to ``time_weighted_avg`` — one lag window on
    the sid exchange, one sid-sized groupBy; no joins, no driver state.
    """
    df = series_frame(spark, sf_dir).filter(
        F.col("value").isNotNull() & ~F.isnan("value")
    )
    w = Window.partitionBy("sid").orderBy("ts", "seq")
    lagged = df.select(
        "sid", "ts", "value", F.lag("value").over(w).alias("pv")
    )
    delta = F.when(
        F.col("pv").isNull(), F.lit(None).cast("double")
    ).when(
        F.col("value") >= F.col("pv"), F.col("value") - F.col("pv")
    ).otherwise(F.col("value"))
    span_hours = (
        (epoch_us(F.max("ts")) - epoch_us(F.min("ts"))) / F.lit(3.6e9)
    )
    out = lagged.groupBy("sid").agg(
        F.count(F.lit(1)).alias("n_points"),
        F.sum(
            F.when(
                F.col("pv").isNotNull() & (F.col("value") < F.col("pv")), 1
            ).otherwise(0)
        ).cast("long").alias("resets"),
        F.round(F.sum(delta), 6).alias("increase"),
        span_hours.alias("_span_h"),
    )
    return (
        out.filter((F.col("n_points") >= 2) & (F.col("_span_h") > 0))
        .select(
            "sid",
            "n_points",
            "resets",
            "increase",
            F.round(F.col("increase") / F.col("_span_h"), 6).alias(
                "rate_per_hour"
            ),
        )
        .orderBy("sid")
    )


def rolling_median(
    spark: SparkSession, sf_dir: str, window_rows: int = 7
) -> DataFrame:
    """Exact trailing rolling median per series: for every point, the
    interpolated median (QUANTILE_CONT semantics) of the last
    ``window_rows`` values including the current one — the robust
    smoother the z-score family should be read against (a median
    window shrugs off the spikes that drag a rolling mean).

    NULL values are skipped by the percentile aggregate exactly as
    numpy's nanmedian would; a window of all-NULLs yields NULL.

    Scale shape: ONE hash exchange on sid feeds a bounded ROWS-frame
    window — no self-join, no explode; per-partition state is the
    frame's ``window_rows`` values. Interpolation at p=0.5 lands on
    the half-grid of the input values, so ROUND(...,6) is stable
    across engines.
    """
    s = series_frame(spark, sf_dir)
    w = (
        Window.partitionBy("sid")
        .orderBy("ts", "seq")
        .rowsBetween(-(window_rows - 1), 0)
    )
    return s.select(
        "sid",
        "seq",
        "ts",
        "value",
        F.round(F.percentile("value", F.lit(0.5)).over(w), 6).alias(
            f"med{window_rows}"
        ),
    ).orderBy("sid", "ts", "seq")


def _errors_us(vals, level, trend) -> list[int]:
    """One-step-ahead errors x_t - (l_{t-1} + b_{t-1}) in integer
    micro-units (SQL ``ROUND(e * 1e6)``) at every non-NaN point with
    state before it, as exact Python ints for the callers' sums."""
    import numpy as np

    from metevents_spark.numeric import round_half_away

    x = vals[1:]
    ok = ~np.isnan(x) & ~np.isnan(level[:-1])
    e = x[ok] - (level[:-1][ok] + trend[:-1][ok])
    return list(map(int, round_half_away(e * 1e6).tolist()))


def holt_backtest(
    spark: SparkSession, sf_dir: str, alpha: float = 0.2, beta: float = 0.1
) -> DataFrame:
    """Walk-forward backtest of the Holt forecaster: at every point
    with existing state, the one-step-ahead forecast is
    f_t = l_{t-1} + b_{t-1}; report per-series MAE, bias (mean signed
    error) and RMSE — the accuracy meter that decides whether the
    smoother's (alpha, beta) are fit for alerting.

    Engine-exact by the repo's integer-unit convention: the level and
    trend come from :func:`metevents_spark.numeric.holt_fold`, the fold
    the hash-green holt_smooth oracle replays, so both engines see
    bit-identical errors; each error quantizes to micro-units
    (``ROUND(e*1e6)``), the sums fold as EXACT Python/HUGEINT integers
    (Σe² passes 2^63 once errors reach ~3e9 micro-units, where an int64
    sum would wrap), and the final divisions/sqrt are one fixed float
    expression rounded half away at the micro-unit (IEEE sqrt is
    correctly rounded, so even RMSE is deterministic).

    Scale shape: the same single-exchange sorted-partition kernel as
    every sequential smoother; output is one row per series.
    """
    import math

    from metevents_spark.numeric import holt_fold, round_half_away
    from metevents_spark.operators.grouped import map_series_kernel

    def kernel(sid, ts, vals):
        level, trend, _ = holt_fold(vals, alpha, beta)
        e_us = _errors_us(vals, level, trend)
        n = len(e_us)
        if n == 0:
            return ()
        s_sq = sum(e * e for e in e_us)
        mae, bias, rmse = round_half_away([
            float(sum(map(abs, e_us))) / n,
            float(sum(e_us)) / n,
            math.sqrt(float(s_sq) / n),
        ]) / 1e6
        return [sid], [n], [mae], [bias], [rmse]

    return map_series_kernel(
        series_frame(spark, sf_dir),
        kernel,
        "sid string, n_forecasts long, mae double, bias double, rmse double",
    ).sortWithinPartitions("sid")


def interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series inter-arrival statistics: gap count, mean/max gap,
    coefficient of variation squared (CV² = 1 for Poisson arrivals,
    > 1 bursty, < 1 regular) and the Goh-Barabási burstiness
    B = (σ-μ)/(σ+μ) in [-1, 1] — the arrival-process fingerprint that
    complements freq_infer's modal-gap answer.

    Engine-exact: gaps quantize to integer SECONDS (floor — exact in
    both engines), the moment sums are exact int64 (max gap ~2.6e6 s,
    squared x 150 gaps ≈ 1e15, far under 2^63), and the final
    mean/variance/σ are one fixed float expression tree (IEEE sqrt).

    Scale shape: one sid exchange for the lag window, then a per-sid
    aggregate — the standard detector plan.
    """
    s = series_frame(spark, sf_dir)
    w = Window.partitionBy("sid").orderBy("ts", "seq")
    gaps = (
        s.select(
            "sid",
            # explicit FLOOR: Spark's double->long cast truncates but
            # DuckDB's rounds, so the oracle mirrors FLOOR on both sides
            F.floor(
                (epoch_us(F.col("ts"))
                 - epoch_us(F.lag("ts").over(w))) / F.lit(1_000_000)
            ).cast("long").alias("g"),
        )
        .filter(F.col("g").isNotNull())
    )
    d = lambda c: F.col(c).cast("double")
    agg = gaps.groupBy("sid").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.sum("g").alias("s1"),
        F.sum(F.col("g") * F.col("g")).alias("s2"),
        F.max("g").alias("max_gap_s"),
    )
    mean = d("s1") / d("n_gaps")
    var = (d("s2") - d("s1") * d("s1") / d("n_gaps")) / d("n_gaps")
    sd = F.sqrt(var)
    return (
        agg.filter(F.col("n_gaps") >= 2)
        .select(
            "sid",
            "n_gaps",
            F.round(mean, 6).alias("mean_gap_s"),
            "max_gap_s",
            F.round(var / (mean * mean), 6).alias("cv2"),
            F.round((sd - mean) / (sd + mean), 6).alias("burstiness"),
        )
        .orderBy("sid")
    )


def model_select_backtest(
    spark: SparkSession, sf_dir: str, alpha: float = 0.2, beta: float = 0.1
) -> DataFrame:
    """Per-series forecaster selection by walk-forward backtest: run
    the EWMA (level-only) and Holt (level+trend) recursions over the
    same series, score both with one-step-ahead MAE, and crown a
    champion — the model-selection step a forecasting pipeline runs
    before alerting thresholds are fit (a trending series wants Holt;
    a mean-reverting one is hurt by the trend term).

    Both recursions are :func:`metevents_spark.numeric.holt_fold`, the
    EWMA as its ``beta=0`` level. Both initialize at the SAME first
    non-NULL point and forecast at the SAME subsequent points, so
    n_forecasts is shared and the champion test is a pure INTEGER
    comparison of the two micro-unit absolute-error sums (ties ->
    'ewma', parsimony). MAEs quantize via the holt_backtest micro-unit
    pattern — engine-exact, no float ROUND at the boundary.

    Scale shape: the same single-exchange sorted-partition kernel as
    every sequential smoother; one row per series out.
    """
    from metevents_spark.numeric import holt_fold, round_half_away
    from metevents_spark.operators.grouped import map_series_kernel

    def kernel(sid, ts, vals):
        ewma, flat, _ = holt_fold(vals, alpha, 0.0)
        abs_e = sum(map(abs, _errors_us(vals, ewma, flat)))
        level, trend, _ = holt_fold(vals, alpha, beta)
        e_us = _errors_us(vals, level, trend)
        n = len(e_us)
        if n == 0:
            return ()
        abs_h = sum(map(abs, e_us))
        mae_e, mae_h = round_half_away([float(abs_e) / n, float(abs_h) / n]) / 1e6
        champion = "ewma" if abs_e <= abs_h else "holt"
        return [sid], [n], [mae_e], [mae_h], [champion]

    return map_series_kernel(
        series_frame(spark, sf_dir),
        kernel,
        "sid string, n_forecasts long, mae_ewma double, mae_holt double,"
        " champion string",
    ).sortWithinPartitions("sid")
