"""Streaming surface tests: multi-batch file feed through memory sinks.

The stateful storm detector must emit exactly the provably-closed
storms (batch-kernel prefix) and never duplicate across batches.
"""

from __future__ import annotations

import shutil
import time
from datetime import datetime, timedelta
from functools import partial
from pathlib import Path

import numpy as np
import pandas as pd
import pytest
from pyspark.sql.types import StructType

from metevents_spark.operators.storms import storm_find_numpy
from metevents_spark.streaming import stream_sessions, stream_storm_find
from metevents_spark.streaming.detect import (
    CUSUM_OUTPUT_SCHEMA,
    ZSCORE_OUTPUT_SCHEMA,
    _cusum_step,
    _zscore_step,
    fold_chunks,
)

US = 1_000_000
DAY_US = 86_400 * US


@pytest.fixture()
def stream_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("stream")
    yield str(d)
    shutil.rmtree(d, ignore_errors=True)


def _advance_zscore(state, chunks, z_thresh: float, min_n: int):
    """One trigger of ``stream_zscore`` for one series, without Spark's
    streaming engine (the schema parse needs a session):
    -> (output frames, new state)."""
    step = partial(_zscore_step, z_thresh=z_thresh, min_n=min_n)
    fields = StructType.fromDDL(ZSCORE_OUTPUT_SCHEMA).fields
    return fold_chunks(step, None, state, chunks, fields)


def _advance_cusum(state, chunks, h: float, min_n: int):
    """One trigger of ``stream_cusum`` for one series, as
    ``_advance_zscore``."""
    step = partial(_cusum_step, h=h, min_n=min_n)
    fields = StructType.fromDDL(CUSUM_OUTPUT_SCHEMA).fields
    return fold_chunks(step, None, state, chunks, fields)


def daily_rows(values, sid="s1", start=datetime(2023, 1, 1)):
    return pd.DataFrame(
        {
            "sid": sid,
            "ts": [start + timedelta(days=i) for i in range(len(values))],
            "value": [float(v) for v in values],
        }
    )


@pytest.mark.parametrize("api", ["apply_in_pandas_with_state"])
def test_stream_storms_incremental(spark, stream_dir, api):
    # three storms separated by long dry gaps; chunk split mid-series
    values = (
        [0, 2, 2, 0, 0, 0, 0]      # storm 1 (closed by later data)
        + [0, 3, 3, 3, 0, 0, 0]    # storm 2
        + [0, 0, 5, 5, 0, 0, 0]    # storm 3 (dry-out proven in chunk 2)
    )
    pdf = daily_rows(values)
    Path(stream_dir, "in").mkdir()
    pdf.iloc[:12].to_parquet(f"{stream_dir}/in/chunk0.parquet", coerce_timestamps="us")
    time.sleep(0.05)
    pdf.iloc[12:].to_parquet(f"{stream_dir}/in/chunk1.parquet", coerce_timestamps="us")

    stream = (
        spark.readStream.schema("sid string, ts timestamp, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{stream_dir}/in")
    )
    out = stream_storm_find(
        stream, instant_mass_to_start=1.0, min_storm_total=2.0, hours_to_stop=24
    )
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName(f"storms_out_{api}")
        .option("checkpointLocation", f"{stream_dir}/ckpt_{api}")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = [
        (r.start_us, r.stop_us, r.n_points, r.total)
        for r in spark.sql(
            f"SELECT * FROM storms_out_{api} ORDER BY start_us"
        ).collect()
    ]

    # batch expectation: all storms provably closed before series end
    ts = pdf["ts"].to_numpy(dtype="datetime64[us]")
    vals = pdf["value"].to_numpy(dtype=np.float64)
    batch = storm_find_numpy(
        ts, vals, instant_mass_to_start=1.0, min_storm_total=2.0, hours_to_stop=24
    )
    dt_us = 24 * 3600 * US
    buf_max = int(ts[-1].astype(np.int64))
    expected = [
        (
            int(e[0].astype(np.int64)),
            int(e[1].astype(np.int64)),
            e[3],
            e[2],
        )
        for i, e in enumerate(batch)
        if not (i == len(batch) - 1 and buf_max - int(e[1].astype(np.int64)) <= dt_us)
    ]
    assert len(expected) >= 2  # sanity: the fixture closes >= 2 storms
    assert got == expected


def test_stream_sessions_counts(spark, stream_dir):
    from metevents_spark.io import load_table
    from metevents_spark.operators.sessions import sessionize
    from metevents_spark.io import series_frame

    ev = load_table(spark, "/root/testdata/sf0.001", "events").select(
        "user_id", "ts", "value"
    )
    Path(stream_dir, "sess").mkdir()
    ev.toPandas().to_parquet(f"{stream_dir}/sess/all.parquet", coerce_timestamps="us")

    stream = (
        spark.readStream.schema("user_id long, ts timestamp, value double")
        .parquet(f"{stream_dir}/sess")
    )
    out = stream_sessions(stream, gap="4 hours", watermark="100 days")
    q = (
        out.writeStream.outputMode("complete")
        .format("memory")
        .queryName("sess_out")
        .option("checkpointLocation", f"{stream_dir}/sess_ckpt")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    streamed = spark.sql("SELECT * FROM sess_out").collect()

    batch = sessionize(series_frame(spark, "/root/testdata/sf0.001"), gap_s=14400.0)
    assert len(streamed) == batch.count()
    assert sum(r.n_events for r in streamed) == 1000


def test_stream_dedup_keeps_first_arrival(spark, stream_dir):
    from metevents_spark.streaming import stream_dedup

    pdf = daily_rows([1, 2, 3, 4])
    pdf["event_id"] = [10, 11, 11, 12]  # 11 duplicated within watermark
    Path(stream_dir, "dd").mkdir()
    pdf.iloc[:2].to_parquet(f"{stream_dir}/dd/c0.parquet", coerce_timestamps="us")
    time.sleep(0.05)
    pdf.iloc[2:].to_parquet(f"{stream_dir}/dd/c1.parquet", coerce_timestamps="us")

    stream = (
        spark.readStream.schema("sid string, ts timestamp, value double, event_id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{stream_dir}/dd")
    )
    q = (
        stream_dedup(stream, ["event_id"], watermark="10 days")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_out")
        .option("checkpointLocation", f"{stream_dir}/dd_ckpt")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    rows = spark.sql(
        "SELECT event_id, value FROM dedup_out ORDER BY event_id"
    ).collect()
    assert [(r.event_id, r.value) for r in rows] == [
        (10, 1.0), (11, 2.0), (12, 4.0)
    ]


def test_stream_daily_rollup_matches_batch(spark, stream_dir):
    from pyspark.sql import functions as F

    from metevents_spark.io import load_table
    from metevents_spark.streaming import stream_daily_rollup

    ev = load_table(spark, "/root/testdata/sf0.001", "events").select(
        "ts", "event_type", "value"
    )
    Path(stream_dir, "ru").mkdir()
    pdf = ev.toPandas()
    half = len(pdf) // 2
    pdf.iloc[:half].to_parquet(f"{stream_dir}/ru/c0.parquet", coerce_timestamps="us")
    time.sleep(0.05)
    pdf.iloc[half:].to_parquet(f"{stream_dir}/ru/c1.parquet", coerce_timestamps="us")

    stream = (
        spark.readStream.schema("ts timestamp, event_type string, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{stream_dir}/ru")
    )
    q = (
        stream_daily_rollup(stream, watermark="0 seconds")
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("rollup_out")
        .option("checkpointLocation", f"{stream_dir}/ru_ckpt")
        .start()
    )
    q.processAllAvailable()
    q.stop()

    got = {
        (r.day, r.event_type): (r.n_events, r.sum_value)
        for r in spark.sql("SELECT * FROM rollup_out").collect()
    }
    batch = (
        ev.groupBy(F.date_trunc("day", "ts").alias("day"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 3).alias("s"),
        )
        .collect()
    )
    expected = {(r.day, r.event_type): (r.n, r.s) for r in batch}
    assert got == expected


def test_stream_funnel_progression(spark, stream_dir):
    """Multi-batch funnel: emissions are exactly the progression chain
    of the time-ordered log, each (user, stage) emitted once, across
    chunk boundaries."""
    from metevents_spark.streaming import advance_funnel, stream_funnel

    t0 = datetime(2024, 1, 1)
    log = [
        # user 1 completes the funnel across the two chunks
        (1, "signup", 0), (1, "view", 1), (2, "signup", 2), (1, "click", 3),
        # user 2's click precedes its view -> stuck at view until day 8
        (2, "click", 4), (2, "view", 5),
        # chunk 2
        (1, "purchase", 6), (2, "click", 8), (3, "view", 9),
    ]
    pdf = pd.DataFrame(
        {
            "user_id": [u for u, _, _ in log],
            "event_type": [e for _, e, _ in log],
            "ts": [t0 + timedelta(days=d) for _, _, d in log],
        }
    )
    Path(stream_dir, "fin").mkdir()
    pdf.iloc[:6].to_parquet(f"{stream_dir}/fin/c0.parquet", coerce_timestamps="us")
    time.sleep(0.05)
    pdf.iloc[6:].to_parquet(f"{stream_dir}/fin/c1.parquet", coerce_timestamps="us")

    stream = (
        spark.readStream.schema("user_id long, event_type string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{stream_dir}/fin")
    )
    q = (
        stream_funnel(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("funnel_out")
        .option("checkpointLocation", f"{stream_dir}/fckpt")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {
        (r.user_id, r.stage): (r.event_type, r.reached_us)
        for r in spark.sql("SELECT * FROM funnel_out").collect()
    }

    # pure-Python expectation over the full time-ordered log
    US_ = 1_000_000
    by_user: dict = {}
    for u, e, d in sorted(log, key=lambda x: x[2]):
        by_user.setdefault(u, []).append((e, d * 86_400 * US_ +
                                          int(t0.timestamp()) * US_))
    expected = {}
    for u, events in by_user.items():
        emitted, _ = advance_funnel(None, events, ("signup", "view", "click", "purchase"))
        for stage, etype, ts_us in emitted:
            expected[(u, stage)] = (etype, ts_us)
    assert got == expected
    # the duplicate-count invariant: one emission per (user, stage)
    n_rows = spark.sql("SELECT COUNT(*) AS n FROM funnel_out").collect()[0].n
    assert n_rows == len(expected)
    # semantic spot checks: user 1 completes; user 2 recovers at day 8;
    # user 3 never signs up
    assert (1, 4) in got and got[(1, 4)][0] == "purchase"
    assert (2, 3) in got  # click at day 8 (the day-4 click was too early)
    assert all(u != 3 for u, _ in got)


@pytest.mark.parametrize("split", [5, 17, 60])
def test_stream_zscore_chunk_invariant_and_matches_expanding(
    spark, stream_dir, split
):
    """Output must equal the batch expanding-prior z-score and be
    identical however the stream is chunked into micro-batches."""
    from metevents_spark.streaming.detect import stream_zscore

    rng = np.random.RandomState(3)
    values = list(rng.randn(60) * 2 + 10)
    values[40] = 40.0  # unambiguous spike after warmup
    values[55] = -25.0
    pdf = daily_rows(values)
    Path(stream_dir, "in").mkdir()
    pdf.iloc[:split].to_parquet(
        f"{stream_dir}/in/chunk0.parquet", coerce_timestamps="us"
    )
    time.sleep(0.05)
    if split < len(pdf):
        pdf.iloc[split:].to_parquet(
            f"{stream_dir}/in/chunk1.parquet", coerce_timestamps="us"
        )

    stream = (
        spark.readStream.schema("sid string, ts timestamp, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{stream_dir}/in")
    )
    name = f"zscore_out_{split}"
    q = (
        stream_zscore(stream, z_thresh=3.0, min_n=30)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", f"{stream_dir}/ckpt_z{split}")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = (
        spark.sql(f"SELECT * FROM {name}")
        .toPandas()
        .sort_values("ts")
        .reset_index(drop=True)
    )

    # batch reference: expanding mean/std over PRIOR points only
    s = pd.Series(values)
    prior_mean = s.expanding().mean().shift(1)
    prior_sd = s.expanding().std(ddof=1).shift(1)
    z = (s - prior_mean) / prior_sd
    mask = (np.arange(len(s)) >= 30) & (z.abs() > 3.0)
    want = pdf[mask.to_numpy()].reset_index(drop=True)
    assert len(got) == len(want) >= 2
    assert (got["ts"].to_numpy() == want["ts"].to_numpy()).all()
    np.testing.assert_allclose(
        got["z"].to_numpy(),
        z[mask.to_numpy()].round(6).to_numpy(),
        atol=1e-6,
    )


def test_stream_drift_matches_batch(spark, stream_dir):
    """Streaming per-window PSI equals the same computation done in
    batch over the full input (complete mode, zero watermark)."""
    from pyspark.sql import functions as F

    from metevents_spark.io import load_table
    from metevents_spark.streaming.drift import (
        N_BINS,
        _bin,
        drift_reference,
        stream_drift,
    )

    sf = "/root/testdata/sf0.001"
    ev = load_table(spark, sf, "events").select("ts", "event_type", "value")
    Path(stream_dir, "dr").mkdir()
    pdf = ev.toPandas()
    half = len(pdf) // 2
    pdf.iloc[:half].to_parquet(f"{stream_dir}/dr/c0.parquet", coerce_timestamps="us")
    time.sleep(0.05)
    pdf.iloc[half:].to_parquet(f"{stream_dir}/dr/c1.parquet", coerce_timestamps="us")

    ref = drift_reference(spark, sf)
    stream = (
        spark.readStream.schema("ts timestamp, event_type string, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{stream_dir}/dr")
    )
    q = (
        stream_drift(stream, ref, window="1 week", watermark="0 seconds")
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("drift_out")
        .option("checkpointLocation", f"{stream_dir}/dr_ckpt")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {
        (r.win_start, r.event_type): (r.n, r.psi)
        for r in spark.sql("SELECT * FROM drift_out").collect()
    }
    assert got, "stream produced no windows"

    # batch equivalent over the same data
    evf = ev.filter(F.col("value").isNotNull() & ~F.isnan("value"))
    hist = evf.groupBy(
        F.window("ts", "1 week").alias("win"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.sum(F.when(_bin(F.col("value")) == i, 1).otherwise(0)).alias(f"c{i}")
            for i in range(N_BINS)
        ],
    )
    pa = [
        (F.col(f"c{i}") + 1.0) / (F.col("n") + F.lit(float(N_BINS)))
        for i in range(N_BINS)
    ]
    psi = sum(
        (pa[i] - F.col(f"r{i}")) * F.log(pa[i] / F.col(f"r{i}"))
        for i in range(N_BINS)
    )
    batch = (
        hist.join(ref, "event_type")
        .select(
            F.col("win.start").alias("win_start"),
            "event_type",
            "n",
            F.round(psi, 6).alias("psi"),
        )
        .collect()
    )
    expected = {(r.win_start, r.event_type): (r.n, r.psi) for r in batch}
    assert got == expected
    # sanity: PSI of a window against its own corpus-wide reference is small
    assert all(abs(v[1]) < 1.0 for v in got.values())


def test_stream_value_quantiles_matches_batch(spark, stream_dir):
    """Streaming per-window approx quantiles equal the identical batch
    sketch computation (same accuracy, same windows)."""
    from pyspark.sql import functions as F

    from metevents_spark.io import load_table
    from metevents_spark.streaming import stream_value_quantiles

    sf = "/root/testdata/sf0.001"
    ev = load_table(spark, sf, "events").select("ts", "event_type", "value")
    Path(stream_dir, "vq").mkdir()
    pdf = ev.toPandas()
    half = len(pdf) // 2
    pdf.iloc[:half].to_parquet(f"{stream_dir}/vq/c0.parquet", coerce_timestamps="us")
    time.sleep(0.05)
    pdf.iloc[half:].to_parquet(f"{stream_dir}/vq/c1.parquet", coerce_timestamps="us")

    stream = (
        spark.readStream.schema("ts timestamp, event_type string, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{stream_dir}/vq")
    )
    q = (
        stream_value_quantiles(stream, window="1 week", watermark="0 seconds")
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("vq_out")
        .option("checkpointLocation", f"{stream_dir}/vq_ckpt")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {
        (r.win_start, r.event_type): (r.n, r.p25, r.p50, r.p75)
        for r in spark.sql("SELECT * FROM vq_out").collect()
    }
    assert got

    pct = F.percentile_approx(
        "value", F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75)), F.lit(10000)
    )
    batch = (
        ev.filter(F.col("value").isNotNull() & ~F.isnan("value"))
        .groupBy(F.window("ts", "1 week").alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), pct.alias("p"))
        .select(
            F.col("win.start").alias("win_start"), "event_type", "n",
            F.round(F.element_at("p", 1), 6).alias("p25"),
            F.round(F.element_at("p", 2), 6).alias("p50"),
            F.round(F.element_at("p", 3), 6).alias("p75"),
        )
        .collect()
    )
    expected = {
        (r.win_start, r.event_type): (r.n, r.p25, r.p50, r.p75) for r in batch
    }
    assert got == expected


def test_stream_cusum_chunk_invariant_and_detects_shift(spark, stream_dir):
    """CUSUM step: (a) verdicts independent of micro-batch chunking,
    (b) a clear mean shift raises an alarm, a stationary series does
    not, (c) end-to-end through the streaming engine equals the unit
    step."""
    import numpy as np
    import pandas as pd

    from metevents_spark.streaming import stream_cusum

    rng = np.random.RandomState(7)
    base = list(rng.normal(10.0, 1.0, 60))
    shifted = base + list(rng.normal(13.0, 1.0, 40))   # +3 sigma shift
    ts = pd.date_range("2024-01-01", periods=100, freq="h")

    def run(vals, chunks):
        pdf = pd.DataFrame({"sid": "s", "ts": ts[: len(vals)], "value": vals})
        state = None
        rows = []
        for part in np.array_split(pdf, chunks):
            out, state = _advance_cusum(state, iter([part]), 5.0, 30)
            rows.extend(out)
        return (
            pd.concat(rows, ignore_index=True)
            if rows
            else pd.DataFrame(columns=["sid", "ts", "value", "s_pos", "s_neg"])
        )

    one = run(shifted, 1)
    three = run(shifted, 3)
    pd.testing.assert_frame_equal(one, three)
    assert len(one) > 0 and (one["s_pos"] > 5.0).any()
    assert len(run(base, 2)) == 0  # stationary -> no alarm

    # end-to-end: streaming engine output equals the unit step
    Path(stream_dir, "cu").mkdir()
    pdf = pd.DataFrame({"sid": "s", "ts": ts, "value": shifted})
    half = 50
    pdf.iloc[:half].to_parquet(f"{stream_dir}/cu/c0.parquet", coerce_timestamps="us")
    time.sleep(0.05)
    pdf.iloc[half:].to_parquet(f"{stream_dir}/cu/c1.parquet", coerce_timestamps="us")
    stream = (
        spark.readStream.schema("sid string, ts timestamp, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{stream_dir}/cu")
    )
    q = (
        stream_cusum(stream, h=5.0, min_n=30)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("cusum_out")
        .option("checkpointLocation", f"{stream_dir}/cu_ckpt")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = (
        spark.sql("SELECT * FROM cusum_out")
        .toPandas()
        .sort_values("ts")
        .reset_index(drop=True)
    )
    want = one.sort_values("ts").reset_index(drop=True)
    assert len(got) == len(want)
    assert (got["s_pos"].to_numpy() == want["s_pos"].to_numpy()).all()


def test_stream_cusum_survives_null_and_nan_values(spark, stream_dir):
    """Dirty-data parity with the batch operator: NULL/NaN points are
    dropped before the fold, so one bad sensor reading must not poison
    the cumulative state and silently disable every later alarm."""
    import numpy as np
    import pandas as pd

    from metevents_spark.streaming import stream_cusum

    rng = np.random.RandomState(11)
    clean = list(rng.normal(10.0, 1.0, 60)) + list(rng.normal(13.0, 1.0, 40))
    ts = pd.date_range("2024-01-01", periods=105, freq="h")
    # inject NaNs early (inside the history-building prefix) and right
    # before the shift
    dirty_vals, clean_ts = [], []
    j = 0
    for i in range(105):
        if i in (5, 20, 58, 61, 75):
            dirty_vals.append(float("nan"))
        else:
            dirty_vals.append(clean[j])
            clean_ts.append(ts[i])
            j += 1
    dirty = pd.DataFrame({"sid": "s", "ts": ts, "value": dirty_vals})

    Path(stream_dir, "nan").mkdir()
    half = 55
    dirty.iloc[:half].to_parquet(
        f"{stream_dir}/nan/c0.parquet", coerce_timestamps="us"
    )
    time.sleep(0.05)
    dirty.iloc[half:].to_parquet(
        f"{stream_dir}/nan/c1.parquet", coerce_timestamps="us"
    )
    stream = (
        spark.readStream.schema("sid string, ts timestamp, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{stream_dir}/nan")
    )
    q = (
        stream_cusum(stream, h=5.0, min_n=30)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("cusum_nan_out")
        .option("checkpointLocation", f"{stream_dir}/nan_ckpt")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = (
        spark.sql("SELECT * FROM cusum_nan_out")
        .toPandas()
        .sort_values("ts")
        .reset_index(drop=True)
    )
    # oracle: the unit-step fold over the CLEAN subset
    clean_pdf = pd.DataFrame(
        {"sid": "s", "ts": clean_ts, "value": clean}
    )
    rows, state = _advance_cusum(None, iter([clean_pdf]), 5.0, 30)
    want = (
        pd.concat(rows, ignore_index=True).sort_values("ts").reset_index(drop=True)
    )
    assert len(got) > 0, "NaNs silenced every alarm"
    assert len(got) == len(want)
    assert (got["s_pos"].to_numpy() == want["s_pos"].to_numpy()).all()


def test_stream_zscore_survives_null_and_nan_values(spark, stream_dir):
    """Same dirty-data contract as stream_cusum: NULL/NaN readings are
    dropped before the fold instead of poisoning the (n, sum, sumsq)
    state and silencing every later anomaly."""
    import numpy as np
    import pandas as pd

    from metevents_spark.streaming.detect import stream_zscore

    rng = np.random.RandomState(23)
    clean = list(rng.normal(5.0, 1.0, 80)) + [25.0]  # blatant outlier last
    ts = pd.date_range("2024-03-01", periods=85, freq="h")
    dirty_vals, clean_ts = [], []
    j = 0
    for i in range(85):
        if i in (3, 40, 41, 70):
            dirty_vals.append(float("nan"))
        else:
            dirty_vals.append(clean[j])
            clean_ts.append(ts[i])
            j += 1
    dirty = pd.DataFrame({"sid": "s", "ts": ts, "value": dirty_vals})

    Path(stream_dir, "znan").mkdir()
    dirty.iloc[:50].to_parquet(
        f"{stream_dir}/znan/c0.parquet", coerce_timestamps="us"
    )
    time.sleep(0.05)
    dirty.iloc[50:].to_parquet(
        f"{stream_dir}/znan/c1.parquet", coerce_timestamps="us"
    )
    stream = (
        spark.readStream.schema("sid string, ts timestamp, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{stream_dir}/znan")
    )
    q = (
        stream_zscore(stream, z_thresh=3.0, min_n=30)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("zscore_nan_out")
        .option("checkpointLocation", f"{stream_dir}/znan_ckpt")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = (
        spark.sql("SELECT * FROM zscore_nan_out")
        .toPandas()
        .sort_values("ts")
        .reset_index(drop=True)
    )
    clean_pdf = pd.DataFrame({"sid": "s", "ts": clean_ts, "value": clean})
    rows, _ = _advance_zscore(None, iter([clean_pdf]), 3.0, 30)
    want = (
        pd.concat(rows, ignore_index=True).sort_values("ts").reset_index(drop=True)
    )
    assert len(got) > 0, "NaNs silenced every anomaly"
    assert len(got) == len(want)
    assert (got["z"].to_numpy() == want["z"].to_numpy()).all()


@pytest.mark.parametrize("split", [7, 33, 60])
def test_stream_holt_chunk_invariant_matches_batch(spark, stream_dir, split):
    """Streaming Holt must emit the batch holt_smooth rows exactly,
    however the stream is chunked into micro-batches. Series 2 starts
    at 49.6036855, a level Python's ``round`` takes to 49.603685 and
    SQL ``ROUND`` to 49.603686."""
    from metevents_spark.operators.seriesstats import holt_smooth
    from metevents_spark.streaming.detect import stream_holt

    rng = np.random.RandomState(7)
    values = list(rng.randn(60) * 3 + 50)
    pdf = pd.concat(
        [daily_rows(values, sid="1"), daily_rows([49.6036855] + values[1:], sid="2")],
        ignore_index=True,
    )
    day = pdf.groupby("sid").cumcount()
    Path(stream_dir, "holt_in").mkdir()
    pdf[day < split].to_parquet(
        f"{stream_dir}/holt_in/c0.parquet", coerce_timestamps="us"
    )
    time.sleep(0.05)
    if split < len(values):
        pdf[day >= split].to_parquet(
            f"{stream_dir}/holt_in/c1.parquet", coerce_timestamps="us"
        )

    stream = (
        spark.readStream.schema("sid string, ts timestamp, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{stream_dir}/holt_in")
    )
    name = f"holt_out_{split}"
    q = (
        stream_holt(stream, alpha=0.3, beta=0.1)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", f"{stream_dir}/ckpt_h{split}")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = (
        spark.sql(f"SELECT * FROM {name}")
        .toPandas()
        .sort_values(["sid", "ts"])
        .reset_index(drop=True)
    )

    events = pd.DataFrame({
        "event_id": np.arange(len(pdf), dtype=np.int64),
        "ts": pdf["ts"],
        "user_id": pdf["sid"].astype(np.int64),
        "value": pdf["value"],
    })
    Path(stream_dir, "batch").mkdir()
    events.to_parquet(f"{stream_dir}/batch/events.parquet", coerce_timestamps="us")
    want = (
        holt_smooth(spark, f"{stream_dir}/batch", alpha=0.3, beta=0.1)
        .toPandas()
        .sort_values(["sid", "ts"])
        .reset_index(drop=True)
    )
    assert len(got) == len(want) == len(pdf)
    assert got["level"][len(values)] == want["level"][len(values)] == 49.603686
    for col in ["sid", "value", "level", "trend"]:
        np.testing.assert_array_equal(got[col].to_numpy(), want[col].to_numpy())


def test_stream_ohlc_matches_batch_bars(spark, stream_dir):
    """Once the watermark closes a window, the streaming OHLC bar must
    equal the batch downsample_ohlc bar over the same rows."""
    from metevents_spark.streaming.detect import stream_ohlc

    rng = np.random.RandomState(11)
    # 3 days x 6 intra-day points for two series
    rows = []
    for sid in ["a", "b"]:
        for d in range(3):
            for h in range(6):
                rows.append(
                    (
                        sid,
                        datetime(2023, 1, 1 + d, h * 3),
                        float(rng.randn() * 5 + 100),
                    )
                )
    pdf = pd.DataFrame(rows, columns=["sid", "ts", "value"])
    Path(stream_dir, "ohlc_in").mkdir()
    half = len(pdf) // 2
    pdf.iloc[:half].to_parquet(
        f"{stream_dir}/ohlc_in/c0.parquet", coerce_timestamps="us"
    )
    time.sleep(0.05)
    pdf.iloc[half:].to_parquet(
        f"{stream_dir}/ohlc_in/c1.parquet", coerce_timestamps="us"
    )

    stream = (
        spark.readStream.schema("sid string, ts timestamp, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{stream_dir}/ohlc_in")
    )
    q = (
        stream_ohlc(stream, watermark="0 seconds")
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("ohlc_out")
        .option("checkpointLocation", f"{stream_dir}/ckpt_ohlc")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = (
        spark.sql("SELECT * FROM ohlc_out")
        .toPandas()
        .sort_values(["sid", "day"])
        .reset_index(drop=True)
    )

    # batch reference over the identical rows
    want_rows = []
    for (sid, day), g in pdf.assign(
        day=pdf["ts"].dt.floor("D")
    ).groupby(["sid", "day"], sort=True):
        g = g.sort_values("ts")
        want_rows.append(
            (sid, day, g["value"].iloc[0], g["value"].max(),
             g["value"].min(), g["value"].iloc[-1], len(g))
        )
    want = pd.DataFrame(
        want_rows, columns=["sid", "day", "open", "high", "low", "close", "n_obs"]
    )
    assert len(got) == len(want) == 6
    for col in ["open", "high", "low", "close"]:
        np.testing.assert_allclose(
            got[col].to_numpy(), want[col].to_numpy(), rtol=0, atol=0
        )
    assert (got["n_obs"].to_numpy() == want["n_obs"].to_numpy()).all()


@pytest.mark.parametrize("split", [400, 1000])
def test_stream_counter_rate_chunk_invariant_matches_batch(
    spark, stream_dir, split
):
    """The streaming counter fold over the REAL events table must end
    at exactly the batch counter_rate row for every series, however
    the replay is chunked — and per-row emissions must be identical
    between chunkings (the carried state is the whole history)."""
    from metevents_spark.streaming import stream_counter_rate

    ev = pd.read_parquet("/root/testdata/sf0.001/events.parquet")
    pdf = (
        pd.DataFrame(
            {
                "sid": ev["user_id"].astype(str),
                "seq": ev["event_id"].astype("int64"),
                "ts": ev["ts"],
                "value": ev["value"],
            }
        )
        .sort_values(["ts", "seq"], kind="stable")
        .reset_index(drop=True)
    )
    d = Path(stream_dir, f"ctr_in_{split}")
    d.mkdir()
    pdf.iloc[:split].to_parquet(f"{d}/c0.parquet", coerce_timestamps="us")
    if split < len(pdf):
        time.sleep(0.05)
        pdf.iloc[split:].to_parquet(
            f"{d}/c1.parquet", coerce_timestamps="us"
        )

    stream = (
        spark.readStream.schema(
            "sid string, seq long, ts timestamp, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    name = f"ctr_out_{split}"
    q = (
        stream_counter_rate(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", f"{stream_dir}/ckpt_ctr{split}")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = spark.sql(f"SELECT * FROM {name}").toPandas()

    # one emission per clean reading
    n_clean = int(pdf["value"].notna().sum())
    assert len(got) == n_clean

    # final state per series == the batch aggregate (for series that
    # meet the batch n>=2 / span>0 filter)
    from metevents_spark.operators.seriesstats import counter_rate

    batch = (
        counter_rate(spark, "/root/testdata/sf0.001")
        .toPandas()
        .set_index("sid")
    )
    last = (
        got.sort_values(["sid", "n_points"]).groupby("sid").tail(1)
    ).set_index("sid")
    assert set(batch.index) <= set(last.index)
    sub = last.loc[batch.index]
    assert (sub["n_points"] == batch["n_points"]).all()
    assert (sub["resets"] == batch["resets"]).all()
    assert np.allclose(sub["increase"], batch["increase"], atol=1e-9)
    assert np.allclose(
        sub["rate_per_hour"], batch["rate_per_hour"], atol=1e-9
    )
    # series excluded by the batch filter must have NULL rate on their
    # last emission (n < 2 or zero span)
    excl = last.index.difference(batch.index)
    assert last.loc[excl, "rate_per_hour"].isna().all()

    # per-ROW emissions equal a sequential pandas replay of the fold —
    # chunking cannot change any intermediate, not just the final row
    clean = pdf[pdf["value"].notna()]
    exp_rows = []
    for sid, grp in clean.groupby("sid"):
        grp = grp.sort_values(["ts", "seq"], kind="stable")
        lv, n, r, inc, f_us = None, 0, 0, 0.0, None
        for ts, x in zip(grp["ts"], grp["value"]):
            x = float(x)
            if lv is not None:
                if x < lv:
                    r += 1
                    inc += x
                else:
                    inc += x - lv
            lv = x
            n += 1
            us = ts.value // 1000
            if f_us is None:
                f_us = us
            span_h = (us - f_us) / 3.6e9
            exp_rows.append(
                (sid, ts, n, r, round(inc, 6),
                 round(round(inc, 6) / span_h, 6)
                 if n >= 2 and span_h > 0 else np.nan)
            )
    exp = pd.DataFrame(
        exp_rows,
        columns=["sid", "ts", "n_points", "resets", "increase",
                 "rate_per_hour"],
    ).sort_values(["sid", "n_points"]).reset_index(drop=True)
    g = got.sort_values(["sid", "n_points"]).reset_index(drop=True)
    assert (g["sid"] == exp["sid"]).all()
    assert (g["n_points"] == exp["n_points"]).all()
    assert (g["resets"] == exp["resets"]).all()
    assert np.allclose(g["increase"], exp["increase"], atol=1e-9)
    assert np.allclose(
        g["rate_per_hour"], exp["rate_per_hour"], atol=1e-9, equal_nan=True
    )


@pytest.mark.parametrize("split", [300, 700])
def test_stream_time_weighted_closed_days_match_batch(
    spark, stream_dir, split
):
    """Every emitted (series, day) row must equal the batch
    time_weighted_avg row exactly; the set of emitted days must be all
    batch days EXCEPT each series' last (still-open) one — however the
    replay is chunked."""
    from metevents_spark.streaming import stream_time_weighted

    ev = pd.read_parquet("/root/testdata/sf0.001/events.parquet")
    pdf = (
        pd.DataFrame(
            {
                "sid": ev["user_id"].astype(str),
                "seq": ev["event_id"].astype("int64"),
                "ts": ev["ts"],
                "value": ev["value"],
            }
        )
        .sort_values(["ts", "seq"], kind="stable")
        .reset_index(drop=True)
    )
    d = Path(stream_dir, f"twa_in_{split}")
    d.mkdir()
    pdf.iloc[:split].to_parquet(f"{d}/c0.parquet", coerce_timestamps="us")
    time.sleep(0.05)
    pdf.iloc[split:].to_parquet(f"{d}/c1.parquet", coerce_timestamps="us")

    stream = (
        spark.readStream.schema(
            "sid string, seq long, ts timestamp, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    name = f"twa_out_{split}"
    q = (
        stream_time_weighted(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", f"{stream_dir}/ckpt_twa{split}")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = (
        spark.sql(f"SELECT * FROM {name}")
        .toPandas()
        .sort_values(["sid", "bucket_day"])
        .reset_index(drop=True)
    )

    from metevents_spark.operators.seriesstats import time_weighted_avg

    batch = time_weighted_avg(spark, "/root/testdata/sf0.001").toPandas()
    # expected emissions: batch rows minus each series' LAST day
    last_day = batch.groupby("sid")["bucket_day"].transform("max")
    want = (
        batch[batch["bucket_day"] != last_day]
        .sort_values(["sid", "bucket_day"])
        .reset_index(drop=True)
    )
    assert len(got) == len(want)
    assert (got["sid"] == want["sid"]).all()
    assert (
        got["bucket_day"].to_numpy() == want["bucket_day"].to_numpy()
    ).all()
    assert (got["n_segments"] == want["n_segments"]).all()
    assert np.allclose(got["twa"], want["twa"], atol=2e-6)
    assert np.allclose(got["simple_avg"], want["simple_avg"], atol=2e-6)
    # the withheld open days really are each series' maximum
    assert (batch.groupby("sid").size() - got.groupby("sid").size().reindex(
        batch["sid"].unique(), fill_value=0
    ) == 1).all()


def test_stream_time_weighted_drops_out_of_order_points(spark, stream_dir):
    """A point arriving in a LATER micro-batch with an EARLIER event
    time than the last processed point must be dropped (counted, never
    folded): before the r9 guard its negative-duration segment folded
    negative trapezoid mass into the open day. Emitted days must equal
    the in-order-only fold exactly."""
    from metevents_spark.streaming import stream_time_weighted

    day = datetime(2023, 1, 1)
    chunk0 = pd.DataFrame(
        {
            "sid": ["a"] * 3,
            "seq": [1, 2, 3],
            "ts": [day, day + timedelta(hours=12), day + timedelta(days=1)],
            "value": [1.0, 3.0, 5.0],
        }
    )
    chunk1 = pd.DataFrame(
        {
            "sid": ["a"] * 2,
            # the first point is 18h BEFORE the last processed point
            "ts": [day + timedelta(hours=6), day + timedelta(days=2)],
            "seq": [4, 5],
            "value": [100.0, 7.0],
        }
    )[["sid", "seq", "ts", "value"]]
    d = Path(stream_dir, "twa_ooo")
    d.mkdir()
    chunk0.to_parquet(f"{d}/c0.parquet", coerce_timestamps="us")
    time.sleep(0.05)
    chunk1.to_parquet(f"{d}/c1.parquet", coerce_timestamps="us")

    stream = (
        spark.readStream.schema(
            "sid string, seq long, ts timestamp, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    q = (
        stream_time_weighted(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("twa_ooo_out")
        .option("checkpointLocation", f"{stream_dir}/ckpt_twa_ooo")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = (
        spark.sql("SELECT * FROM twa_ooo_out")
        .toPandas()
        .sort_values("bucket_day")
        .reset_index(drop=True)
    )
    # day1 closes in chunk0; day2 closes in chunk1 (the late point is
    # dropped, so day2's single segment is 12:00 -> day2 00:00)
    assert list(got["bucket_day"]) == [day, day + timedelta(days=1)]
    assert list(got["n_segments"]) == [1, 1]
    assert np.allclose(got["twa"], [2.0, 4.0])
    assert np.allclose(got["simple_avg"], [3.0, 5.0])


@pytest.mark.parametrize("split", [250, 600])
def test_stream_burst_collapse_closed_bursts_match_batch(
    spark, stream_dir, split
):
    """Every emitted burst must equal the batch burst_collapse row
    exactly; the emitted set must be all batch bursts EXCEPT each
    (user, type)'s LAST (still-open) one — however the replay is
    chunked."""
    from metevents_spark.streaming import stream_burst_collapse

    ev = pd.read_parquet("/root/testdata/sf0.001/events.parquet")
    pdf = (
        pd.DataFrame(
            {
                "sid": ev["user_id"].astype(str),
                "seq": ev["event_id"].astype("int64"),
                "event_type": ev["event_type"],
                "ts": ev["ts"],
            }
        )
        .sort_values(["ts", "seq"], kind="stable")
        .reset_index(drop=True)
    )
    d = Path(stream_dir, f"bc_in_{split}")
    d.mkdir()
    pdf.iloc[:split].to_parquet(f"{d}/c0.parquet", coerce_timestamps="us")
    time.sleep(0.05)
    pdf.iloc[split:].to_parquet(f"{d}/c1.parquet", coerce_timestamps="us")

    stream = (
        spark.readStream.schema(
            "sid string, seq long, event_type string, ts timestamp"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    name = f"bc_out_{split}"
    q = (
        stream_burst_collapse(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", f"{stream_dir}/ckpt_bc{split}")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {
        (r.sid, r.event_type,
         np.datetime64(r.first_ts, "us").astype("int64").item(),
         r.first_seq, r.n_collapsed, r.span_us)
        for r in spark.sql(f"SELECT * FROM {name}").collect()
    }

    from metevents_spark.operators.sessions import burst_collapse

    batch = burst_collapse(spark, "/root/testdata/sf0.001").toPandas()
    batch["first_us"] = (
        batch["first_ts"].astype("datetime64[us]").astype("int64")
    )
    last_start = batch.groupby(["sid", "event_type"])["first_us"].transform(
        "max"
    )
    want = {
        (r.sid, r.event_type, int(r.first_us), int(r.first_seq),
         int(r.n_collapsed), int(r.span_us))
        for r in batch[batch["first_us"] != last_start].itertuples()
    }
    assert got == want


@pytest.mark.parametrize("split", [300, 777])
def test_stream_purchase_attribution_matches_batch(spark, stream_dir, split):
    """Replaying the static corpus through the stateful kernel must
    reproduce the batch purchase_attribution EXACTLY (attribution
    depends only on past events, so no tail is withheld) — however the
    replay is chunked."""
    from metevents_spark.relational.product import purchase_attribution
    from metevents_spark.streaming import stream_purchase_attribution

    ev = pd.read_parquet("/root/testdata/sf0.001/events.parquet")
    pdf = (
        pd.DataFrame(
            {
                "sid": ev["user_id"].astype(str),
                "seq": ev["event_id"].astype("int64"),
                "event_type": ev["event_type"],
                "ts": ev["ts"],
            }
        )
        .sort_values(["ts", "seq"], kind="stable")
        .reset_index(drop=True)
    )
    d = Path(stream_dir, f"attr_in_{split}")
    d.mkdir()
    pdf.iloc[:split].to_parquet(f"{d}/c0.parquet", coerce_timestamps="us")
    time.sleep(0.05)
    pdf.iloc[split:].to_parquet(f"{d}/c1.parquet", coerce_timestamps="us")

    stream = (
        spark.readStream.schema(
            "sid string, seq long, event_type string, ts timestamp"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    name = f"attr_out_{split}"
    q = (
        stream_purchase_attribution(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", f"{stream_dir}/attr_ckpt_{split}")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = (
        spark.sql(f"SELECT * FROM {name}")
        .toPandas()
        .sort_values("purchase_id")
        .reset_index(drop=True)
    )

    want = (
        purchase_attribution(spark, "/root/testdata/sf0.001")
        .toPandas()
        .sort_values("purchase_id")
        .reset_index(drop=True)
    )
    assert list(got["purchase_id"]) == list(want["purchase_id"])
    assert list(got["sid"]) == [str(u) for u in want["user_id"]]
    for col in ("touch_id", "gap_us"):
        g, w = got[col], want[col]
        assert list(g.isna()) == list(w.isna()), col
        assert list(g.dropna().astype("int64")) == list(
            w.dropna().astype("int64")
        ), col
    assert list(got["touch_type"].fillna("~")) == list(
        want["touch_type"].fillna("~")
    )


@pytest.mark.parametrize("split", [300])
def test_stream_conversion_lag_matches_batch(spark, stream_dir, split):
    """Replaying the static corpus through the stateful kernel must
    reproduce the batch conversion_lag EXACTLY (the first qualifying
    purchase emits the moment it arrives; nothing is withheld) —
    however the replay is chunked."""
    from metevents_spark.relational.product import conversion_lag
    from metevents_spark.streaming import stream_conversion_lag

    ev = pd.read_parquet("/root/testdata/sf0.001/events.parquet")
    pdf = (
        pd.DataFrame(
            {
                "sid": ev["user_id"].astype(str),
                "seq": ev["event_id"].astype("int64"),
                "event_type": ev["event_type"],
                "ts": ev["ts"],
            }
        )
        .sort_values(["ts", "seq"], kind="stable")
        .reset_index(drop=True)
    )
    d = Path(stream_dir, f"conv_in_{split}")
    d.mkdir()
    pdf.iloc[:split].to_parquet(f"{d}/c0.parquet", coerce_timestamps="us")
    time.sleep(0.05)
    pdf.iloc[split:].to_parquet(f"{d}/c1.parquet", coerce_timestamps="us")

    stream = (
        spark.readStream.schema(
            "sid string, seq long, event_type string, ts timestamp"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    name = f"conv_out_{split}"
    q = (
        stream_conversion_lag(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", f"{stream_dir}/conv_ckpt_{split}")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = (
        spark.sql(f"SELECT * FROM {name}")
        .toPandas()
        .sort_values("sid", key=lambda s: s.astype(int))
        .reset_index(drop=True)
    )

    want = (
        conversion_lag(spark, "/root/testdata/sf0.001")
        .toPandas()
        .sort_values("user_id")
        .reset_index(drop=True)
    )
    assert list(got["sid"]) == [str(u) for u in want["user_id"]]
    assert list(got["lag_us"]) == list(want["lag_us"])
    assert list(got["signup_ts"]) == list(want["signup_ts"])
    assert list(got["purchase_ts"]) == list(want["purchase_ts"])
    # emit-once: no user appears twice however the replay chunks
    assert got["sid"].is_unique


@pytest.mark.parametrize("split", [400, 850])
def test_stream_p2_quantile_chunking_invariant(spark, stream_dir, split):
    """The P² per-point update depends only on the points already
    processed, so however the replay chunks, the emitted per-point
    estimates are identical."""
    from metevents_spark.streaming import stream_p2_quantile

    ev = pd.read_parquet("/root/testdata/sf0.001/events.parquet")
    ev = ev[ev["value"].notna()]
    pdf = (
        pd.DataFrame(
            {
                "sid": ev["user_id"].astype(str),
                "seq": ev["event_id"].astype("int64"),
                "ts": ev["ts"],
                "value": ev["value"].astype(float),
            }
        )
        .sort_values(["ts", "seq"], kind="stable")
        .reset_index(drop=True)
    )

    outs = {}
    for tag, cuts in (("one", [len(pdf)]), ("two", [split, len(pdf)])):
        d = Path(stream_dir, f"p2_in_{split}_{tag}")
        d.mkdir()
        lo = 0
        for ci, hi in enumerate(cuts):
            pdf.iloc[lo:hi].to_parquet(
                f"{d}/c{ci}.parquet", coerce_timestamps="us"
            )
            lo = hi
            time.sleep(0.02)
        stream = (
            spark.readStream.schema(
                "sid string, seq long, ts timestamp, value double"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(str(d))
        )
        name = f"p2_out_{split}_{tag}"
        q = (
            stream_p2_quantile(stream)
            .writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", f"{stream_dir}/p2_ckpt_{split}_{tag}")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        outs[tag] = (
            spark.sql(f"SELECT * FROM {name}")
            .toPandas()
            .sort_values(["sid", "seq"])
            .reset_index(drop=True)
        )
    a, b = outs["one"], outs["two"]
    assert len(a) == len(b) == len(pdf)
    assert list(a["seq"]) == list(b["seq"])
    assert np.allclose(a["q_est"], b["q_est"], rtol=0, atol=0)
    assert list(a["n"]) == list(b["n"])


def test_stream_p2_quantile_accuracy(spark, stream_dir):
    """On a deterministic LCG-shuffled 1..2000 sequence, the final P²
    median estimate must land within 5% of the true median — and the
    first five emitted estimates are the EXACT prefix quantiles."""
    from metevents_spark.streaming import stream_p2_quantile

    n = 2000
    # LCG permutation of 1..n (deterministic, no RNG state)
    vals = [(i * 48271 % 65537) % n + 1 for i in range(n)]
    pdf = pd.DataFrame(
        {
            "sid": "s",
            "seq": np.arange(n, dtype="int64"),
            "ts": pd.to_datetime(
                np.arange(n, dtype="int64") * 1_000_000, unit="us"
            ),
            "value": np.asarray(vals, dtype="float64"),
        }
    )
    d = Path(stream_dir, "p2_acc")
    d.mkdir()
    pdf.to_parquet(f"{d}/c0.parquet", coerce_timestamps="us")
    stream = (
        spark.readStream.schema(
            "sid string, seq long, ts timestamp, value double"
        )
        .parquet(str(d))
    )
    q = (
        stream_p2_quantile(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("p2_acc_out")
        .option("checkpointLocation", f"{stream_dir}/p2_acc_ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = (
        spark.sql("SELECT * FROM p2_acc_out")
        .toPandas()
        .sort_values("seq")
        .reset_index(drop=True)
    )
    assert len(got) == n
    true_median = float(np.median(vals))
    final = got["q_est"].iloc[-1]
    assert abs(final - true_median) <= 0.05 * n
    # init phase: exact interpolated prefix quantiles
    for i in range(1, 5):
        want = float(np.percentile(vals[:i], 50, method="linear"))
        assert abs(got["q_est"].iloc[i - 1] - want) < 1e-9


def test_equal_ts_lower_seq_in_later_chunk_is_late(spark, stream_dir):
    """r11 ordering-contract pin (the r10 advice scenario): an
    equal-timestamp LOWER-seq event arriving in a later micro-batch
    must drop as late, not fold after higher-seq events. Scenario:
    signup(t1,1), click(t2,2), purchase(t2,3), purchase(t3,4) with the
    click withheld to chunk 2. Under the ts-only guard the click was
    ACCEPTED after purchase 3 (same ts) and stole purchase 4's
    attribution; under the (ts, seq) guard purchase 4 stays attributed
    to the signup — the only state the in-order prefix justifies."""
    from metevents_spark.streaming import stream_purchase_attribution

    t1 = datetime(2023, 1, 1, 10, 0, 0)
    t2 = datetime(2023, 1, 1, 11, 0, 0)
    t3 = datetime(2023, 1, 1, 12, 0, 0)
    chunk1 = pd.DataFrame(
        {
            "sid": ["u1", "u1"],
            "seq": np.array([1, 3], dtype="int64"),
            "event_type": ["signup", "purchase"],
            "ts": [t1, t2],
        }
    )
    chunk2 = pd.DataFrame(
        {
            "sid": ["u1", "u1"],
            "seq": np.array([2, 4], dtype="int64"),
            "event_type": ["click", "purchase"],
            "ts": [t2, t3],
        }
    )
    d = Path(stream_dir, "eqts_in")
    d.mkdir()
    chunk1.to_parquet(f"{d}/c0.parquet", coerce_timestamps="us")
    time.sleep(0.05)
    chunk2.to_parquet(f"{d}/c1.parquet", coerce_timestamps="us")

    stream = (
        spark.readStream.schema(
            "sid string, seq long, event_type string, ts timestamp"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    q = (
        stream_purchase_attribution(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("eqts_out")
        .option("checkpointLocation", f"{stream_dir}/eqts_ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = (
        spark.sql("SELECT * FROM eqts_out")
        .toPandas()
        .sort_values("purchase_id")
        .reset_index(drop=True)
    )
    # both purchases attribute to the SIGNUP (seq 1): purchase 3 saw
    # it as the last in-order touch, and the late click must not have
    # replaced it for purchase 4
    assert list(got["purchase_id"]) == [3, 4]
    assert list(got["touch_id"].astype("int64")) == [1, 1]
    assert list(got["touch_type"]) == ["signup", "signup"]
