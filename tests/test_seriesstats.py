"""Differential tests for the non-SQL-expressible series smoothers:
the EWMA kernel must match pandas' ewm(adjust=False) exactly, and the
resample/interpolation must satisfy its structural invariants.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

from tests.conftest import SF_SMALL


def test_ewma_matches_pandas(spark):
    from metevents_spark.io import series_frame
    from metevents_spark.operators.seriesstats import ewma_smooth

    alpha = 0.2
    got = (
        ewma_smooth(spark, SF_SMALL, alpha=alpha)
        .toPandas()
        .sort_values(["sid", "ts"])
        .reset_index(drop=True)
    )
    raw = (
        series_frame(spark, SF_SMALL)
        .toPandas()
        .sort_values(["sid", "ts", "seq"])
        .reset_index(drop=True)
    )
    want = (
        raw.groupby("sid", sort=True)["value"]
        .transform(lambda s: s.ewm(alpha=alpha, adjust=False).mean())
        .round(6)
    )
    assert len(got) == len(raw)
    np.testing.assert_allclose(
        got["ewma"].to_numpy(), want.to_numpy(), rtol=0, atol=1e-9
    )


def test_ewma_nan_carries_state(spark, tmp_path):
    """A NaN observation emits the carried mean and does not advance
    the recursion (ignore_na=True semantics); before the first
    observation there is no mean to carry."""
    from metevents_spark.operators.seriesstats import ewma_smooth

    pd.DataFrame(
        {
            "user_id": [1, 1, 1, 1, 2, 2],
            "event_id": range(6),
            "ts": pd.to_datetime(
                ["2024-01-01", "2024-01-02", "2024-01-03", "2024-01-04",
                 "2024-01-01", "2024-01-02"]
            ).astype("datetime64[us]"),
            "value": [10.0, None, 20.0, None, None, 4.0],
        }
    ).to_parquet(tmp_path / "events.parquet")
    out = ewma_smooth(spark, str(tmp_path), alpha=0.5)
    assert out.schema["ts"].dataType.typeName() == "timestamp_ntz"
    got = out.toPandas()
    assert got["sid"].tolist() == ["1"] * 4 + ["2"] * 2
    assert got["value"].isna().tolist() == [False, True, False, True, True, False]
    assert got["ewma"].fillna(-1.0).tolist() == [10.0, 10.0, 15.0, 15.0, -1.0, 4.0]


def test_ewma_rounds_half_away_like_sql_round(spark, tmp_path):
    """The 6-place output rounds halves away from zero, as the DuckDB
    oracle's ``round(x, 6)``: 10.0000025 is 10000002.5 micro-units, which
    half-even ``np.round`` takes to 10.000002."""
    from metevents_spark.operators.seriesstats import ewma_smooth

    pd.DataFrame(
        {
            "user_id": [1, 1],
            "event_id": [0, 1],
            "ts": pd.to_datetime(["2024-01-01", "2024-01-02"]).astype(
                "datetime64[us]"
            ),
            "value": [10.0000025, 10.0000025],
        }
    ).to_parquet(tmp_path / "events.parquet")
    got = ewma_smooth(spark, str(tmp_path), alpha=0.5).toPandas()
    assert np.round(10.0000025, 6) == 10.000002
    assert got["ewma"].tolist() == [10.000003, 10.000003]


def test_gap_fill_invariants(spark):
    from metevents_spark.operators.resample import gap_fill_hourly

    pdf = gap_fill_hourly(spark, SF_SMALL).toPandas()
    # grid is dense: per sid, hours are consecutive
    for _, g in pdf.groupby("sid"):
        hrs = g["hr"].sort_values()
        deltas = hrs.diff().dropna().unique()
        assert all(d == pd.Timedelta(hours=1) for d in deltas)
    # observed slots pass through untouched; ffill/interp equal them
    obs = pdf[pdf["v_hour"].notna()]
    assert (obs["v_ffill"] == obs["v_hour"]).all()
    assert (obs["v_interp"] == obs["v_hour"]).all()
    # gap slots are filled (first/last slot of each sid is observed,
    # so neither fill can be NULL anywhere)
    assert pdf["v_ffill"].notna().all()
    assert pdf["v_interp"].notna().all()
    # interpolation stays within the bracketing observations
    gaps = pdf[pdf["v_hour"].isna()]
    assert len(gaps) > 0, "fixture has no hourly gaps; invariant vacuous"


def test_downsample_ohlc_matches_pandas_resample(spark):
    """downsample_ohlc must agree with the pandas idiom the reference's
    users actually run: resample('D').ohlc() over each series (after
    dropping NULL/NaN, which pandas' ohlc skips only partially — our
    operator documents the drop)."""
    from metevents_spark.io import series_frame
    from metevents_spark.operators.seriesstats import downsample_ohlc

    got = (
        downsample_ohlc(spark, SF_SMALL)
        .toPandas()
        .sort_values(["sid", "day"])
        .reset_index(drop=True)
    )
    raw = series_frame(spark, SF_SMALL).toPandas()
    raw = raw[raw["value"].notna()]
    raw = raw.sort_values(["sid", "ts", "seq"])
    want_rows = []
    for sid, g in raw.groupby("sid", sort=True):
        o = g.set_index("ts")["value"].resample("D").ohlc().dropna()
        n = g.set_index("ts")["value"].resample("D").count()
        for day, row in o.iterrows():
            want_rows.append(
                (sid, day, row["open"], row["high"], row["low"],
                 row["close"], int(n.loc[day]))
            )
    want = pd.DataFrame(
        want_rows,
        columns=["sid", "day", "open", "high", "low", "close", "n_obs"],
    ).sort_values(["sid", "day"]).reset_index(drop=True)
    assert len(got) == len(want)
    for col in ["open", "high", "low", "close"]:
        np.testing.assert_allclose(
            got[col].to_numpy(), want[col].to_numpy(), rtol=0, atol=0
        )
    assert (got["n_obs"].to_numpy() == want["n_obs"].to_numpy()).all()


def test_media_near_dup_max_block_guard(spark):
    """A degenerate cell larger than max_block must truncate
    deterministically instead of going quadratic — the grid-LSH
    analogue of the text families' hot-bucket cap."""
    from metevents_spark.multimodal.media import media_embedding_near_dup

    full = media_embedding_near_dup(spark, SF_SMALL).count()
    capped = media_embedding_near_dup(spark, SF_SMALL, max_block=4)
    n_capped = capped.count()
    # with every cell truncated to 4 members the candidate space is
    # tiny; the op completes and reports no more pairs than the
    # unguarded run
    assert n_capped <= full


def test_holt_beta_zero_equals_ewma(spark):
    """With b0 = 0 and beta = 0 the Holt level recursion IS the EWMA
    recursion — the level column must match the EWMA operator (itself
    pinned to pandas ewm) row for row."""
    from metevents_spark.operators.seriesstats import ewma_smooth, holt_smooth

    alpha = 0.2
    holt = (
        holt_smooth(spark, SF_SMALL, alpha=alpha, beta=0.0)
        .toPandas().sort_values(["sid", "ts"]).reset_index(drop=True)
    )
    ewma = (
        ewma_smooth(spark, SF_SMALL, alpha=alpha)
        .toPandas().sort_values(["sid", "ts"]).reset_index(drop=True)
    )
    assert len(holt) == len(ewma)
    np.testing.assert_allclose(
        holt["level"].to_numpy(dtype=float),
        ewma["ewma"].to_numpy(dtype=float),
        rtol=0, atol=2e-6, equal_nan=True,
    )
    assert (holt["trend"].fillna(0.0) == 0.0).all()


def _sql_round6(v):
    """SQL ROUND(v, 6) on a double: scale, round half away from zero,
    divide."""
    v *= 1e6
    return (math.floor(v + 0.5) if v >= 0 else math.ceil(v - 0.5)) / 1e6


def test_holt_matches_sequential_reference(spark):
    """The distributed fold (sid shuffle + sorted partitions + batch
    carry) must equal a plain sequential loop over each series, rounded
    like SQL ROUND(x, 6)."""
    from metevents_spark.io import series_frame
    from metevents_spark.operators.seriesstats import holt_smooth

    alpha, beta = 0.3, 0.1
    got = (
        holt_smooth(spark, SF_SMALL, alpha=alpha, beta=beta)
        .toPandas().sort_values(["sid", "ts"]).reset_index(drop=True)
    )
    raw = (
        series_frame(spark, SF_SMALL)
        .toPandas().sort_values(["sid", "ts", "seq"]).reset_index(drop=True)
    )
    want_level, want_trend = [], []
    for _, g in raw.groupby("sid", sort=True):
        l = b = None
        for x in g["value"]:
            if pd.isna(x):
                want_level.append(np.nan if l is None else _sql_round6(l))
                want_trend.append(np.nan if b is None else _sql_round6(b))
                continue
            if l is None:
                l, b = float(x), 0.0
            else:
                prev = l
                l = alpha * float(x) + (1 - alpha) * (l + b)
                b = beta * (l - prev) + (1 - beta) * b
            want_level.append(_sql_round6(l))
            want_trend.append(_sql_round6(b))
    assert len(got) == len(want_level)
    np.testing.assert_allclose(
        got["level"].to_numpy(dtype=float), np.array(want_level),
        rtol=0, atol=0, equal_nan=True,
    )
    np.testing.assert_allclose(
        got["trend"].to_numpy(dtype=float), np.array(want_trend),
        rtol=0, atol=0, equal_nan=True,
    )
