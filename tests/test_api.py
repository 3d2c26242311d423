"""Reference-shaped API parity: EventClass(pandas Series).find() ->
.events/.N must reproduce the reference's golden expectations, and the
station connector must mirror its validation errors."""

from __future__ import annotations

from datetime import datetime, timedelta

import numpy as np
import pandas as pd
import pytest

from metevents_spark.api import (
    DataGapEvent,
    ExtremeValueEvent,
    StormEvents,
    detect,
    register_detector,
)
from metevents_spark.sources.station import ParquetBackend, fetch_station_series


def daily_series(data, start=datetime(2023, 1, 1)):
    idx = pd.DatetimeIndex(
        [start + timedelta(days=i) for i in range(len(data))]
    )
    return pd.Series(data, index=idx)


def test_extreme_value_pandas_series(spark):
    data = np.arange(100, dtype=float)
    data[10:15] = 700.0
    ev = ExtremeValueEvent(daily_series(data), spark=spark)
    ev.find(expected_max=600.0, expected_min=0.0)
    assert ev.N == 1
    e = ev.events[0]
    assert e.start == pd.Timestamp("2023-01-11")
    assert e.stop == pd.Timestamp("2023-01-15")
    assert e.duration == pd.Timedelta("4 days")


def test_storm_events_totals(spark):
    storms = StormEvents(daily_series([0.0, 1, 1, 0, 0, 1, 1]), spark=spark)
    storms.find(instant_mass_to_start=0.1, hours_to_stop=24)
    assert [e.total for e in storms.events] == [2, 2]
    assert [e.duration for e in storms.events] == [timedelta(days=2)] * 2


def test_data_gap_freq_string(spark):
    data = [1.0, 2.0, None, None, None, 6.0]
    gaps = DataGapEvent(daily_series(data), spark=spark)
    gaps.find(min_len=2, expected_frequency="1D")
    assert gaps.N == 1


def test_from_station_parquet_backend(spark):
    storms = StormEvents.from_station(
        "3",
        datetime(2024, 1, 1),
        datetime(2024, 1, 31),
        source="CDEC",
        spark=spark,
        backend=ParquetBackend("/root/testdata/sf0.001"),
    )
    storms.find(instant_mass_to_start=100.0, min_storm_total=500.0,
                hours_to_stop=24)
    assert storms.N >= 1
    # the accumulated->incremental diff must reproduce original values:
    # backend serves a running sum, so diffs are the raw event values.
    first = storms.data.orderBy("ts").collect()
    assert first[0].value is None  # leading diff row, like pandas .diff()


def test_from_station_invalid_source(spark):
    with pytest.raises(ValueError, match="invalid. Use NRCS, CDEC, Mesowest"):
        fetch_station_series("x", datetime(2024, 1, 1), datetime(2024, 1, 2),
                             source="NOAA", spark=spark)


def test_from_station_empty_result(spark):
    with pytest.raises(ValueError, match="produced no data"):
        fetch_station_series(
            "no-such-station", datetime(2024, 1, 1), datetime(2024, 1, 2),
            source="CDEC", spark=spark,
            backend=ParquetBackend("/root/testdata/sf0.001"),
        )


def test_detector_registry(spark, monkeypatch):
    from metevents_spark import api
    from metevents_spark.io import series_frame

    df = series_frame(spark, "/root/testdata/sf0.001")
    out = detect("extreme_value", df, expected_max=400.0, expected_min=1.0)
    assert out.count() >= 1
    with pytest.raises(ValueError, match="unknown detector"):
        detect("nope", df)
    # the registry is process-wide: register into a copy that
    # monkeypatch puts back, so later tests see only the six detectors
    monkeypatch.setattr(api, "DETECTORS", dict(api.DETECTORS))
    register_detector("always_empty", lambda d, **kw: d.limit(0))
    assert detect("always_empty", df).count() == 0


def test_register_views_sql_surface(spark):
    from metevents_spark.io import register_views

    names = register_views(spark, "/root/testdata/sf0.001")
    assert "series" in names and "lineitem" in names
    # raw SQL over the views matches the DataFrame surface
    n = spark.sql(
        "SELECT COUNT(DISTINCT sid) AS n FROM series"
    ).collect()[0]["n"]
    assert n > 0
    top = spark.sql(
        """
        SELECT l_returnflag, CAST(SUM(l_quantity) AS DOUBLE) AS sum_qty
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
        """
    ).collect()
    assert len(top) >= 2


def test_remaining_event_classes_find(spark):
    """FlatLine/ExtremeChange/SpikeValley parity classes run end-to-end
    on pandas Series input (reference events.py class surface)."""
    from metevents_spark.api import (
        ExtremeChangeEvent,
        FlatLineEvent,
        SpikeValleyEvent,
    )

    flat = FlatLineEvent(
        daily_series([1.0, 1.0, 1.0, 1.0, 5.0, 6.0, 7.0]), spark=spark
    )
    flat.find(min_len=3, slope_thresh=0.0)
    assert flat.N == 1
    p = flat.events[0]
    # reference diff semantics: the first point has no previous diff,
    # so the flat run is points 2..4 -> a 2-day span
    assert (p.stop - p.start).days == 2

    chg = ExtremeChangeEvent(
        daily_series([0.0, 0.0, 10.0, 10.0, 0.0]), spark=spark
    )
    chg.find(min_len=1, positive_slope_thresh=5.0, negative_slope_thresh=-5.0)
    assert chg.N == 2  # one up-jump, one down-jump

    # reference golden shape: one prominent spike -> one event
    vals = [0.0] * 10 + [500.0] + [0.0] * 10
    spike = SpikeValleyEvent(daily_series(vals), spark=spark)
    spike.find(prominence=100.0)
    assert spike.N == 1


def test_io_sink_and_adapter_roundtrip(spark, tmp_path):
    """write_events sink + series_from_columns adapter round-trip."""
    import pandas as pd

    from metevents_spark.io import series_from_columns, write_events

    pdf = pd.DataFrame(
        {
            "station": ["a", "a", "b"],
            "when": pd.to_datetime(
                ["2024-01-01", "2024-01-02", "2024-01-01"]
            ),
            "reading": [1.0, 2.0, 3.0],
        }
    )
    src = spark.createDataFrame(pdf)
    ser = series_from_columns(src, "station", "when", "reading")
    assert ser.columns == ["sid", "seq", "ts", "value"]
    out = str(tmp_path / "events_out")
    write_events(ser, out)
    back = spark.read.parquet(out)
    assert back.count() == 3
    assert set(back.columns) == {"sid", "seq", "ts", "value"}
