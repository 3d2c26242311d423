"""Golden tests: reference fixtures (F2/F3 in FIXTURES.md) reproduced
against the native detectors. Expectations come from
/root/reference/tests/test_events.py (exact counts/starts/stops/durations).
"""

from __future__ import annotations

from datetime import datetime

import numpy as np
import pytest

from metevents_spark.api import DETECTORS
from metevents_spark.operators import (
    data_gap,
    extreme_change,
    extreme_value,
    flat_line,
)
from tests.conftest import make_series_df

DAY_US = 86_400_000_000


def ramp(n=100):
    return np.arange(n, dtype=np.float64)


def d(s: str) -> datetime:
    return datetime.strptime(s, "%Y-%m-%d")


class TestExtremeValue:
    # /root/reference/tests/test_events.py:291-348
    def test_golden(self, spark):
        data = ramp()
        data[10:15] = 700.0
        data[40:48] = -1.0
        data[50:54] = 601.0
        df = make_series_df(spark, data.tolist())
        ev = extreme_value(df, expected_max=600.0, expected_min=0.0).collect()
        assert len(ev) == 3
        assert [r.start for r in ev] == [d("2023-01-11"), d("2023-02-10"), d("2023-02-20")]
        assert [r.stop for r in ev] == [d("2023-01-15"), d("2023-02-17"), d("2023-02-23")]
        assert [r.duration_us for r in ev] == [4 * DAY_US, 7 * DAY_US, 3 * DAY_US]

    def test_null_values_never_flag(self, spark):
        df = make_series_df(spark, [1.0, None, 700.0, None, 1.0])
        ev = extreme_value(df, expected_max=600.0, expected_min=0.0).collect()
        assert len(ev) == 1
        assert ev[0].n_points == 1


class TestFlatLine:
    # /root/reference/tests/test_events.py:233-288
    def test_golden(self, spark):
        data = ramp()
        data[10:18] = 10.0
        data[40:48] = 40.0
        data[50:54] = 50.0  # not long enough to flag
        df = make_series_df(spark, data.tolist())
        ev = flat_line(df, min_len=5, slope_thresh=0.0).collect()
        assert len(ev) == 2
        assert [r.start for r in ev] == [d("2023-01-12"), d("2023-02-11")]
        assert [r.stop for r in ev] == [d("2023-01-18"), d("2023-02-17")]
        assert [r.duration_us for r in ev] == [6 * DAY_US, 6 * DAY_US]


class TestExtremeChange:
    # /root/reference/tests/test_events.py:351-404
    def test_golden(self, spark):
        data = ramp()
        data[10:15] = 700.0
        df = make_series_df(spark, data.tolist())
        ev = extreme_change(
            df, min_len=1, positive_slope_thresh=100, negative_slope_thresh=-100.0
        ).collect()
        assert len(ev) == 2
        assert [r.start for r in ev] == [d("2023-01-11"), d("2023-01-16")]
        assert [r.stop for r in ev] == [d("2023-01-11"), d("2023-01-16")]
        assert [r.duration_us for r in ev] == [0, 0]

    def test_requires_threshold(self, spark):
        df = make_series_df(spark, [1.0, 2.0])
        with pytest.raises(ValueError):
            extreme_change(df, positive_slope_thresh=None, negative_slope_thresh=None)


class TestDataGap:
    # /root/reference/tests/test_events.py:179-230
    def test_golden(self, spark):
        data = ramp()
        data[10:15] = np.nan
        data[40:45] = np.nan
        data[50:51] = np.nan  # gap not big enough to flag
        keep = ~np.isnan(data)
        values = data[keep]
        days = np.flatnonzero(keep)
        # create NaN run that should be flagged (iloc 60:65 of kept rows)
        values = values.copy()
        values[60:65] = np.nan
        rows = list(zip(days.tolist(), values.tolist()))
        df = make_series_df(spark, [None] * 0)  # placeholder, rebuilt below
        from datetime import timedelta

        base = datetime(2023, 1, 1)
        df = df.sparkSession.createDataFrame(
            [
                ("s1", int(i), base + timedelta(days=int(i)),
                 None if np.isnan(v) else float(v))
                for i, v in rows
            ],
            schema="sid string, seq long, ts timestamp, value double",
        )
        ev = data_gap(df, min_len=3, expected_frequency_s=86400.0).collect()
        assert len(ev) == 3
        assert [r.start for r in ev] == [d("2023-01-10"), d("2023-02-09"), d("2023-03-13")]
        assert [r.duration_us for r in ev] == [6 * DAY_US, 6 * DAY_US, 4 * DAY_US]


class TestFreqInfer:
    # /root/reference/tests/test_utilities.py:8-19
    def test_daily_hourly_irregular(self, spark):
        from metevents_spark.functions import freq_infer
        from datetime import timedelta

        base = datetime(2023, 1, 1)
        rows = []
        for i in range(10):
            rows.append(("daily", i, base + timedelta(days=i), 1.0))
            rows.append(("hourly", i, base + timedelta(hours=i), 1.0))
            rows.append(("irr", i, base + timedelta(days=i ** 2), 1.0))
        df = spark.createDataFrame(
            rows, schema="sid string, seq long, ts timestamp, value double"
        )
        out = {r.sid: r for r in freq_infer(df).collect()}
        assert out["daily"].freq_us == DAY_US
        assert out["hourly"].freq_us == 3_600_000_000
        assert out["irr"].freq_us is None


@pytest.mark.parametrize("ts_type", ["timestamp", "timestamp_ntz"])
def test_event_schema_follows_input_ts_type(spark, ts_type):
    """Every registered detector, window or kernel, returns one events
    schema, whose time columns carry the input's ``ts`` type."""
    from metevents_spark.operators import storm_find

    data = ramp()
    data[10:15] = 700.0
    data[30] = np.nan
    rows = make_series_df(spark, data.tolist()).collect()
    df = spark.createDataFrame(
        rows, schema=f"sid string, seq long, ts {ts_type}, value double"
    )
    schemas = [fn(df).schema for fn in DETECTORS.values()]
    assert len(schemas) == 6, sorted(DETECTORS)
    assert schemas[0]["start"].dataType == df.schema["ts"].dataType
    types = [s.simpleString() for s in schemas]  # nullability may differ
    assert types == [types[0]] * len(types), types
    # same wall-clock times from either flavour; the storm opens one
    # timestep before its first burst row (reference events.py:116)
    storms = storm_find(df, instant_mass_to_start=100.0).collect()
    assert [(r.start, r.stop) for r in storms] == [(d("2023-01-10"), d("2023-01-15"))]
