"""Drop-in, reference-shaped API over the Spark engine.

The reference exposes ``EventClass(series).find(**params)`` then
``.events`` / ``.N`` (metevents/events.py:17-37). This module mirrors
that surface so reference users can switch with minimal edits, while
execution happens on Spark: a pandas Series input is lifted into a
single-series DataFrame; a canonical (sid, seq, ts, value) DataFrame
input runs distributed across every series at once.

``.events`` returns ``Period`` objects carrying start/stop/duration/
total (metevents/periods.py:12-45 semantics, duration as
pandas.Timedelta); ``.frame`` exposes the underlying lazy DataFrame for
Spark-native consumers.
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import timedelta
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from metevents_spark.operators import (
    data_gap,
    extreme_change,
    extreme_value,
    flat_line,
    spike_valley,
    storm_find,
)


@dataclass(frozen=True)
class Period:
    """One detected event (metevents/periods.py:1-45 parity)."""

    sid: str
    start: pd.Timestamp
    stop: pd.Timestamp
    total: float | None = None

    @property
    def duration(self) -> timedelta:
        return self.stop - self.start


def _lift(data, spark: SparkSession | None) -> DataFrame:
    """pandas Series (datetime index) -> single-series canonical frame;
    canonical DataFrame passes through."""
    if isinstance(data, DataFrame):
        missing = {"sid", "seq", "ts", "value"} - set(data.columns)
        if missing:
            raise ValueError(f"series frame missing columns: {sorted(missing)}")
        return data
    if isinstance(data, pd.Series):
        if spark is None:
            spark = SparkSession.getActiveSession()
        if spark is None:
            raise ValueError("no active SparkSession; pass spark=...")
        pdf = pd.DataFrame(
            {
                "sid": "series",
                "seq": range(len(data)),
                "ts": pd.to_datetime(data.index)
                if getattr(data.index, "tz", None) is None
                else pd.to_datetime(data.index).tz_convert("UTC").tz_localize(None),
                "value": data.to_numpy(dtype="float64"),
            }
        )
        return spark.createDataFrame(pdf)
    raise TypeError(f"unsupported input type: {type(data)!r}")


class BaseEvents:
    """metevents/events.py:17-37 parity: construct with data, call
    ``find``, read ``events``/``N``."""

    def __init__(self, data, spark: SparkSession | None = None):
        self.data = _lift(data, spark)
        self._frame: DataFrame | None = None

    def find(self, *args: Any, **kwargs: Any) -> None:
        raise NotImplementedError("find function not implemented.")

    @property
    def frame(self) -> DataFrame:
        """The lazy events DataFrame (Spark-native surface)."""
        if self._frame is None:
            raise RuntimeError("call find() first")
        return self._frame

    @property
    def events(self) -> list[Period]:
        """Events in ``(sid, start)`` order: every detector's frame is
        already ordered that way, so it is collected as is (a second
        sort would add a range exchange that re-runs a kernel stage)."""
        rows = self.frame.collect()
        return [
            Period(
                sid=r.sid,
                start=pd.Timestamp(r.start),
                stop=pd.Timestamp(r.stop),
                total=r.total,
            )
            for r in rows
        ]

    @property
    def N(self) -> int:  # noqa: N802 (reference name)
        return self.frame.count()


class ExtremeValueEvent(BaseEvents):
    def find(self, expected_max: float = 600.0, expected_min: float = 0.0) -> None:
        self._frame = extreme_value(self.data, expected_max, expected_min)


class FlatLineEvent(BaseEvents):
    def find(self, min_len: int = 5, slope_thresh: float = 0.0) -> None:
        self._frame = flat_line(self.data, min_len, slope_thresh)


class ExtremeChangeEvent(BaseEvents):
    def find(
        self,
        min_len: int = 1,
        positive_slope_thresh: float | None = None,
        negative_slope_thresh: float | None = -3.0,
    ) -> None:
        self._frame = extreme_change(
            self.data, min_len, positive_slope_thresh, negative_slope_thresh
        )


class DataGapEvent(BaseEvents):
    def find(self, min_len: int = 3, expected_frequency: str = "1D") -> None:
        self._frame = data_gap(
            self.data,
            min_len=min_len,
            expected_frequency_s=pd.Timedelta(expected_frequency).total_seconds(),
        )


class SpikeValleyEvent(BaseEvents):
    def find(
        self, height=None, threshold=None, prominence: float = 100.0, width=None
    ) -> None:
        self._frame = spike_valley(
            self.data, height=height, threshold=threshold,
            prominence=prominence, width=width,
        )


class StormEvents(BaseEvents):
    def find(
        self,
        instant_mass_to_start: float = 0.1,
        min_storm_total: float = 0.5,
        hours_to_stop: float = 24,
        max_storm_hours: float = 336,
    ) -> None:
        self._frame = storm_find(
            self.data,
            instant_mass_to_start=instant_mass_to_start,
            min_storm_total=min_storm_total,
            hours_to_stop=hours_to_stop,
            max_storm_hours=max_storm_hours,
        )

    @classmethod
    def from_station(
        cls,
        station_id: str,
        start,
        stop,
        station_name: str = "unknown",
        source: str = "NRCS",
        spark: SparkSession | None = None,
        backend=None,
    ) -> "StormEvents":
        """Connector parity (metevents/events.py:123-165): dispatch on
        source, fetch daily accumulated precipitation, convert to
        incremental via lag-diff."""
        from metevents_spark.sources.station import fetch_station_series

        frame = fetch_station_series(
            station_id, start, stop,
            station_name=station_name, source=source,
            spark=spark, backend=backend,
        )
        return cls(frame, spark=spark)


#: udf_surface parity (metevents/events.py:32-37): detector registry —
#: new event type = one registered function (df, **params) -> events df.
DETECTORS = {
    "extreme_value": extreme_value,
    "flat_line": flat_line,
    "extreme_change": extreme_change,
    "data_gap": data_gap,
    "spike_valley": spike_valley,
    "storm_find": storm_find,
}


def register_detector(name: str, fn) -> None:
    DETECTORS[name] = fn


def detect(name: str, df: DataFrame, **params: Any) -> DataFrame:
    try:
        fn = DETECTORS[name]
    except KeyError:
        raise ValueError(
            f"unknown detector {name!r}; available: {sorted(DETECTORS)}"
        ) from None
    return fn(df, **params)
