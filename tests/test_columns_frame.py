"""``grouped.columns_frame``: the one output builder of the batch
per-series kernels (``map_series_kernel``) and the streaming steps
(``streaming.detect.keyed_fold``). Each field gets its pandas dtype
from the output schema, and a kernel or step that returns the wrong
number of columns fails loudly instead of being truncated.

Data-independent: the Spark cases run on in-memory frames.
"""

from __future__ import annotations

from datetime import datetime

import numpy as np
import pandas as pd
import pytest
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)

from metevents_spark.operators.grouped import columns_frame, map_series_kernel
from metevents_spark.streaming.detect import fold_chunks

FIELDS = StructType(
    [
        StructField("name", StringType()),
        StructField("touch_id", LongType()),
        StructField("k", IntegerType()),
        StructField("x", DoubleType()),
        StructField("at", TimestampType()),
        StructField("at_ntz", TimestampNTZType()),
        StructField("flag", BooleanType()),
    ]
).fields

T0_US = 1_704_067_200_000_000  # 2024-01-01 00:00 in epoch micros


def test_builds_each_field_with_its_dtype_across_calls():
    micros = (
        ("a", "b"),
        (7, None),
        (1, 2),
        (0.5, None),
        (T0_US, T0_US + 1),
        (T0_US, T0_US + 2),
        (True, False),
    )
    stamps = np.asarray(["2024-01-02", "2024-01-03"], dtype="datetime64[us]")
    arrays = (
        np.array(["c", None], dtype=object),
        np.array([8, 9]),
        np.array([3, 4]),
        np.array([1.5, np.nan]),
        stamps,
        stamps.astype("datetime64[ns]"),
        np.array([False, True]),
    )
    out = columns_frame(FIELDS, [micros, arrays])
    assert out.dtypes.astype(str).tolist() == [
        "object", "Int64", "int32", "float64", "datetime64[us]", "datetime64[us]",
        "bool",
    ]
    assert out["name"].tolist() == ["a", "b", "c", None]
    assert out["touch_id"].isna().tolist() == [False, True, False, False]
    assert out["touch_id"].dropna().tolist() == [7, 8, 9]
    assert out["k"].tolist() == [1, 2, 3, 4]
    np.testing.assert_array_equal(out["x"], [0.5, np.nan, 1.5, np.nan])
    t0 = pd.Timestamp("2024-01-01")
    assert out["at"].tolist() == [
        t0, t0 + pd.Timedelta(1, "us"), *pd.to_datetime(stamps)
    ]
    assert out["at_ntz"].tolist()[1] == t0 + pd.Timedelta(2, "us")
    assert out["flag"].tolist() == [True, False, False, True]


def test_zero_rows_keep_the_schema_dtypes():
    empty_cols = tuple(() for _ in FIELDS)
    for outs in ([], [empty_cols]):
        out = columns_frame(FIELDS, outs)
        assert len(out) == 0
        assert out.columns.tolist() == [f.name for f in FIELDS]
        assert out.dtypes.astype(str).tolist() == [
            "object", "Int64", "int32", "float64",
            "datetime64[us]", "datetime64[us]", "bool",
        ]


def test_wrong_column_count_raises():
    with pytest.raises(ValueError, match="returned 6 columns for the 7 fields"):
        columns_frame(FIELDS, [tuple(() for _ in range(6))])
    with pytest.raises(ValueError, match="returned 8 columns"):
        columns_frame(FIELDS, [tuple(() for _ in range(8))])


def test_stream_step_with_wrong_column_count_raises():
    rows = pd.DataFrame(
        {"ts": pd.to_datetime([T0_US], unit="us"), "value": [1.0]}
    )

    def step(key, state, rows):
        return (rows["ts"], rows["value"]), state

    fields = [StructField("ts", TimestampType()), StructField("value", DoubleType())]
    (out,), _ = fold_chunks(step, (), None, [rows], fields)
    assert out["value"].tolist() == [1.0]
    with pytest.raises(ValueError, match="returned 2 columns for the 1 fields"):
        fold_chunks(step, (), None, [rows], fields[:1])


def _series(spark):
    return spark.createDataFrame(
        [("s1", i, datetime(2024, 1, 1 + i), float(i)) for i in range(4)],
        schema="sid string, seq long, ts timestamp, value double",
    )


def test_batch_kernel_emits_nullable_long_and_epoch_time(spark):
    """A long column holding None and a time field fed epoch micros
    leave through mapInPandas as SQL NULL and as the timestamp."""

    def kernel(sid, ts, vals):
        return [sid, sid], [None, len(ts)], [ts[0], int(ts[-1].astype("int64"))]

    got = map_series_kernel(
        _series(spark), kernel, "sid string, n long, at timestamp_ntz"
    ).collect()
    assert [(r.sid, r.n, r.at) for r in got] == [
        ("s1", None, datetime(2024, 1, 1)),
        ("s1", 4, datetime(2024, 1, 4)),
    ]


def test_batch_kernel_with_wrong_column_count_raises(spark):
    def kernel(sid, ts, vals):
        return [sid], [len(ts)]

    out = map_series_kernel(_series(spark), kernel, "sid string, n long, x double")
    with pytest.raises(Exception, match="returned 2 columns for the 3 fields"):
        out.collect()
