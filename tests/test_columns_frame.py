"""``grouped.columns_frame``: the one output builder of the batch
kernels (``map_series_kernel``, ``map_batches``) and the streaming
steps (``streaming.detect.keyed_fold``). Each field gets its pandas
dtype from the output schema, a ``binary`` or ``array`` field holds one
object per row, and a kernel or step that returns the wrong number of
columns fails loudly instead of being truncated.

Data-independent: the Spark cases run on in-memory frames.
"""

from __future__ import annotations

from datetime import datetime

import numpy as np
import pandas as pd
import pytest
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
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

from metevents_spark.operators.grouped import (
    columns_frame,
    map_batches,
    map_series_kernel,
)
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


OBJECT_FIELDS = StructType(
    [
        StructField("ids", ArrayType(IntegerType())),
        StructField("vec", ArrayType(DoubleType())),
        StructField("blob", BinaryType()),
    ]
).fields


def test_array_and_binary_fields_hold_one_object_per_row():
    """Equal-length rows stay one element per row, whether the kernel
    returns a list of lists, a list of arrays or a 2-D matrix."""
    lists = ([[1, 2], [3, 4]], [[0.5, 1.5], [2.5, 3.5]], [b"ab", b"cd"])
    matrix = (np.array([[5, 6]]), np.array([[4.5, 5.5]]), [b""])
    ragged = ([[7], []], [np.array([1.0]), np.array([2.0, 3.0, 4.0])], [b"x", b"yz"])
    out = columns_frame(OBJECT_FIELDS, [lists, matrix, ragged])
    assert out.dtypes.astype(str).tolist() == ["object"] * 3
    assert len(out) == 5
    assert [list(v) for v in out["ids"]] == [[1, 2], [3, 4], [5, 6], [7], []]
    assert [list(v) for v in out["vec"]] == [
        [0.5, 1.5], [2.5, 3.5], [4.5, 5.5], [1.0], [2.0, 3.0, 4.0],
    ]
    assert out["blob"].tolist() == [b"ab", b"cd", b"", b"x", b"yz"]
    empty = columns_frame(OBJECT_FIELDS, [((), (), ())])
    assert len(empty) == 0 and empty.dtypes.astype(str).tolist() == ["object"] * 3


class _Capture:
    """Stands in for a Spark frame: keeps the function map_batches
    hands to ``mapInPandas``, so the test can feed it batches."""

    def mapInPandas(self, fn, schema):
        self.fn, self.schema = fn, schema
        return self


def _batches(kernel, schema, batches):
    cap = map_batches(_Capture(), kernel, schema)
    return list(cap.fn(iter(batches)))


def test_map_batches_skips_empty_batches_and_empty_output():
    calls = []

    def kernel(pdf):
        calls.append(len(pdf))
        n = int(pdf["n"].iloc[0])
        return None if n == 1 else () if n == 2 else (pdf["n"], pdf["n"] * 0.5)

    frames = [pd.DataFrame({"n": v}, dtype="int64") for v in ([], [1], [2], [3, 4])]
    out = _batches(kernel, "n long, half double", frames)
    assert calls == [1, 1, 2]
    assert len(out) == 1
    assert out[0]["n"].tolist() == [3, 4] and out[0]["half"].tolist() == [1.5, 2.0]
    assert out[0].dtypes.astype(str).tolist() == ["Int64", "float64"]


def test_map_batches_wrong_column_count_raises():
    frames = [pd.DataFrame({"n": [1]})]
    with pytest.raises(ValueError, match="returned 1 columns for the 2 fields"):
        _batches(lambda pdf: (pdf["n"],), "n long, x double", frames)


def test_map_batches_round_trips_arrays_and_binary_through_spark(spark):
    df = spark.createDataFrame([(i,) for i in range(5)], "n long").repartition(3)

    def kernel(pdf):
        n = pdf["n"].to_numpy()
        return n, np.stack([n, n + 1], axis=1), [bytes([int(v)]) for v in n]

    got = map_batches(
        df, kernel, "n long, pair array<int>, b binary"
    ).orderBy("n").collect()
    assert [(r.n, r.pair, bytes(r.b)) for r in got] == [
        (i, [i, i + 1], bytes([i])) for i in range(5)
    ]
    bad = map_batches(df, lambda pdf: (pdf["n"],), "n long, x double")
    with pytest.raises(Exception, match="returned 1 columns for the 2 fields"):
        bad.collect()
