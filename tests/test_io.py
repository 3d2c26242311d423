"""io.load_table: the schema is read from a parquet footer on the
driver, so building a table frame runs no Spark job, and it is the
schema Spark's own inference gives. Only the ``sf0.001`` parity case
needs the generated testdata; it is skipped without it."""

from __future__ import annotations

import datetime as dt
import decimal
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampType

from metevents_spark import io
from metevents_spark.io import TABLES, load_table
from tests.conftest import SF_SMALL

NANOS = "spark.sql.legacy.parquet.nanosAsLong"
NTZ = "spark.sql.parquet.inferTimestampNTZ.enabled"

WIDE = pa.schema([
    pa.field("id", pa.int64(), nullable=False),
    pa.field("vec", pa.list_(pa.field("element", pa.float32(), nullable=False))),
    pa.field("utc", pa.timestamp("us", tz="UTC")),
    pa.field("naive", pa.timestamp("ms")),
    pa.field("name", pa.large_string()),
    pa.field("pt", pa.struct([pa.field("x", pa.int32(), nullable=False)])),
    pa.field("tags", pa.map_(pa.string(), pa.int64())),
    pa.field("price", pa.decimal128(12, 2)),
    pa.field("day", pa.date32()),
])


def _wide_table(n: int) -> pa.Table:
    t0 = dt.datetime(2024, 1, 1)
    return pa.table(
        {
            "id": list(range(n)),
            "vec": [[float(i), 0.5] for i in range(n)],
            "utc": [t0 + dt.timedelta(hours=i) for i in range(n)],
            "naive": [t0 + dt.timedelta(minutes=i) for i in range(n)],
            "name": [f"n{i}" for i in range(n)],
            "pt": [{"x": i} for i in range(n)],
            "tags": [[("k", i)] for i in range(n)],
            "price": [decimal.Decimal(f"{i}.25") for i in range(n)],
            "day": [dt.date(2024, 1, 1 + i) for i in range(n)],
        },
        schema=WIDE,
    )


def _write(table: pa.Table, root: str, name: str, parts: int) -> None:
    """``<root>/<name>.parquet``: one file, or a directory of ``parts``
    part files beside the marker files a Spark write leaves."""
    path = os.path.join(root, f"{name}.parquet")
    if parts == 1:
        pq.write_table(table, path)
        return
    os.makedirs(path)
    step = -(-table.num_rows // parts)
    for i in range(parts):
        pq.write_table(
            table.slice(i * step, step), os.path.join(path, f"part-{i:03d}.parquet")
        )
    for marker in ("_SUCCESS", ".keep"):
        open(os.path.join(path, marker), "w").close()


@pytest.fixture(scope="module")
def generated(spark, tmp_path_factory):
    """Tables in one directory: pyarrow-written as a single file and as
    a part-file directory, and a Spark-written directory (whose footer
    carries Spark's own schema and an INT96 timestamp)."""
    root = str(tmp_path_factory.mktemp("footer"))
    _write(_wide_table(6), root, "wide_file", 1)
    _write(_wide_table(6), root, "wide_dir", 2)
    spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1), "a")], "k long, t timestamp, s string"
    ).coalesce(1).write.parquet(os.path.join(root, "spark_dir.parquet"))
    return root, ["wide_file", "wide_dir", "spark_dir"]


def _cases(generated):
    root, names = generated
    cases = [(root, n) for n in names]
    if os.path.isdir(SF_SMALL):
        cases += [(SF_SMALL, t) for t in TABLES]
    return cases


@pytest.mark.parametrize("ntz", ["true", "false"])
def test_footer_schema_is_the_inferred_schema(spark, generated, ntz):
    """The full StructType handed to Spark, nullability and metadata
    included, equals what ``spark.read.parquet`` infers."""
    before = spark.conf.get(NTZ)
    spark.conf.set(NTZ, ntz)
    try:
        for sf_dir, name in _cases(generated):
            path = os.path.join(sf_dir, f"{name}.parquet")
            footer = io._footer_schema(spark, path)
            assert footer is not None, path
            assert footer[0] == spark.read.parquet(path).schema, path
    finally:
        spark.conf.set(NTZ, before)


def test_load_table_runs_no_job(spark, generated):
    sc = spark.sparkContext
    for sf_dir, name in _cases(generated):
        group = f"load-{name}"
        sc.setJobGroup(group, "load_table")
        try:
            load_table(spark, sf_dir, name)
            assert list(sc.statusTracker().getJobIdsForGroup(group)) == [], name
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)


def test_partitioned_directory_falls_back_to_inference(spark, tmp_path):
    """A directory of ``key=value`` subdirectories needs Spark's
    partition discovery, so Spark infers its schema."""
    path = tmp_path / "parted.parquet"
    spark.createDataFrame([(1, "a"), (2, "b")], "v long, p string").write.partitionBy(
        "p"
    ).parquet(str(path))
    assert io._footer_schema(spark, str(path)) is None
    df = load_table(spark, str(tmp_path), "parted")
    assert sorted(df.collect()) == sorted(spark.read.parquet(str(path)).collect())


@pytest.mark.parametrize(
    "column, write_kw",
    [
        (pa.array([1, 2], pa.uint16()), {}),
        (pa.array([1, 2], pa.duration("s")), {}),
        (
            pa.array([dt.datetime(2024, 1, 1)] * 2, pa.timestamp("us")),
            {"use_deprecated_int96_timestamps": True},
        ),
    ],
    ids=["unsigned", "duration", "int96"],
)
def test_types_mapped_unlike_spark_fall_back_to_inference(
    spark, tmp_path, column, write_kw
):
    path = str(tmp_path / "odd.parquet")
    pq.write_table(pa.table({"k": [1, 2], "c": column}), path, **write_kw)
    assert io._footer_schema(spark, path) is None
    df = load_table(spark, str(tmp_path), "odd")
    assert df.schema == spark.read.parquet(path).schema
    assert df.count() == 2


@pytest.mark.parametrize("preset", [False, True], ids=["fresh", "nanos-as-long-set"])
@pytest.mark.parametrize("parts", [1, 2], ids=["file", "directory"])
def test_nanosecond_timestamps_read_as_micro_timestamps(spark, tmp_path, parts, preset):
    """A timestamp[ns] column comes back as a timestamp holding the
    micro-truncated values, from a file or a part-file directory, and
    whether or not an earlier load already set ``nanosAsLong``."""
    ns = [1_700_000_000_123_456_789 + i * 1_001 for i in range(6)]
    table = pa.table(
        {"k": list(range(6)), "ts": pa.array(ns, pa.timestamp("ns"))}
    )
    _write(table, str(tmp_path), "ns", parts)
    before = spark.conf.get(NANOS, None)
    if preset:
        spark.conf.set(NANOS, "true")
    else:
        spark.conf.unset(NANOS)
    try:
        df = load_table(spark, str(tmp_path), "ns")
        assert isinstance(df.schema["ts"].dataType, TimestampType)
        got = df.select("k", F.unix_micros("ts").alias("us")).orderBy("k").collect()
        assert [r.us for r in got] == [v // 1000 for v in ns]
    finally:
        if before is None:
            spark.conf.unset(NANOS)
        else:
            spark.conf.set(NANOS, before)
