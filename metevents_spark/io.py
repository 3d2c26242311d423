"""Parquet loaders for the test star schema + canonical series frame.

The reference consumes one shape: a datetime-indexed float series
(metevents/events.py:18-20). Our canonical distributed equivalent is a
DataFrame ``(sid STRING, seq LONG, ts TIMESTAMP, value DOUBLE)`` where
``sid`` keys independent series (parallelism unit) and ``seq`` is a
deterministic tiebreaker for duplicate timestamps so window ordering is
total. The driver's ``events`` table maps user_id->sid, event_id->seq
(FIXTURES.md F6).
"""

from __future__ import annotations

import json
import os
import re
import shutil

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DataType, MapType, StructField, StructType

from metevents_spark.cache import release as _release

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Parquet scan of ``<sf_dir>/<name>.parquet`` (a file or a
    directory of part files), with the schema read on the driver.

    Schema on read: the schema comes from one parquet footer, read with
    pyarrow (``_footer_schema``) and handed to ``spark.read.schema``,
    so building the frame runs no Spark job. It is the schema Spark's
    own inference gives under its default parquet read settings,
    following the session's ``inferTimestampNTZ``. Where no footer can
    be read, or one would not map exactly, Spark infers it as before.

    TIMESTAMP(NANOS) columns, which Spark's vectorized reader rejects
    unless ``spark.sql.legacy.parquet.nanosAsLong`` is set, are read as
    raw int64 nanos and returned as timestamps truncated to micros
    (integer division: a double one would lose precision above 2^53).
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    footer = _footer_schema(spark, path)
    schema, ns_cols = footer if footer else (None, [])
    if ns_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    reader = spark.read.schema(schema) if schema else spark.read
    df = reader.parquet(path)
    for c in ns_cols:
        df = df.withColumn(
            c, F.timestamp_micros(F.expr(f"`{c}` DIV 1000").cast("long"))
        )
    return df


def _footer_schema(
    spark: SparkSession, path: str
) -> tuple[StructType, list[str]] | None:
    """``(schema, ns_cols)`` as Spark infers them for the parquet file or
    part-file directory at ``path``, or None where Spark must infer.

    Spark infers from one footer (``_footer_file``), and its inferred
    schema is nullable throughout. A footer Spark wrote carries Spark's
    schema, which Spark takes as is; any other maps by parquet type
    (``_mapped_schema``).
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    footer = _footer_file(spark, path)
    if footer is None:
        return None
    try:
        meta = pq.read_metadata(footer)
    except (OSError, pa.ArrowException):  # missing, not parquet, not local
        return None
    spark_json = (meta.metadata or {}).get(_SPARK_SCHEMA_KEY)
    if spark_json:
        return _nullable(StructType.fromJson(json.loads(spark_json))), []
    try:
        return _mapped_schema(spark, meta)
    except (pa.ArrowException, TypeError):  # a type Spark's mapping lacks
        return None


def _mapped_schema(spark: SparkSession, meta) -> tuple[StructType, list[str]] | None:
    """``(schema, ns_cols)`` from a footer's parquet types, mapped as
    ``from_arrow_schema`` maps them, with nanosecond columns
    (``ns_cols``) as LONG, as ``nanosAsLong`` makes Spark infer them.
    None for INT96, duration and time columns and nested nanosecond
    ones, whose mapping differs; TypeError for a type
    ``from_arrow_schema`` cannot map, such as unsigned integers."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import from_arrow_schema

    columns = (meta.schema.column(i) for i in range(meta.num_columns))
    if any(c.physical_type == "INT96" for c in columns):
        return None
    arrow = meta.schema.to_arrow_schema()
    ns_cols = [
        f.name for f in arrow if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
    ]
    for c in ns_cols:
        i = arrow.get_field_index(c)
        arrow = arrow.set(i, arrow.field(i).with_type(pa.int64()))
    if any(_UNMAPPED.search(str(f.type)) for f in arrow):
        return None
    ntz = spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled")
    schema = from_arrow_schema(arrow, prefer_timestamp_ntz=ntz == "true")
    return _nullable(schema), ns_cols


def _footer_file(spark: SparkSession, path: str) -> str | None:
    """The file whose footer Spark infers ``path``'s schema from: the
    file itself, or a directory's first data file in name order (names
    starting ``_`` or ``.`` are not data). None for an empty or
    partitioned directory, and for a multi-file one under
    ``spark.sql.parquet.mergeSchema``."""
    if not os.path.isdir(path):
        return path
    names = sorted(n for n in os.listdir(path) if not n.startswith(("_", ".")))
    if not names or any(os.path.isdir(os.path.join(path, n)) for n in names):
        return None
    if len(names) > 1 and spark.conf.get("spark.sql.parquet.mergeSchema") == "true":
        return None
    return os.path.join(path, names[0])


_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"
_UNMAPPED = re.compile(r"timestamp\[ns|duration|time32|time64")


def _nullable(t: DataType) -> DataType:
    """``t`` with every field, element and map value nullable."""
    if isinstance(t, StructType):
        return StructType(
            [StructField(f.name, _nullable(f.dataType), True, f.metadata) for f in t]
        )
    if isinstance(t, ArrayType):
        return ArrayType(_nullable(t.elementType), True)
    if isinstance(t, MapType):
        return MapType(_nullable(t.keyType), _nullable(t.valueType), True)
    return t


def local_frame(spark: SparkSession, rows, schema: str) -> DataFrame:
    """A small driver-built table as a LocalRelation: ``rows`` of
    tuples in ``schema`` (a DDL string) column order. The rows reach
    the JVM as Arrow batches inside the plan, so building the table
    runs no job and starts no Python worker;
    ``spark.createDataFrame(<list>)`` scans a Python RDD instead."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    struct = StructType.fromDDL(schema)
    table = pa.Table.from_pylist(
        [dict(zip(struct.names, r)) for r in rows],
        schema=to_arrow_schema(struct),
    )
    return spark.createDataFrame(table, struct)


def series_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical (sid, seq, ts, value) frame from the events table.

    Column pruning happens at the parquet scan (only 4 columns read);
    no shuffle here — partitioning is deferred to the first window/agg
    so Catalyst plans exactly one exchange on sid.
    """
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        F.col("user_id").cast("string").alias("sid"),
        F.col("event_id").cast("long").alias("seq"),
        F.col("ts"),
        F.col("value").cast("double").alias("value"),
    )


def load_csv_series(
    spark: SparkSession,
    path: str,
    ts_col: str = "datetime",
    value_col: str = "value",
    sid_col: str | None = None,
    sid: str = "series",
) -> DataFrame:
    """CSV scan parity (reference test path: pd.read_csv with
    parse_dates + column select, /root/reference/tests/test_events.py:103-107).

    Reads with header, casts the timestamp column (tz offsets like
    ``+00:00`` normalize to session UTC), selects one value column, and
    returns the canonical series frame.
    """
    raw = spark.read.csv(path, header=True)
    sid_expr = (
        F.col(sid_col).cast("string") if sid_col else F.lit(sid)
    )
    return raw.select(
        sid_expr.alias("sid"),
        F.monotonically_increasing_id().alias("seq"),
        F.to_timestamp(F.col(ts_col)).alias("ts"),
        F.col(value_col).cast("double").alias("value"),
    )


#: formats the generic table sink/source accept — all three are Spark
#: built-ins with JVM-side codecs (no Python in the data path). Parquet
#: is the system default (column pruning + predicate pushdown +
#: min/max pruning); ORC is the interop path for Hive-era lakes (same
#: pushdown machinery via the ORC reader); JSONL is the interchange/
#: debug sink (schema-on-read, no pushdown — never the analytics path).
TABLE_FORMATS = ("parquet", "orc", "json")


def write_events(
    df: DataFrame, path: str, mode: str = "overwrite", fmt: str = "parquet"
) -> None:
    """Sink: events frames are tiny relative to inputs — a plain
    columnar write; partition by sid only when callers expect
    per-series consumption patterns. ``fmt`` picks any TABLE_FORMATS
    entry; parquet unless interop demands otherwise."""
    if fmt not in TABLE_FORMATS:
        raise ValueError(f"fmt must be one of {TABLE_FORMATS}: {fmt}")
    w = df.write.mode(mode).format(fmt)
    if fmt == "json":
        # default JSON timestamp pattern truncates to milliseconds;
        # keep the microsecond precision the parquet testdata carries
        w = w.option("timestampNTZFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
        w = w.option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
    w.save(path)


def read_events(spark: SparkSession, path: str, fmt: str = "parquet",
                schema: str | None = None) -> DataFrame:
    """Source dual of :func:`write_events`. JSON gets an explicit
    schema when provided (schema inference is a full extra scan and
    types drift — timestamps read back as strings without one)."""
    if fmt not in TABLE_FORMATS:
        raise ValueError(f"fmt must be one of {TABLE_FORMATS}: {fmt}")
    reader = spark.read.format(fmt)
    if fmt == "json":
        reader = reader.option(
            "timestampNTZFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"
        ).option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
    if schema is not None:
        reader = reader.schema(schema)
    return reader.load(path)


def series_from_columns(
    df: DataFrame, sid_col: str, ts_col: str, value_col: str, seq_col: str | None = None
) -> DataFrame:
    """Adapt any table to the canonical series frame."""
    seq = F.col(seq_col).cast("long") if seq_col else F.monotonically_increasing_id()
    return df.select(
        F.col(sid_col).cast("string").alias("sid"),
        seq.alias("seq"),
        F.col(ts_col).cast("timestamp").alias("ts"),
        F.col(value_col).cast("double").alias("value"),
    )


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int = 16,
    sort_col: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed-table sink: co-locates rows by hash(bucket_col) at WRITE
    time so later joins/aggregations on that key need NO exchange —
    the physical layout the 100 TB fact tables should have. Optionally
    sorted within buckets so sort-merge joins skip the sort too."""
    spark = df.sparkSession
    if mode == "overwrite":
        # a table location can survive from a previous session while the
        # catalog entry does not; clear both so overwrite is idempotent
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        warehouse = spark.conf.get("spark.sql.warehouse.dir", "")
        loc = os.path.join(warehouse.removeprefix("file:"), table)
        if loc.startswith("/") and os.path.isdir(loc):
            shutil.rmtree(loc, ignore_errors=True)
    w = df.write.mode(mode).bucketBy(n_buckets, bucket_col)
    if sort_col:
        w = w.sortBy(sort_col)
    w.format("parquet").saveAsTable(table)


def bucketed_series_tables(
    spark: SparkSession, sf_dir: str, n_buckets: int = 16
) -> tuple[str, str]:
    """Land the events series and a per-user dim as bucketed tables on
    the same key/bucket count; returns the two table names. Joining
    them is exchange-free (see tests/test_bucketing.py)."""
    ser = series_frame(spark, sf_dir)
    dim = ser.groupBy("sid").agg(
        F.count(F.lit(1)).alias("n_points"),
        F.avg("value").alias("avg_value"),
    )
    write_bucketed(ser, "series_bucketed", "sid", n_buckets, sort_col="sid")
    write_bucketed(dim, "series_dim_bucketed", "sid", n_buckets, sort_col="sid")
    return "series_bucketed", "series_dim_bucketed"


def write_partitioned_events(
    df: DataFrame, path: str, mode: str = "overwrite"
) -> None:
    """Date-partitioned parquet sink (partition pruning on read): the
    lake layout for append-mostly event streams — queries with a date
    predicate scan only matching directories (PartitionFilters in the
    plan, asserted in tests/test_partitioned_sink.py)."""
    df.withColumn("event_date", F.to_date("ts")).write.mode(
        mode
    ).partitionBy("event_date").parquet(path)


def register_views(spark: SparkSession, sf_dir: str) -> list[str]:
    """Register every star-schema table plus the canonical ``series``
    frame as temp views, opening the raw ``spark.sql`` surface over the
    engine's data model (ANSI SQL against the same scans the DataFrame
    operators use — filter pushdown and column pruning apply
    unchanged, since a temp view is just a named logical plan).

    Returns the view names registered.
    """
    names = []
    for t in TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
        names.append(t)
    series_frame(spark, sf_dir).createOrReplaceTempView("series")
    names.append("series")
    return names


def upsert_partitioned(
    spark: SparkSession,
    updates: DataFrame,
    path: str,
    key_cols: list[str],
    partition_col: str = "event_date",
    order_col: str = "ts",
) -> None:
    """Merge-by-key upsert into a date-partitioned parquet table:
    the latest row per key (by ``order_col``, update batch beating the
    table on ties) wins. Without a table format that supports MERGE
    (Delta/Iceberg), parquet upserts rewrite whole partitions — so the
    whole design is about rewriting only the partitions the batch
    touches:

    1. the distinct partition values of the update batch are computed
       ON the batch (small) and pushed as a partition-pruning filter
       into the existing table's scan — untouched partitions are never
       read;
    2. existing + updates union, rank per key by (order_col, source
       priority), keep rank 1;
    3. write with ``partitionOverwriteMode=dynamic`` so only the
       partitions present in the result are replaced — untouched
       partitions are never written either.

    Read/merge/write cost scales with the batch's partition footprint,
    not table size.
    """
    if partition_col not in updates.columns:
        updates = updates.withColumn(partition_col, F.to_date(order_col))
    touched = [
        r[0] for r in updates.select(partition_col).distinct().collect()
    ]
    upd = updates.withColumn("_src", F.lit(1))
    from pyspark.errors import AnalysisException

    try:
        existing = (
            spark.read.parquet(path)
            .filter(F.col(partition_col).isin(touched))
            .withColumn("_src", F.lit(0))
        )
        merged = existing.unionByName(upd)
    except AnalysisException:  # first batch: no table to merge with yet
        merged = upd
    w = Window.partitionBy(*key_cols).orderBy(
        F.col(order_col).desc(), F.col("_src").desc()
    )
    result = (
        merged.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_src")
    )
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        result.write.mode("overwrite").partitionBy(partition_col).parquet(path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


def load_jsonl_documents(
    spark: SparkSession,
    path: str,
    schema: str = "doc_id long, source string, lang string, text string",
) -> tuple[DataFrame, DataFrame]:
    """JSONL corpus reader with corrupt-record quarantine — the raw
    ingestion face of the documents table (crawl dumps arrive as
    json-lines, not parquet).

    Returns (good, bad): ``good`` rows parsed against the EXPLICIT
    schema (never inferred — schema inference is a full extra pass
    over 100 TB and locks in whatever the first sample happened to
    contain), ``bad`` the raw lines that failed to parse, kept for
    quarantine/replay instead of being silently dropped
    (PERMISSIVE + columnNameOfCorruptRecord).

    Parsing is one pass, line-splittable (JSONL, unlike multiline
    JSON, parallelizes by input split at any scale).
    """
    full = spark.read.schema(schema + ", _corrupt string").option(
        "mode", "PERMISSIVE"
    ).option("columnNameOfCorruptRecord", "_corrupt").json(path)
    # Spark requires a materialization barrier (cache) before
    # filtering on the corrupt-record column alone
    full = full.cache()
    good = full.filter(F.col("_corrupt").isNull()).drop("_corrupt")
    bad = full.filter(F.col("_corrupt").isNotNull()).select(
        F.col("_corrupt").alias("raw_line")
    )
    return good, bad


def zorder_key(df: DataFrame, cols: list[str], bits: int = 8) -> DataFrame:
    """Append a Morton (Z-order) clustering key over ``cols``.

    Each column is quantized to a 2^bits grid between its global min
    and max (one tiny all-column aggregate, broadcast back), then the
    grid coordinates' bits interleave into one integer — points close
    in the key are close in EVERY clustering dimension. All pure
    codegen bit arithmetic; the only non-map-side work is the one-row
    min/max aggregate. Uniform (min/max) quantization keeps the
    cutpoints engine-trivial; heavy-tailed columns should be
    pre-transformed (log/rank) by the caller.

    Clustering columns must be numeric-like (numeric / boolean /
    date / timestamp): a TypeError beats the silent failure mode
    where a string column casts to NULL for every row, every zkey
    goes NULL, and repartitionByRange funnels the whole dataset into
    ONE partition — i.e. an unclustered single-task write (OOM at
    scale). NULL cells quantize to grid 0 (the dedicated low bucket)
    so NULL rows spread across the normal range partitioning instead
    of collapsing into a single NULL-key partition.
    """
    from pyspark.sql import types as T

    ok = (T.NumericType, T.BooleanType, T.DateType, T.TimestampType,
          T.TimestampNTZType)
    nums: dict[str, Column] = {}
    for c in cols:
        dt = df.schema[c].dataType
        if not isinstance(dt, ok):
            raise TypeError(
                f"zorder_key: column {c!r} has type {dt.simpleString()}; "
                "clustering columns must be numeric/boolean/date/timestamp "
                "(strings would cast to NULL and defeat the clustering — "
                "hash or dictionary-encode them first)"
            )
        # DATE and TIMESTAMP_NTZ have no direct cast to DOUBLE — route
        # through day numbers / epoch micros; quantization only needs a
        # monotone numeric image of the column
        if isinstance(dt, T.DateType):
            nums[c] = F.unix_date(F.col(c)).cast("double")
        elif isinstance(dt, T.TimestampNTZType):
            nums[c] = F.unix_micros(
                F.col(c).cast("timestamp")
            ).cast("double")
        else:
            nums[c] = F.col(c).cast("double")
    aggs = []
    for c in cols:
        aggs += [
            F.min(nums[c]).alias(f"__min_{c}"),
            F.max(nums[c]).alias(f"__max_{c}"),
        ]
    stats = df.agg(*aggs)
    out = df.crossJoin(stats)
    n = len(cols)
    zkey = F.lit(0).cast("long")
    for ci, c in enumerate(cols):
        lo, hi = F.col(f"__min_{c}"), F.col(f"__max_{c}")
        span = F.when(hi > lo, hi - lo).otherwise(F.lit(1.0))
        cell = F.coalesce(
            F.least(
                F.lit((1 << bits) - 1),
                F.floor((nums[c] - lo) / span * (1 << bits)).cast("long"),
            ),
            F.lit(0).cast("long"),
        )
        for b in range(bits):
            zkey = zkey + F.shiftleft(
                F.shiftright(cell, b).bitwiseAND(F.lit(1)), b * n + ci
            )
    return out.withColumn("zkey", zkey).drop(
        *[f"__min_{c}" for c in cols], *[f"__max_{c}" for c in cols]
    )


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    n_files: int = 16,
    bits: int = 8,
    mode: str = "overwrite",
) -> None:
    """Z-order clustered parquet sink (what Delta's OPTIMIZE ZORDER
    lays down): range-partition + sort by the Morton key of ``cols``
    so every output file / row group covers a NARROW value range in
    each clustering dimension — parquet min/max stats then prune
    multi-dimension predicates, where a single-column sort prunes only
    its own column. The key is dropped from the stored schema; layout
    is the only change, so reads are byte-compatible.

    Scale shape: one range exchange on the key (sampled boundaries —
    Spark's RangePartitioner), sort within partitions, no other
    shuffle; file count = partition count caps small-file explosion.
    """
    keyed = zorder_key(df, cols, bits=bits)
    (
        keyed.repartitionByRange(n_files, F.col("zkey"))
        .sortWithinPartitions("zkey")
        .drop("zkey")
        .write.mode(mode)
        .parquet(path)
    )


def compact_partitions(
    spark: SparkSession,
    path: str,
    target_rows_per_file: int = 1_000_000,
    partition_col: str = "event_date",
) -> dict[str, int]:
    """Small-file compaction for a date-partitioned parquet table — the
    maintenance job every append-mostly lake needs: streaming /
    micro-batch writers leave each partition littered with files the
    size of one trigger's slice, and at 100 TB the resulting
    file-open/footer overhead dominates scan time long before data
    volume does.

    Per-partition file count is computed FROM THE DATA (ceil(rows /
    target_rows_per_file), never a global constant): one cheap
    count per partition value (parquet metadata-only aggregate), then
    each partition rewrites via ``repartition(n_files)`` scoped to
    that partition's rows, written with dynamic partition overwrite so
    ONLY rewritten partitions are replaced — the pattern scales with
    the compacted slice, not the table. Row contents are untouched
    (asserted by count + content hash in tests/test_partitioned_sink).

    Returns {"files_before": b, "files_after": a, "rows": n} for the
    caller's audit log.
    """
    import glob as _glob

    # the per-partition rewrite below is only safe when partition_col
    # is a REAL directory partition of the table: dynamic overwrite
    # then replaces exactly the directories being rewritten, and
    # partition pruning keeps each iteration's scan away from
    # directories a previous iteration deleted. A plain data column
    # would make every iteration re-list (and re-read) the whole —
    # partially deleted — table, so refuse it up front.
    part_dirs = _glob.glob(f"{path}/{partition_col}=*")
    if not part_dirs:
        raise ValueError(
            f"compact_partitions: {partition_col!r} is not a directory-"
            f"partition column of {path} (no '{partition_col}=*' "
            "directories found) — compaction would read files deleted "
            "mid-loop. Write the table with "
            f".partitionBy({partition_col!r}) first."
        )
    df = spark.read.parquet(path)
    files_before = len(_glob.glob(f"{path}/*/*.parquet"))
    n_rows = df.count()
    counts = (
        df.groupBy(partition_col).count().collect()
    )  # bounded: one row per partition value
    writer_conf = spark.conf.get(
        "spark.sql.sources.partitionOverwriteMode", "static"
    )
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        for row in counts:
            pval = row[partition_col]
            n_files = max(1, -(-int(row["count"]) // target_rows_per_file))
            # NULL partition values live in the __HIVE_DEFAULT_PARTITION__
            # directory; `col == lit(None)` matches nothing, so the
            # NULL slice needs an explicit isNull predicate
            pred = (
                F.col(partition_col).isNull()
                if pval is None
                else F.col(partition_col) == F.lit(pval)
            )
            # a FRESH reader per iteration: the first overwrite
            # invalidates the file listing cached on the original
            # DataFrame's relation, and a stale listing could reference
            # already-deleted files even on the pruned path
            part_df = spark.read.parquet(path)
            # materialize the partition BEFORE its own files are
            # deleted: the rewrite targets the path being read, and a
            # lazy plan could re-list the directory mid-overwrite —
            # localCheckpoint pins the rows in executor storage first
            part = (
                part_df.filter(pred)
                .repartition(n_files)
                .localCheckpoint()
            )
            part.write.mode("overwrite").partitionBy(
                partition_col
            ).parquet(path)
            _release(part)
    finally:
        spark.conf.set(
            "spark.sql.sources.partitionOverwriteMode", writer_conf
        )
    files_after = len(_glob.glob(f"{path}/*/*.parquet"))
    return {
        "files_before": files_before,
        "files_after": files_after,
        "rows": n_rows,
    }
