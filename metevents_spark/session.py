"""SparkSession factory with scale-oriented defaults.

Defaults target correctness + the local[32] test harness, but every
setting is chosen to also hold on a large cluster: AQE for runtime
re-planning (skew joins, partition coalescing), Arrow for the pandas
kernels, UTC session time zone so timestamps round-trip parquet
deterministically (reference fixtures are tz-aware UTC,
/root/reference/tests/data/mocks/flv.csv:2).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "metevents-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # Every sorting task takes at least one Tungsten page, which
        # Spark sizes from heap / cores (64 MB for 8g on 4 cores) however
        # small the partition. A mapInPandas task's Python worker monitor
        # thread keeps its runner, and through the runner's input
        # iterator the last page of the sort feeding it, reachable for
        # up to 2 s after the task ends: ~260 MB of driver heap after a
        # per-series kernel query at 64 MB, ~17 MB at 2 MB. Larger sorts
        # take more 2 MB pages (up to 8192 per task, 16 GB). Static:
        # sessions built elsewhere (tune_session) keep Spark's size.
        .config("spark.buffer.pageSize", "2m")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get(
                "SPARK_GRAFT_WAREHOUSE", "/tmp/metevents-spark-warehouse"
            ),
        )
    )
    return builder.getOrCreate()


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable conf to an externally supplied session.

    The driver hands us its own SparkSession for ``entry``/``queries``;
    only runtime-mutable confs can be set there.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    # shuffle.partitions is runtime-mutable; a session left at Spark's
    # 200 default drags the iterative/persisted stages (localCheckpoint
    # and cache materializations run at the CONFIGURED count — AQE
    # coalesces only plain exchanges). Respect an explicit
    # SPARK_GRAFT_SHUFFLE, else the library default.
    spark.conf.set(
        "spark.sql.shuffle.partitions",
        os.environ.get("SPARK_GRAFT_SHUFFLE", "32"),
    )
    return spark
