"""SparkSession factory with scale-oriented defaults.

Defaults target correctness + the local[32] test harness, but every
setting is chosen to also hold on a large cluster: AQE for runtime
re-planning (skew joins, partition coalescing), Arrow for the pandas
kernels, UTC session time zone so timestamps round-trip parquet
deterministically (reference fixtures are tz-aware UTC,
/root/reference/tests/data/mocks/flv.csv:2).

``get_spark`` also pins two static defaults:

- ``spark.buffer.pageSize=2m``: Tungsten pages of 2 MB instead of
  heap / cores (64 MB for 8g on 4 cores). A finished mapInPandas
  task's Python worker monitor thread keeps its runner, and through it
  the last page of the sort feeding it, reachable for up to 2 s: ~260
  MB of driver heap after a per-series kernel query at 64 MB, ~17 MB at
  2 MB. A large sort takes more pages (up to 8192 per task, 16 GB).
- ``spark.python.sql.dataFrameDebugging.enabled=false``: no Python
  call-site capture per Column call. With it on, each ``F.col`` or
  Column operator fetches the session, reads two confs, sets and clears
  the JVM origin and walks the Python stack (``F.col`` 13 py4j commands
  instead of 3, ``c > F.lit(1)`` 14 instead of 4), and the first call
  imports IPython when it is installed (+23 MB driver peak RSS). The cost:
  errors raised while building a plan no longer name the Python line
  of the DataFrame call.

Both are static: a session built elsewhere and handed in through
``tune_session`` keeps its own values, and PySpark reads the debugging
flag once per process, at the first Column call. To get DataFrame call
sites back in error messages while debugging, build the session with
``spark.python.sql.dataFrameDebugging.enabled=true`` before any Column
call.
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
        # Static; see the module docstring for what each costs.
        .config("spark.buffer.pageSize", "2m")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
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
