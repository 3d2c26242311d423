"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)   -> flagship query (extreme_value detection on sf0.001).
queries()      -> every implemented operator (SURVEY.md §2 + pipeline ops).
oracle_sql()   -> DuckDB-equivalent SQL for the SQL-expressible subset.

Implementation lives in metevents_spark/ (registry:
metevents_spark/queries.py).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from metevents_spark.queries import QUERIES

    return QUERIES["extreme_value"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from metevents_spark.queries import QUERIES

    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    from metevents_spark.queries import ORACLE_SQL

    return dict(ORACLE_SQL)
