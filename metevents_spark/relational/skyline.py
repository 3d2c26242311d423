"""Skyline (Pareto-frontier) query over the part dimension.

The classic multi-criteria operator (Borzsony/Kossmann/Stocker, "The
Skyline Operator", ICDE 2001) no plain SQL aggregate expresses: keep
every part no other part beats on BOTH price (lower is better) and
size (higher is better). The textbook formulation is a NOT EXISTS
self-join — O(n^2) and a non-starter at scale. This implementation is
the sort-based 2-D skyline:

1. Per distinct price, only the max-size parts can survive (a same-
   price larger part dominates) — one groupBy that collapses the input
   to |distinct prices| rows. This is the distributed pruning pass:
   it shuffles only (price, max_size), never whole rows.
2. On that dimension-bounded set, a price-group survives iff its best
   size strictly exceeds the running max over all STRICTLY cheaper
   prices (equal size at a cheaper price dominates, because the price
   coordinate is then strictly better). One global-ordered running-max
   window — single-partition, but over |distinct prices| rows, not the
   fact table; at 100 TB the window input is still dimension-sized.
3. Broadcast the surviving (price, size) frontier back to part to
   recover full rows, keeping ties (equal price AND equal size parts
   dominate neither; all belong to the skyline).

The DuckDB oracle is the independent NOT EXISTS formulation, so the
window algebra is differentially checked against the textbook
definition, not against itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from metevents_spark.io import load_table


def pareto_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parts on the (minimize p_retailprice, maximize p_size) skyline."""
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_name", "p_retailprice", "p_size"
    )
    # pass 1: within a price, only the largest size can survive.
    # Grouping on the raw double is safe — the values come from the
    # same parquet file on both sides of every comparison; no
    # arithmetic touches them.
    best = part.groupBy("p_retailprice").agg(
        F.max("p_size").alias("best_size")
    )
    # pass 2: running max of best_size over strictly cheaper prices.
    # rowsBetween(-inf, -1) under orderBy(price) is exactly "all
    # strictly cheaper" because pass 1 left one row per price.
    w = Window.orderBy("p_retailprice").rowsBetween(
        Window.unboundedPreceding, -1
    )
    frontier = (
        best.withColumn("cheaper_best", F.max("best_size").over(w))
        .filter(
            F.col("cheaper_best").isNull()
            | (F.col("best_size") > F.col("cheaper_best"))
        )
        .select("p_retailprice", F.col("best_size").alias("p_size"))
    )
    return (
        part.join(
            # broadcast: ≤ 1 row per p_size (est 1.7 KB → 41 KB, sf0.001 → sf0.1)
            F.broadcast(frontier), ["p_retailprice", "p_size"], "inner"
        )
        .select("p_partkey", "p_name", "p_retailprice", "p_size")
        .orderBy("p_partkey")
    )
