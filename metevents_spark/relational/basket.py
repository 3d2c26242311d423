"""Market-basket association mining over the order/lineitem tables.

The classic co-purchase analysis (support / confidence / lift over
item pairs within a basket) — the relational family the reference's
event co-occurrence queries (event_pair_lift) apply to the TPC-H side.

Scale shape:
  * Baskets are (order, part) DISTINCT rows; the pair generator is a
    SELF-JOIN CO-LOCATED ON l_orderkey — one hash exchange on the
    basket key, pairs form inside each order's group, and output per
    order is bounded by basket_size^2 (TPC-H baskets are ~4 items, and
    real carts are bounded; a hot-basket cap like the LSH guard would
    slot in here if they weren't).
  * Item counts and the order total are aggregates joined back onto
    the pair frame (the planner broadcasts them while they fit) — the
    big fact table is scanned once and shuffled once.
  * The final ranking is a rounded-lift TakeOrdered (top-n heap per
    partition, driver merges n-row heads), never a global sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from metevents_spark.cache import track
from metevents_spark.io import load_table


def market_basket_lift(
    spark: SparkSession,
    sf_dir: str,
    min_pair_orders: int = 2,
    top_n: int = 100,
) -> DataFrame:
    """Top item pairs by lift: for parts a < b co-purchased in at least
    ``min_pair_orders`` orders, support = n_ab / n_orders, confidence =
    n_ab / n_a, lift = n_ab * n_orders / (n_a * n_b).

    All counts are exact integers; the derived ratios use one fixed
    float expression tree, so results are engine-stable. Ordering is by
    the ROUNDED lift with (part_a, part_b) tiebreak — deterministic
    under ties at the cut.
    """
    # four consumers (both self-join sides, item counts, order total):
    # persist the deduped basket frame so the fact table scans and
    # dedupes ONCE — (order, part) pairs only, payload columns pruned
    # at the parquet scan
    items = track(
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .persist()
    )
    pairs = (
        items.alias("a")
        .join(items.alias("b"), "l_orderkey")
        .filter(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= min_pair_orders)
    )
    item_counts = items.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("n_item")
    )
    n_orders = items.select("l_orderkey").distinct().groupBy().agg(
        F.count(F.lit(1)).alias("n_orders")
    )

    na = item_counts.select(
        F.col("l_partkey").alias("part_a"), F.col("n_item").alias("n_a")
    )
    nb = item_counts.select(
        F.col("l_partkey").alias("part_b"), F.col("n_item").alias("n_b")
    )
    d = lambda c: F.col(c).cast("double")
    return (
        pairs.join(na, "part_a")
        .join(nb, "part_b")
        .crossJoin(n_orders)
        .select(
            "part_a",
            "part_b",
            "n_ab",
            "n_a",
            "n_b",
            F.round(d("n_ab") / d("n_orders"), 6).alias("support"),
            F.round(d("n_ab") / d("n_a"), 6).alias("confidence"),
            F.round(
                d("n_ab") * d("n_orders") / (d("n_a") * d("n_b")), 6
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), "part_a", "part_b")
        .limit(top_n)
    )
