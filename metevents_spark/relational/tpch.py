"""Relational analytics over the star schema (beyond-reference surface).

TPC-H-shaped queries adapted to the driver's simplified columns. All
monetary arithmetic is done in DECIMAL so results are exact and engine
independent (double summation is order-dependent; decimal is not), then
cast to DOUBLE for a stable output schema.

Scale notes: no join below carries a strategy hint. Spark broadcasts
the small side (region/nation/customer at these ratios) when its size
estimate is under the threshold, AQE converts at runtime otherwise,
and past that the join shuffles on the natural key; aggregates are
partial+final hash aggregates; filters and column pruning reach the
parquet scan (verified via .explain in tests/test_plans.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from metevents_spark.io import load_table
from metevents_spark.timeutil import epoch_us


def _dec(col: str, prec: str = "12,2"):
    return F.col(col).cast(f"decimal({prec})")


def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: pricing summary report over lineitem.

    Money math runs in EXACT INTEGER UNITS (cents; 1e-4 units for
    disc_price, 1e-6 for charge) summed as LONG — all inside
    whole-stage codegen. The earlier DECIMAL formulation was exact too
    but its sums widen past precision 18 and fall onto the BigDecimal
    path: measured 9.3s vs 2.5s on the 6M-row tenfold dataset. Long
    sums are exact to 2^63: worst-case ~1.1e11 charge-units/row bounds
    a single (returnflag, linestatus) group at ~8e7 max-priced rows —
    beyond that (extreme-SF runs) partial sums must widen to DECIMAL;
    ANSI mode fails loudly rather than wrapping. The final divisions
    and ROUND(_, 3) are identical double ops in both engines, so
    hashes are bit-stable (decimal->double casts drifted 1 ulp vs
    DuckDB at 1e10 magnitudes).
    """
    line = load_table(spark, sf_dir, "lineitem")
    qty = F.round(F.col("l_quantity") * 100).cast("long")
    price = F.round(F.col("l_extendedprice") * 100).cast("long")
    disc = F.round(F.col("l_discount") * 100).cast("long")
    tax = F.round(F.col("l_tax") * 100).cast("long")
    disc_price = price * (100 - disc)  # 1e-4 dollar units
    charge = disc_price * (100 + tax)  # 1e-6 dollar units
    n = F.count(F.lit(1))
    return (
        line.filter(F.col("l_shipdate") <= "1998-09-02 00:00:00")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum(qty) / 100.0, 3).alias("sum_qty"),
            F.round(F.sum(price) / 100.0, 3).alias("sum_base_price"),
            F.round(F.sum(disc_price) / 1.0e4, 3).alias("sum_disc_price"),
            F.round(F.sum(charge) / 1.0e6, 3).alias("sum_charge"),
            F.round(F.sum(qty) / 100.0 / n, 3).alias("avg_qty"),
            F.round(F.sum(price) / 100.0 / n, 3).alias("avg_price"),
            F.round(F.sum(disc) / 100.0 / n, 3).alias("avg_disc"),
            n.alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def revenue_topn(spark: SparkSession, sf_dir: str, n: int = 10) -> DataFrame:
    """TPC-H Q3 shape: unshipped-order revenue (no shippriority column;
    o_orderpriority carried instead)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    line = load_table(spark, sf_dir, "lineitem")
    one = F.lit(1).cast("decimal(3,2)")
    revenue = _dec("l_extendedprice") * (one - _dec("l_discount", "4,2"))
    cutoff = F.lit("1998-03-15 00:00:00").cast("timestamp")
    return (
        line.filter(F.col("l_shipdate") > cutoff)
        .join(
            orders.filter(F.col("o_orderdate") < cutoff),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        # customer scales with SF: no forced broadcast — AQE promotes the
        # filtered side to broadcast at runtime when it fits.
        .join(
            cust.filter(F.col("c_mktsegment") == "BUILDING"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(n)
    )


def region_revenue(spark: SparkSession, sf_dir: str, region: str = "ASIA") -> DataFrame:
    """TPC-H Q5 shape: local-supplier revenue by nation within a region."""
    reg = load_table(spark, sf_dir, "region").filter(F.col("r_name") == region)
    nat = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders")
    line = load_table(spark, sf_dir, "lineitem")
    one = F.lit(1).cast("decimal(3,2)")
    revenue = _dec("l_extendedprice") * (one - _dec("l_discount", "4,2"))
    lo = F.lit("1996-01-01 00:00:00").cast("timestamp")
    hi = F.lit("1997-01-01 00:00:00").cast("timestamp")
    return (
        line.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter((F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(nat, F.col("s_nationkey") == F.col("n_nationkey"))
        .join(reg, F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("n_name"))
    )


def top_customers_per_segment(
    spark: SparkSession, sf_dir: str, k: int = 3
) -> DataFrame:
    """Top-k customers by account balance per market segment (ranking
    window — the reference has no ranking ops; Spark supplies them).

    One ``row_number() <= k`` window over c_mktsegment, ordered by
    (c_acctbal desc, c_custkey). There are only 5 segments, but Spark
    plans the window as a ``WindowGroupLimit`` Partial before the
    segment exchange and Final after it, so each map partition ships at
    most k rows per segment. That bound holds only while k <=
    ``spark.sql.optimizer.windowGroupLimitThreshold`` (default 1000)."""
    cust = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    return (
        cust.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("c_mktsegment", "rank", "c_custkey", "c_name", "c_acctbal")
        .orderBy("c_mktsegment", "rank")
    )


def order_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: orders per priority with at least one late-shipped
    lineitem (left-semi join — EXISTS semantics, no row duplication)."""
    orders = load_table(spark, sf_dir, "orders")
    line = load_table(spark, sf_dir, "lineitem")
    lo = F.lit("1996-01-01 00:00:00").cast("timestamp")
    hi = F.lit("1996-04-01 00:00:00").cast("timestamp")
    filtered = orders.filter(
        (F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi)
    )
    late = filtered.join(
        line,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate")),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy("o_orderpriority")
    )


def nation_segment_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer counts/balances by nation x segment with ROLLUP
    subtotals (grouping-sets coverage)."""
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    return (
        cust.join(nat, F.col("c_nationkey") == F.col("n_nationkey"))
        .rollup("n_name", "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("c_acctbal"), 3).alias("sum_acctbal"),
        )
        .orderBy(
            F.col("n_name").asc_nulls_first(),
            F.col("c_mktsegment").asc_nulls_first(),
        )
    )


def brand_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue by part brand for a ship-date window (part-dimension
    join; scales with SF so no forced broadcast — AQE decides)."""
    line = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    one = F.lit(1).cast("decimal(3,2)")
    revenue = _dec("l_extendedprice") * (one - _dec("l_discount", "4,2"))
    lo = F.lit("1996-01-01 00:00:00").cast("timestamp")
    hi = F.lit("1996-07-01 00:00:00").cast("timestamp")
    return (
        line.filter((F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi))
        .join(part, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand")
        .agg(
            F.sum(revenue).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("p_brand")
    )


def value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated quartiles of event value per type (both
    engines use the same continuous-quantile definition, so results are
    bit-comparable after rounding)."""
    ev = load_table(spark, sf_dir, "events")
    pct = F.percentile("value", F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75)))
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.element_at(pct, 1), 6).alias("p25"),
            F.round(F.element_at(pct, 2), 6).alias("p50"),
            F.round(F.element_at(pct, 3), 6).alias("p75"),
        )
        .orderBy("event_type")
    )


EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def events_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-type counts as columns (pivot with an explicit
    value list so no extra distinct-scan job runs)."""
    ev = load_table(spark, sf_dir, "events")
    pivoted = (
        ev.groupBy("user_id")
        .pivot("event_type", list(EVENT_TYPES))
        .count()
    )
    filled = pivoted.select(
        "user_id",
        *[
            F.coalesce(F.col(t), F.lit(0)).cast("long").alias(t)
            for t in EVENT_TYPES
        ],
    )
    return filled.orderBy("user_id")


def top_price_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders above the 99th price percentile (scalar-subquery shape:
    the threshold aggregate broadcast-joins onto the scan)."""
    orders = load_table(spark, sf_dir, "orders")
    thr = orders.agg(
        F.percentile("o_totalprice", F.lit(0.99)).alias("_thr")
    )
    return (
        orders.crossJoin(thr)
        .filter(F.col("o_totalprice") > F.col("_thr"))
        .select(
            "o_orderkey", "o_custkey", "o_totalprice",
            F.round("_thr", 6).alias("threshold"),
        )
        .orderBy("o_orderkey")
    )


def brand_supplier_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-aggregation coverage: suppliers and parts per brand."""
    line = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    return (
        line.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand")
        .agg(
            F.countDistinct("l_suppkey").alias("n_suppliers"),
            F.countDistinct("l_partkey").alias("n_parts"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("p_brand")
    )


def customers_no_order_1996(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANTI-join shape: customers with zero orders in 1996. The orders
    side is filtered+projected to the key before the join, so only
    custkeys shuffle; Catalyst plans a (broadcast) hash anti join."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").between("1996-01-01", "1996-12-31 23:59:59")
    )
    return (
        cust.join(
            orders.select("o_custkey"),
            F.col("c_custkey") == F.col("o_custkey"),
            "left_anti",
        )
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey")
    )


def big_spender_1995(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMI-join shape: customers having at least one 1995 order above
    the price cut — EXISTS semantics, no duplicate blowup, only keys
    shuffle."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").between("1995-01-01", "1995-12-31 23:59:59")
        & (F.col("o_totalprice") > 40000.0)
    )
    return (
        cust.join(
            orders.select("o_custkey"),
            F.col("c_custkey") == F.col("o_custkey"),
            "left_semi",
        )
        .select("c_custkey", "c_name", "c_acctbal")
        .orderBy("c_custkey")
    )


def repeat_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT semantics (custkeys ordering in both 1995 and 1996)
    computed as ONE conditional aggregate: the literal
    ``keys(1995).intersect(keys(1996))`` compiled to TWO orders scans,
    two distinct exchanges and a semi join; one scan + one custkey
    exchange with per-year presence flags emits the identical key set
    (r13 2x-scan sweep). NULL custkeys group together here exactly as
    INTERSECT's null-safe equality treats them, so the result multiset
    is identical even on NULL keys. The set-op API itself stays
    covered by the differential fuzzer's intersectAll/exceptAll specs
    (tests/test_fuzz_relational.py)."""
    orders = load_table(spark, sf_dir, "orders")
    y = F.year("o_orderdate")
    return (
        orders.filter(y.isin(1995, 1996))
        .groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.max(y == 1995).alias("_in95"),
            F.max(y == 1996).alias("_in96"),
        )
        .filter(F.col("_in95") & F.col("_in96"))
        .select("custkey")
        .orderBy("custkey")
    )


def churned_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT-ALL-then-DISTINCT semantics (custkeys with MORE 1995
    orders than 1996 orders — note exceptAll's bag semantics: a key
    ordering 3x in 1995 and 1x in 1996 keeps two copies and survives
    the distinct, so this is NOT plain set difference) computed as ONE
    conditional aggregate over per-year counts instead of two orders
    scans + an except + a distinct (r13 2x-scan sweep; NULL keys group
    null-safe exactly as EXCEPT ALL matches them)."""
    orders = load_table(spark, sf_dir, "orders")
    y = F.year("o_orderdate")
    return (
        orders.filter(y.isin(1995, 1996))
        .groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.sum(F.when(y == 1995, 1).otherwise(0)).alias("_n95"),
            F.sum(F.when(y == 1996, 1).otherwise(0)).alias("_n96"),
        )
        .filter(F.col("_n95") > F.col("_n96"))
        .select("custkey")
        .orderBy("custkey")
    )


def small_qty_part_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape (correlated scalar subquery, decorrelated): per
    part, lineitems with quantity below 20% of that part's average
    quantity.

    The brand filter is applied ONCE, before any aggregate, and the
    surviving ~|1/brands| slice persisted, so lineitem is scanned once
    and the per-part average covers Brand#13's parts only. The per-part
    average over the filtered slice is computed from exactly the same
    row multiset per surviving part (the filter is a partkey-membership
    predicate, never a row predicate), so qty_cut — and the final
    rounded scalar — are identical. One fact scan, one small cached
    frame. Both the brand-filter join and the avg join grow with SF
    (avg_qty has one row per Brand#13 part, ~SF·8k rows), so the
    planner picks their strategy: broadcast wherever the side fits,
    the shuffle join beyond it."""
    line = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_brand") == "Brand#13"
    )
    from metevents_spark.cache import track

    flt = track(
        line.join(
            part.select("p_partkey"),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .select("l_partkey", "l_quantity", "l_extendedprice")
        .persist()
    )
    avg_qty = (
        flt.groupBy(F.col("l_partkey").alias("a_partkey"))
        .agg((F.avg("l_quantity") * 0.2).alias("qty_cut"))
    )
    return (
        flt.join(avg_qty, F.col("l_partkey") == F.col("a_partkey"))
        .filter(F.col("l_quantity") < F.col("qty_cut"))
        .agg(
            (F.sum(_dec("l_extendedprice")) / F.lit(7.0))
            .cast("double")
            .alias("avg_yearly")
        )
        .select(F.round("avg_yearly", 3).alias("avg_yearly"))
    )


def cumulative_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running-total window per customer: order-date cumulative spend.
    DECIMAL accumulation keeps the running sum order-independent in
    value, and the (date, orderkey) tie-break makes row order — and
    therefore every prefix — deterministic across engines."""
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_custkey") < 50
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            "o_orderdate",
            F.sum(_dec("o_totalprice")).over(w).cast("double").alias("cum_spend"),
        )
        .orderBy("o_custkey", "o_orderdate", "o_orderkey")
    )


def events_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping-sets: event counts and value sums across every
    combination of (event_type, iso weekday) including the grand total
    — one pass, Expand + single aggregate in the plan."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select(
            "event_type",
            (F.weekday("ts") + 1).cast("long").alias("isodow"),
            "value",
        )
        .cube("event_type", "isodow")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(_dec("value", "12,2")), 2).cast("double").alias("sum_value"),
        )
        .orderBy("event_type", "isodow")
    )


def price_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE ranking family: decile bounds of order prices. The global
    ntile window runs single-partition — fine for ranking a result set;
    at 100 TB you'd range-partition on the sort key first (as
    value_quantiles does with percentile aggregation)."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.orderBy("o_totalprice", "o_orderkey")
    return (
        orders.select(
            "o_totalprice", F.ntile(10).over(w).cast("long").alias("decile")
        )
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
        )
        .orderBy("decile")
    )


def shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: top-10 open orders by pending revenue for one
    market segment. Three-table join where the filtered customer side
    broadcasts while it fits; revenue in DECIMAL for exactness."""
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < "1998-01-01"
    )
    line = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > "1998-01-01"
    )
    one = F.lit(1).cast("decimal(3,2)")
    revenue = F.sum(
        _dec("l_extendedprice") * (one - _dec("l_discount", "4,2"))
    )
    return (
        line.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(revenue.cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


def shipmode_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: per order-status, how many high- vs low-priority
    orders shipped in 1997 (conditional-aggregation buckets)."""
    orders = load_table(spark, sf_dir, "orders")
    line = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").between("1997-01-01", "1997-12-31 23:59:59")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        line.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderstatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("o_orderstatus")
    )


def value_quantiles_approx(
    spark: SparkSession, sf_dir: str, accuracy: int = 10_000
) -> DataFrame:
    """Sketch-based quantiles (Greenwald-Khanna percentile_approx): the
    scale path next to value_quantiles' exact interpolation — bounded
    memory per group at any cardinality.

    WHY ROWS-ONLY (structural, the knn.py-note convention): the GK
    summary is an ONLINE sketch whose retained tuples depend on row
    ARRIVAL ORDER and on engine-specific compress schedules; Spark's
    percentile_approx and any DuckDB counterpart keep different
    tuples, so their answers agree only within the epsilon bound —
    a hash oracle needs certainty, and no post-hoc rounding grid can
    manufacture it. Pinned instead by the epsilon-band pytest against
    the exact value_quantiles on identical input."""
    ev = load_table(spark, sf_dir, "events")
    pct = F.percentile_approx(
        "value", F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75)), F.lit(accuracy)
    )
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.element_at(pct, 1), 6).alias("p25"),
            F.round(F.element_at(pct, 2), 6).alias("p50"),
            F.round(F.element_at(pct, 3), 6).alias("p75"),
        )
        .orderBy("event_type")
    )


def user_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct-user reach per event type (the expensive exact
    form; see user_reach_approx for the sketch path at scale)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("users"))
        .orderBy("event_type")
    )


def user_reach_approx(spark: SparkSession, sf_dir: str, rsd: float = 0.02) -> DataFrame:
    """HyperLogLog++ distinct-user reach: constant memory per group
    regardless of cardinality — at 100 TB the sketch (1.5KB/group)
    replaces a distinct-shuffle of every user id.

    WHY ROWS-ONLY (structural): the HLL++ estimate is a function of
    the engine's register layout, hash function, and bias-correction
    table — implementation constants no other engine shares, so a
    DuckDB approx_count_distinct returns a DIFFERENT valid estimate
    of the same set. The exact twin (user_reach) carries the hash
    oracle; this key is pinned by the rsd error-band pytest against
    it."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(F.approx_count_distinct("user_id", rsd).alias("users_approx"))
        .orderBy("event_type")
    )


def value_histogram(spark: SparkSession, sf_dir: str, width: float = 25.0) -> DataFrame:
    """Fixed-width value histogram per event type (floor-division
    bucketing — a pure map-side expression, one aggregation shuffle)."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    bucket = F.floor(F.col("value") / width).cast("long")
    return (
        ev.groupBy("event_type", bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("event_type", "bucket")
    )


def lineitem_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT/melt family: wide lineitem measures to long
    (metric, val) rows, then per-metric totals — the reshape that feeds
    metric-agnostic monitoring pipelines.

    Plan shape: the literal unpivot-then-groupBy Expands every fact
    row 3x BEFORE the aggregate (the region_nation_rollup lesson,
    guide §1.2 per-task work) just to route each measure to its group;
    since the groups ARE the three measure columns, one aggregate pass
    computes all three (count, decimal sum) pairs map-side and a
    3-element literal explode reshapes the single result row to the
    long layout. Value-identical: DataFrame unpivot keeps NULL vals,
    so each metric's n is the plain row count, and each total sums the
    identical per-column multiset through the identical
    decimal(14,2) -> sum -> double expression.
    """
    line = load_table(spark, sf_dir, "lineitem")
    totals = line.agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.sum(F.col(c).cast("decimal(14,2)"))
            .cast("double")
            .alias(f"t_{c}")
            for c in ("l_quantity", "l_extendedprice", "l_discount")
        ],
    )
    melted = totals.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("metric"),
                        F.col("n"),
                        F.col(f"t_{c}").alias("total"),
                    )
                    for c in ("l_quantity", "l_extendedprice", "l_discount")
                ]
            )
        ).alias("m")
    )
    return melted.select("m.metric", "m.n", "m.total").orderBy("metric")


def daily_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bucketed rollup of the events stream: per (event_type, day)
    counts and value stats — the hypertable-rollup shape."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.col("event_type"), F.date_trunc("day", F.col("ts")).alias("day")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 3).alias("sum_value"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
        .orderBy("event_type", "day")
    )


def nation_trade_flow(
    spark: SparkSession,
    sf_dir: str,
    nation_a: str = "NATION_1",
    nation_b: str = "NATION_2",
) -> DataFrame:
    """TPC-H Q7 shape: shipped revenue between a nation pair, both
    directions, by supplier nation / customer nation / ship year.

    Scale shape: the nation filter reaches the supplier and customer
    scans BEFORE the fact joins (each dim pre-joined to its filtered
    nation row, so lineitem rows from other nations die at the first
    join and never reach the orders shuffle).
    The one big exchange left is lineitem x orders on orderkey.
    """
    nat = load_table(spark, sf_dir, "nation")
    pair = nat.filter(F.col("n_name").isin([nation_a, nation_b]))
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(
            pair.select(
                "n_nationkey", F.col("n_name").alias("supp_nation")
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "supp_nation")
    )
    cust = (
        load_table(spark, sf_dir, "customer")
        .join(
            pair.select(
                F.col("n_nationkey").alias("cn_key"),
                F.col("n_name").alias("cust_nation"),
            ),
            F.col("c_nationkey") == F.col("cn_key"),
        )
        .select("c_custkey", "cust_nation")
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    line = load_table(spark, sf_dir, "lineitem")
    one = F.lit(1).cast("decimal(3,2)")
    revenue = _dec("l_extendedprice") * (one - _dec("l_discount", "4,2"))
    return (
        line.join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .filter(
            (
                (F.col("supp_nation") == nation_a)
                & (F.col("cust_nation") == nation_b)
            )
            | (
                (F.col("supp_nation") == nation_b)
                & (F.col("cust_nation") == nation_a)
            )
        )
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


def loyal_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational DIVISION: customers with at least one order in EVERY
    year 1995-1997 — the "for all" query shape (division = grouped
    distinct-count equal to the divisor's cardinality; no join per
    divisor row). One orders scan with the year filter pushed down,
    one groupBy on custkey, then a broadcast-eligible join to pick up
    the customer name.
    """
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    qualified = (
        orders.filter(
            (F.col("o_orderdate") >= "1995-01-01 00:00:00")
            & (F.col("o_orderdate") < "1998-01-01 00:00:00")
        )
        .groupBy("o_custkey")
        .agg(
            F.countDistinct(F.year("o_orderdate")).alias("n_years"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .filter(F.col("n_years") == 3)
    )
    return (
        qualified.join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            F.col("c_custkey"), F.col("c_name"),
            F.col("n_orders").cast("long").alias("n_orders"),
        )
        .orderBy("c_custkey")
    )


def nation_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-report: each customer nation's order revenue as a share
    of its region and of the world — windows OVER an aggregate (the
    two denominator sums are partition-total window aggregates on the
    |nations|-sized rollup, so the expensive exchange happens once on
    the fact side and the shares are free). Money in exact cents.
    """
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    per_nation = (
        orders.select("o_custkey", cents.alias("cents"))
        .join(cust.select("c_custkey", "c_nationkey"),
              F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_nationkey")
        .agg(F.sum("cents").alias("cents"))
        .join(nat, F.col("c_nationkey") == F.col("n_nationkey"))
        .join(reg, F.col("n_regionkey") == F.col("r_regionkey"))
        .select(
            F.col("r_name").alias("region"),
            F.col("n_name").alias("nation"),
            "cents",
        )
    )
    w_reg = Window.partitionBy("region")
    w_all = Window.partitionBy()
    return (
        per_nation.select(
            "region",
            "nation",
            F.round(F.col("cents") / 100.0, 3).alias("revenue"),
            F.round(
                F.col("cents").cast("double") / F.sum("cents").over(w_reg), 6
            ).alias("share_region"),
            F.round(
                F.col("cents").cast("double") / F.sum("cents").over(w_all), 6
            ).alias("share_global"),
        )
        .orderBy("region", "nation")
    )


def min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape adapted to this schema (no partsupp table): for
    each part of one type family, the supplier observed offering the
    lowest unit price on lineitem (extendedprice/quantity), supplier
    identity carried through.

    The per-part minimum is a rank-1 window over the SAME key the probe
    would shuffle on (l_partkey), so one exchange serves both the
    "aggregate" and the selection — the decorrelated form of Q2's
    correlated MIN subquery. Supplier and part dims join by size. Unit
    price rounds to 6 decimals BEFORE ranking so the rank-1 row is
    engine-stable; (suppkey) breaks exact ties.
    """
    line = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_type") == "PROMO"
    )
    supp = load_table(spark, sf_dir, "supplier")
    unit = F.round(F.col("l_extendedprice") / F.col("l_quantity"), 6)
    w = Window.partitionBy("l_partkey").orderBy("unit_price", "l_suppkey")
    return (
        line.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .select(
            "l_partkey", "p_name", "l_suppkey", unit.alias("unit_price")
        )
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            F.col("l_partkey").alias("p_partkey"),
            "p_name",
            "s_name",
            F.col("s_acctbal").alias("s_acctbal"),
            "unit_price",
        )
        .orderBy("p_partkey")
    )


def important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape adapted (no partsupp): parts whose total lineitem
    value exceeds a fixed fraction of the corpus-wide total — the
    group-HAVING-vs-global-scalar pattern. Both the per-part sums and
    the global total come off ONE exact cents aggregation: the
    ~|parts|-row rollup is PERSISTED (the top_supplier pattern, r13
    2x-scan sweep — the unpersisted shape re-derived the whole
    scan+aggregate for the 1-row total, contradicting this very
    docstring), so the fact table is scanned and shuffled exactly once.
    """
    from metevents_spark.cache import track

    line = load_table(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    per_part = track(
        line.select("l_partkey", cents.alias("cents"))
        .groupBy("l_partkey")
        .agg(F.sum("cents").alias("cents"))
        .persist()
    )
    # the global total as a 1-row scalar aggregate broadcast onto the
    # rollup — NOT a partition-less window, which would funnel the
    # whole |parts|-sized rollup through a single task at scale
    total = per_part.agg(F.sum("cents").alias("total_cents"))
    return (
        per_part.crossJoin(total)
        .filter(F.col("cents") > F.col("total_cents") / F.lit(2000.0))
        .select(
            F.col("l_partkey").alias("p_partkey"),
            F.round(F.col("cents") / 100.0, 2).alias("part_value"),
            F.round(
                F.col("cents").cast("double") / F.col("total_cents"), 8
            ).alias("value_share"),
        )
        .orderBy(F.col("part_value").desc(), F.col("p_partkey"))
    )


def top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: the supplier(s) whose revenue over one quarter
    equals the maximum supplier revenue (the CREATE VIEW + scalar MAX
    of the original). Revenue is summed in exact cents-decimal so the
    equality against MAX is safe; the max is a partition-total window
    over the ~|suppliers| rollup, not a second scan.
    """
    line = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    one = F.lit(1).cast("decimal(3,2)")
    revenue = _dec("l_extendedprice") * (one - _dec("l_discount", "4,2"))
    lo = F.lit("1996-01-01 00:00:00").cast("timestamp")
    hi = F.lit("1996-04-01 00:00:00").cast("timestamp")
    from metevents_spark.cache import track

    # the |suppliers|-sized rollup is persisted so the scalar-MAX
    # branch and the equality filter read ONE materialization — one
    # lineitem scan, one exchange; a partition-less window would
    # single-task the rollup instead
    per_supp = track(
        line.filter((F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi))
        .groupBy("l_suppkey")
        .agg(F.sum(revenue).alias("total_rev"))
        .persist()
    )
    max_rev = per_supp.agg(F.max("total_rev").alias("max_rev"))
    return (
        per_supp.crossJoin(max_rev)
        .filter(F.col("total_rev") == F.col("max_rev"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            F.col("s_suppkey"),
            "s_name",
            F.col("total_rev").cast("double").alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


def large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18: customers with any order whose total quantity exceeds
    300. The qualifying-order set is a groupBy-HAVING on the fact table
    projected to (orderkey, qty) — only keys and one long shuffle — and
    the detail join back to orders/customer happens on the tiny
    qualified set (AQE broadcasts it).
    """
    line = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    big = (
        line.groupBy("l_orderkey")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
        .filter(F.col("sum_qty") > 300.0)
    )
    return (
        orders.join(big, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_custkey", "c_name", "o_orderkey", "o_orderdate",
            "o_totalprice", "sum_qty",
        )
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
    )


def sole_return_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape adapted to this schema (no receipt/commit dates;
    l_returnflag = 'R' stands in for "failed delivery"): suppliers who
    were the ONLY supplier with returned lines on a finished ('F')
    multi-supplier order, counted per supplier.

    The original's EXISTS / NOT EXISTS pair collapses into one
    aggregation: per order, distinct suppliers and distinct returning
    suppliers — then orders with >= 2 suppliers but exactly 1 returner
    attribute that returner. One shuffle on orderkey, one on suppkey;
    the orders status filter is a broadcast semi-join reduced to keys.
    """
    line = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    )
    supp = load_table(spark, sf_dir, "supplier")
    per_order = (
        line.join(
            orders.select("o_orderkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
            "left_semi",
        )
        .groupBy("l_orderkey")
        .agg(
            F.countDistinct("l_suppkey").alias("n_supp"),
            F.countDistinct(
                F.when(F.col("l_returnflag") == "R", F.col("l_suppkey"))
            ).alias("n_ret"),
            F.min(
                F.when(F.col("l_returnflag") == "R", F.col("l_suppkey"))
            ).alias("ret_suppkey"),
        )
        .filter((F.col("n_supp") >= 2) & (F.col("n_ret") == 1))
    )
    return (
        per_order.groupBy("ret_suppkey")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .join(supp, F.col("ret_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "numwait")
        .orderBy(F.col("numwait").desc(), "s_suppkey")
    )


def rich_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape adapted: customers with an account balance above
    the positive-balance average who placed NO order since 2000-01-01,
    grouped by nation. Scalar-subquery average (broadcast onto the
    scan) + anti join on pre-filtered order keys + tiny rollup — the
    expensive side never carries more than (custkey).
    """
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01 00:00:00").cast("timestamp")
    )
    avg_bal = cust.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("_avg_bal")
    )
    return (
        cust.crossJoin(avg_bal)
        .filter(F.col("c_acctbal") > F.col("_avg_bal"))
        .join(
            orders.select("o_custkey"),
            F.col("c_custkey") == F.col("o_custkey"),
            "left_anti",
        )
        .join(nat, F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_custs"),
            F.round(F.sum("c_acctbal"), 2).alias("total_acctbal"),
        )
        .orderBy("n_name")
    )


def discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: revenue gain from lineitems in a discount band
    for one ship year, below a quantity cap. The simplest possible
    plan — scan → filter → single partial+final aggregate, zero joins;
    every predicate (date range, discount band, quantity) pushes down
    to the parquet scan, so at 100 TB only matching row groups are
    read. DECIMAL product keeps the sum order-independent."""
    line = load_table(spark, sf_dir, "lineitem")
    return (
        line.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(
                F.sum(_dec("l_extendedprice") * _dec("l_discount", "4,2"))
                .cast("double"),
                3,
            ).alias("revenue")
        )
    )


def returned_item_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top-20 customers by revenue lost to returned
    items ('R' returnflag) for orders placed in one quarter. Orders is
    date-filtered before the lineitem join (filter pushdown shrinks the
    build side); the top-20 side and nation broadcast; the heavy
    lineitem⋈orders join shuffles on orderkey only. Deterministic
    top-20 via (revenue DESC, custkey) tie-break."""
    line = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
    )
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    top20 = (
        line.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_custkey")
        .agg(
            F.sum(
                _dec("l_extendedprice")
                * (F.lit(1).cast("decimal(12,2)") - _dec("l_discount", "4,2"))
            )
            .cast("double")
            .alias("_rev")
        )
        # take the top-20 BEFORE the customer join: the 20-row side then
        # broadcasts into the customer scan instead of the whole customer
        # table being carried to the aggregate (customer is NOT small at
        # 100 TB). Deterministic under ties via the custkey tie-break.
        .orderBy(F.col("_rev").desc(), "o_custkey")
        .limit(20)
    )
    return (
        cust.join(top20, F.col("c_custkey") == F.col("o_custkey"))
        .join(nat, F.col("c_nationkey") == F.col("n_nationkey"))
        .select(
            "c_custkey",
            "c_name",
            "n_name",
            F.round("_rev", 3).alias("revenue"),
            F.round("c_acctbal", 2).alias("c_acctbal"),
        )
        .orderBy(F.col("revenue").desc(), "c_custkey")
    )


def customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: how many customers placed exactly k non-urgent
    orders, including the zero-order bucket (left join keeps orderless
    customers). Two hash aggregates; the second groups on the tiny
    c_count domain so it collapses to near-nothing after the partial
    aggregate — scale cost is one shuffle of (custkey, count) pairs."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        cust.join(
            orders.select("o_custkey", "o_orderkey"),
            F.col("c_custkey") == F.col("o_custkey"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


def promo_revenue_pct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: percentage of one month's revenue that came
    from PROMO-type parts. Part joins the date-pruned lineitem scan;
    conditional aggregation computes both numerator and denominator
    in ONE pass (no second scan, no self-join)."""
    line = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
    )
    part = load_table(spark, sf_dir, "part")
    disc_price = _dec("l_extendedprice") * (
        F.lit(1).cast("decimal(12,2)") - _dec("l_discount", "4,2")
    )
    return (
        line.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.round(
                (
                    F.lit(100.0)
                    * F.sum(
                        F.when(F.col("p_type") == "PROMO", disc_price).otherwise(
                            F.lit(0).cast("decimal(18,4)")
                        )
                    ).cast("double")
                    / F.sum(disc_price).cast("double")
                ),
                4,
            ).alias("promo_pct")
        )
    )


def disjunctive_part_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: revenue from three OR'd (brand, quantity-band,
    size-band) predicates. The join stays a plain equijoin on partkey;
    the disjunction is a post-join filter Catalyst can still partially
    push (the common partkey equality carries the join, the
    OR'd residual evaluates in codegen). The classic trap — turning the
    OR into a union of three joins that scans lineitem three times —
    is exactly what this formulation avoids."""
    line = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    joined = line.join(part, F.col("l_partkey") == F.col("p_partkey"))
    cond = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("l_quantity").between(1, 11)
            & F.col("p_size").between(1, 5)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("l_quantity").between(10, 20)
            & F.col("p_size").between(1, 10)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & F.col("l_quantity").between(20, 30)
            & F.col("p_size").between(1, 15)
        )
    )
    return joined.filter(cond).agg(
        F.round(
            F.sum(
                _dec("l_extendedprice")
                * (F.lit(1).cast("decimal(12,2)") - _dec("l_discount", "4,2"))
            ).cast("double"),
            3,
        ).alias("revenue")
    )


def heavy_shippers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape adapted (no partsupp table): suppliers who moved
    more than 50 units of any single 'large*'-named part during 1996.
    The inner aggregate groups on (suppkey, partkey) — the natural
    shuffle key — then a LEFT SEMI join reduces supplier; the semi join
    keeps only the 4-byte keys flowing, and the part filter joins the
    lineitem scan before the aggregate."""
    line = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").startswith("large")
    )
    supp = load_table(spark, sf_dir, "supplier")
    movers = (
        line.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 50)
        .select("l_suppkey")
    )
    return (
        supp.join(movers, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


def nation_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: a supplier nation's market share of one part
    type sold to customers of one region, by order year.

    Scale shape: all three dimension chains (part filtered by type,
    customer -> nation -> region filtered to the region, supplier ->
    nation carrying the supplier-nation name) are the small join sides,
    so the only big exchange is lineitem x orders on orderkey — and the
    part semi join kills most lineitem rows before that shuffle. The
    share is a conditional sum over the SAME aggregate pass (one
    scan), not a self-join of two aggregates. Money in exact 1e-4
    dollar LONG units (see pricing_summary for the overflow bound).
    """
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nat = load_table(spark, sf_dir, "nation")
    cust_nat = nat.join(region, F.col("n_regionkey") == F.col("r_regionkey")).select(
        F.col("n_nationkey").alias("cn_key")
    )
    cust = (
        load_table(spark, sf_dir, "customer")
        .join(
            cust_nat,
            F.col("c_nationkey") == F.col("cn_key"),
            "left_semi",
        )
        .select("c_custkey")
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(
            nat.select(
                "n_nationkey", F.col("n_name").alias("supp_nation")
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "supp_nation")
    )
    part = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1995-01-01 00:00:00")
        & (F.col("o_orderdate") < "1997-01-01 00:00:00")
    )
    line = load_table(spark, sf_dir, "lineitem")
    price = F.round(F.col("l_extendedprice") * 100).cast("long")
    disc = F.round(F.col("l_discount") * 100).cast("long")
    volume = price * (100 - disc)  # 1e-4 dollar units, exact LONG
    target = F.when(F.col("supp_nation") == "NATION_3", volume).otherwise(F.lit(0))
    return (
        line.join(
            part.select("p_partkey"),
            F.col("l_partkey") == F.col("p_partkey"),
            "left_semi",
        )
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            orders.select("o_orderkey", "o_custkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(cust, F.col("o_custkey") == F.col("c_custkey"), "left_semi")
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            F.round(F.sum(target) / 1.0e4, 3).alias("target_volume"),
            F.round(F.sum(volume) / 1.0e4, 3).alias("total_volume"),
            F.round((F.sum(target) / F.sum(volume)).cast("double"), 6)
            .alias("mkt_share"),
        )
        .orderBy("o_year")
    )


def product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape adapted to this schema (no partsupp, so the cost
    side of profit uses the part's retail price at a fixed 50% cost
    ratio instead of ps_supplycost): profit on 'blue' parts by
    supplier nation and order year.

    profit = l_extendedprice*(1-l_discount) - 0.5*p_retailprice*l_quantity

    Scale shape: the name-filtered part side (with its retail price)
    and the supplier->nation chain are the small join sides; lineitem x
    orders on orderkey is the one big exchange. Profit accumulates in exact
    1e-4 dollar LONG units: price(1e-2)*(100-disc) and
    retail(1e-2)*qty(int)*50 are both 1e-4-unit integers, so the
    subtraction stays exact inside whole-stage codegen.
    """
    nat = load_table(spark, sf_dir, "nation")
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(
            nat.select("n_nationkey", F.col("n_name").alias("nation")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "nation")
    )
    part = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").contains("blue"))
        .select("p_partkey", "p_retailprice")
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    line = load_table(spark, sf_dir, "lineitem")
    price = F.round(F.col("l_extendedprice") * 100).cast("long")
    disc = F.round(F.col("l_discount") * 100).cast("long")
    retail = F.round(F.col("p_retailprice") * 100).cast("long")
    qty = F.round(F.col("l_quantity")).cast("long")
    profit = price * (100 - disc) - retail * qty * 50  # 1e-4 dollar units
    return (
        line.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("nation", F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(F.round(F.sum(profit) / 1.0e4, 3).alias("sum_profit"))
        .orderBy("nation", "o_year")
    )


def part_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape adapted to this schema (no partsupp: supplier-
    part relationships come from lineitem): how many distinct
    suppliers can supply each surviving (brand, type, size) part
    class, excluding one brand, one type, a size list, and suppliers
    below an account-balance floor (the complaints-exclusion analog).

    Scale shape: both dimension filters (part attributes, supplier
    exclusion) join the lineitem scan — the part filter as a hash join
    carrying the grouping attributes, the supplier exclusion as a LEFT
    SEMI on the kept keys — so
    excluded rows die before the one aggregation exchange. The
    countDistinct expands (brand,type,size,supplier) once; both that
    and the final rollup shuffle only small grouped keys.
    """
    sizes = [1, 4, 9, 14, 19, 24, 29, 34, 39, 44, 49]
    part = (
        load_table(spark, sf_dir, "part")
        .filter(
            (F.col("p_brand") != "Brand#5")
            & (F.col("p_type") != "PROMO")
            & F.col("p_size").isin(sizes)
        )
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    supp_ok = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") >= 1000.0)
        .select("s_suppkey")
    )
    line = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey"
    )
    return (
        line.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .join(
            supp_ok,
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_semi",
        )
        .groupBy("p_brand", "p_type", F.col("p_size").cast("long").alias("p_size"))
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(
            F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size"
        )
    )


def dominant_part_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20's CORRELATED ratio predicate (``availqty > 0.5 *
    sum(l_quantity)``), re-expressed on this schema (no partsupp):
    suppliers who shipped MORE THAN HALF of a contested part's total
    1995 volume — per supplier, how many parts they dominate. The
    companion ``heavy_shippers`` keeps Q20's semi-join chain but
    flattens the predicate to a constant threshold; this query keeps
    the part-correlated comparison, the piece that makes Q20 Q20.

    Scale shape: lineitem collapses FIRST on (partkey, suppkey) — the
    one fact-sized exchange, map-side combinable. Part totals and the
    contested-part count come from a WINDOW over partkey on that
    collapsed table — one more (part,supp)-sized exchange and zero
    joins, instead of the aggregate-and-rejoin that would scan the
    fact side twice. Quantities are integers carried in doubles, so
    the 0.5x comparison is exact — no epsilon at the predicate
    boundary.
    """
    line = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-01-01 00:00:00").cast("timestamp"))
    )
    supp = load_table(spark, sf_dir, "supplier")
    ps = line.groupBy("l_partkey", "l_suppkey").agg(
        F.sum("l_quantity").alias("qty")
    )
    wp = Window.partitionBy("l_partkey")
    dominant = (
        ps.withColumn("part_qty", F.sum("qty").over(wp))
        .withColumn("n_suppliers", F.count(F.lit(1)).over(wp))
        .filter(
            (F.col("n_suppliers") >= 2)
            & (F.col("qty") > 0.5 * F.col("part_qty"))
        )
        .groupBy("l_suppkey")
        .agg(
            F.count(F.lit(1)).alias("n_dominant_parts"),
            F.sum("qty").cast("double").alias("dominated_qty"),
        )
    )
    return (
        dominant.join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "s_suppkey", "s_name", "n_dominant_parts", "dominated_qty"
        )
        .orderBy(F.col("n_dominant_parts").desc(), "s_suppkey")
    )


def nation_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year revenue growth per customer nation — the
    window-over-aggregate report every BI layer runs on the fact
    table: exact DECIMAL revenue per (nation, year), then a LAG window
    over the tiny aggregate computes the growth ratio. Years without a
    predecessor drop (growth undefined).

    Scale shape: the fact join shuffles on orderkey once; the customer
    and nation joins are left to the planner; the LAG window runs on
    |nations| x |years| rows — dimension-sized, never the fact table.
    Revenue sums in exact DECIMAL and only the FINAL ratio is double,
    so the growth numbers are engine-deterministic bit-for-bit after
    rounding.
    """
    line = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    one = F.lit(1).cast("decimal(3,2)")
    revenue = _dec("l_extendedprice") * (one - _dec("l_discount", "4,2"))
    yearly = (
        line.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust.select("c_custkey", "c_nationkey"),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(nat, F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name", F.year("o_orderdate").alias("o_year"))
        .agg(F.sum(revenue).cast("double").alias("revenue"))
    )
    w = Window.partitionBy("n_name").orderBy("o_year")
    prev = F.lag("revenue").over(w)
    return (
        yearly.select(
            "n_name",
            F.col("o_year").cast("long").alias("o_year"),
            F.round("revenue", 3).alias("revenue"),
            F.round((F.col("revenue") - prev) / prev, 6).alias("yoy_growth"),
        )
        .filter(F.col("yoy_growth").isNotNull())
        .orderBy("n_name", "o_year")
    )


def region_nation_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping-sets with grouping_id: supplier-side revenue at
    three hierarchy levels in ONE pass — (region, nation), per-region
    subtotal, grand total — the drill-down report CUBE (events_cube)
    does not cover: ROLLUP's Expand emits only the hierarchy's prefix
    sets (3 here vs CUBE's 4), and ``grouping_id`` labels each row's
    level so consumers need no NULL-sniffing.

    Exact DECIMAL revenue (integer-cents convention), counts exact —
    hash-stable. One Expand + one aggregate; dims join the fact scan.
    The revenue product is PROJECTED BEFORE the rollup
    (r13, guide §1.2 per-task work): ROLLUP's Expand triples every
    fact row, and an expression inside ``agg`` is re-evaluated per
    expanded copy — pre-computing it runs the decimal multiply once
    per source row instead of three times (measured 2.3s -> 1.2s warm
    at sf0.1, rows bit-identical).
    """
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region")
    supp = load_table(spark, sf_dir, "supplier")
    line = load_table(spark, sf_dir, "lineitem")
    one = F.lit(1).cast("decimal(3,2)")
    revenue = _dec("l_extendedprice") * (one - _dec("l_discount", "4,2"))
    return (
        line.join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(nat, F.col("s_nationkey") == F.col("n_nationkey"))
        .join(reg, F.col("n_regionkey") == F.col("r_regionkey"))
        .select("r_name", "n_name", revenue.alias("rev"))
        .rollup("r_name", "n_name")
        .agg(
            F.grouping_id().cast("long").alias("level"),
            F.count(F.lit(1)).alias("n_items"),
            F.sum("rev").cast("double").alias("revenue"),
        )
        .select(
            "r_name",
            "n_name",
            "level",
            "n_items",
            F.round("revenue", 2).alias("revenue"),
        )
        .orderBy("level", "r_name", "n_name")
    )


def region_nations_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation: each region's nations as one sorted
    CSV cell — the LISTAGG/STRING_AGG surface (report/export sinks).
    Determinism comes from ``array_sort`` before the join, never from
    collect order; the per-region arrays are dimension-sized, so the
    collect_list is bounded by construction.
    """
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region")
    return (
        nat.join(reg, F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_nations"),
            F.array_join(
                F.array_sort(F.collect_list("n_name")), ","
            ).alias("nations_csv"),
        )
        .orderBy("r_name")
    )


def revenue_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation Gini coefficient of customer order revenue — the
    inequality / concentration readout behind "how skewed is our
    revenue (or training-data source) distribution", the Lorenz-curve
    counterpart of ``pareto_parts``' top-heavy cumulative share.

    Exact-arithmetic construction: customer revenue folds as exact
    BIGINT cents; within each nation customers rank by (cents,
    custkey) and Gini = (2·Σi·xᵢ − (n+1)·Σx) / (n·Σx) evaluates from
    three exact integer sums in one identical float expression on both
    engines (ties contribute the same Σi·xᵢ under any tie order, so
    the tie-break is cosmetic). No order-dependent float fold
    anywhere.

    Plan: one groupBy(custkey) exchange on the fact side, a join to
    customer→nation, one nation-partitioned rank window over the
    |customers|-sized frame, one final nation-sized aggregate. At
    100 TB the rank window partitions by nation (bounded cardinality
    ~25) — the documented swap-in is pre-bucketing customers by nation
    or ranking on a per-nation quantile sketch when a single nation's
    customer set exceeds a partition.
    """
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    rev = (
        orders.select("o_custkey", cents.alias("cents"))
        .groupBy("o_custkey")
        .agg(F.sum("cents").alias("cents"))
        .join(
            cust.select("c_custkey", "c_nationkey"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(nat, F.col("c_nationkey") == F.col("n_nationkey"))
        .select(F.col("n_name").alias("nation"), "c_custkey", "cents")
    )
    w = Window.partitionBy("nation").orderBy("cents", "c_custkey")
    ranked = rev.select(
        "nation", "cents", F.row_number().over(w).cast("long").alias("i")
    )
    agg = ranked.groupBy("nation").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("cents").alias("tot"),
        F.sum(F.col("i") * F.col("cents")).alias("icents"),
    )
    n, tot, icents = F.col("n_customers"), F.col("tot"), F.col("icents")
    gini = (
        F.lit(2.0) * icents.cast("double")
        - (n + F.lit(1)).cast("double") * tot.cast("double")
    ) / (n.cast("double") * tot.cast("double"))
    return agg.select(
        "nation",
        "n_customers",
        F.round(tot.cast("double") / F.lit(100.0), 2).alias("revenue"),
        F.round(gini, 6).alias("gini"),
    ).orderBy("nation")


def ship_delay_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship latency distribution per order priority: exact
    p50/p90/p99 of the lineitem ship delay (days after the order
    date), plus mean and line count — the fulfillment-SLA readout
    (does priority actually buy faster shipping?), and the engine's
    cross-table latency-quantile family member (conversion_lag is
    per-user event latency; this is fact-to-fact).

    Determinism: the delay is an exact integer microsecond difference
    scaled to fractional days by ONE division; grouped percentiles use
    the shared continuous interpolation over identical doubles; the
    mean folds in exact integer micros first (SUM BIGINT) and divides
    once. One broadcast-joined fact scan, one |priorities|-sized
    aggregate — map-side-combining all the way.
    """
    line = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority"
    )
    day_us = 86_400_000_000
    delay_us = epoch_us(F.col("l_shipdate")) - epoch_us(F.col("o_orderdate"))
    j = line.join(
        orders, F.col("l_orderkey") == F.col("o_orderkey")
    ).select(
        F.col("o_orderpriority").alias("priority"),
        delay_us.alias("delay_us"),
        (delay_us.cast("double") / F.lit(float(day_us))).alias("delay_days"),
    )
    pct = F.percentile(
        "delay_days", F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99))
    )
    return (
        j.groupBy("priority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(
                F.sum("delay_us").cast("double")
                / F.count(F.lit(1)).cast("double")
                / F.lit(float(day_us)),
                6,
            ).alias("mean_days"),
            F.round(F.element_at(pct, 1), 6).alias("p50_days"),
            F.round(F.element_at(pct, 2), 6).alias("p90_days"),
            F.round(F.element_at(pct, 3), 6).alias("p99_days"),
        )
        .orderBy("priority")
    )
