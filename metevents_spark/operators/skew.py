"""Skew mitigation: salted join for pathological hot keys.

AQE's skew-join handles moderate skew by splitting oversized
sort-merge partitions; for extreme hot keys (one key = 30% of a 100 TB
fact table) the standard remedy is salting: spread the hot key's rows
over ``n_salts`` sub-partitions and replicate the build side once per
salt. Result sets are identical to the plain join; only the shuffle
layout changes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SALT = "_salt"


def salted_join(
    probe: DataFrame,
    build: DataFrame,
    on: list[str],
    n_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Join ``probe`` (large, possibly skewed) to ``build`` (smaller)
    on the given keys, spreading each probe key over ``n_salts``
    shuffle partitions. The build side is replicated once per salt
    value (explode of a literal range — cheap, no extra scan).

    Only probe-preserving join types are supported: the build side is
    replicated ``n_salts`` times, so ``right``/``full`` (and
    build-side semi/anti) would surface each unmatched build row once
    per salt — silently wrong. Guarded with a ``ValueError``.
    """
    if how not in ("inner", "left", "left_outer", "leftouter",
                   "left_semi", "leftsemi", "left_anti", "leftanti"):
        raise ValueError(
            f"salted_join supports probe-preserving joins only "
            f"(inner/left/left_semi/left_anti), got how={how!r}: the "
            f"replicated build side would emit unmatched build rows "
            f"once per salt"
        )
    if SALT in probe.columns or SALT in build.columns:
        raise ValueError(f"column {SALT!r} already present")
    salts = F.array(*[F.lit(i).cast("int") for i in range(n_salts)])
    probe_s = probe.withColumn(
        SALT,
        F.pmod(F.xxhash64(*[F.col(c) for c in probe.columns]), F.lit(n_salts))
        .cast("int"),
    )
    build_s = build.withColumn(SALT, F.explode(salts))
    return probe_s.join(build_s, on + [SALT], how).drop(SALT)


def events_above_type_avg(spark, sf_dir: str, n_salts: int = 8):
    """Per-user count of events whose value exceeds their event-type's
    corpus average — the canonical hot-key join: ``event_type`` has a
    handful of distinct values over the whole stream (5 keys at any
    sf), so the plain shuffle join puts ~1/|types| of a 100 TB fact
    table in ONE reducer. This query routes it through
    :func:`salted_join`, spreading every type over ``n_salts``
    sub-partitions; results are provably identical to the plain join
    (the DuckDB oracle IS the plain join).

    Engine-exact: values quantize to integer micro-units and the
    "above average" comparison cross-multiplies (value_us * n_type >
    sum_us_type) — exact integers, no float division anywhere; the
    aggregate outputs are counts.

    Scale shape: the build side is a |types|-row aggregate (map-side
    collapsed groupBy); the salted join then shuffles the fact side
    over |types| x n_salts keys instead of |types|; the final
    per-user count is one more map-side-collapsing groupBy.
    """
    from metevents_spark.io import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.expr("CAST(ROUND(value * 1e6) AS BIGINT)").alias("value_us"),
    )
    type_stats = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_type"),
        F.sum("value_us").alias("sum_us"),
    )
    joined = salted_join(ev, type_stats, ["event_type"], n_salts=n_salts)
    return (
        joined.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                F.when(
                    F.col("value_us") * F.col("n_type") > F.col("sum_us"), 1
                ).otherwise(0)
            ).alias("n_above_type_avg"),
        )
        .orderBy("user_id")
    )


def skew_join_compare(spark, sf_dir: str, n_salts: int = 8):
    """Salt-vs-plain equivalence meter: the same deliberately skewed
    hot-key join run BOTH ways inside one query, aggregated to a
    2-row readout — the committed evidence that ``salted_join``
    returns exactly the plain join's rows (its whole contract), the
    way ``dedup_recall_report`` meters the near-dup tier.

    The skew is CONSTRUCTED (the testdata's keys are near-uniform):
    ~30% of event rows collapse onto hot key 0 (``user_id % 10 < 3``),
    the canonical one-key-owns-a-third-of-the-table shape that melts a
    reducer at 100 TB. Both paths join the fact side to the per-key
    aggregate and count rows above the key's average (exact integer
    cross-multiply); the output groups by hot/cold key class and
    carries BOTH paths' counts side by side — the DuckDB oracle
    computes the truth once and emits it for both columns, so either
    path diverging turns the driver row red.

    Scale notes: the plain path here resolves to whatever AQE picks
    (broadcast at this dimension size); the AQE skew-split-vs-salting
    TIMING comparison needs join sides big enough for map-output
    statistics to register and lives in tools/skew_timing.py +
    tests/test_round11_ops.py::test_aqe_skew_join_engages (the
    committed table is in SURVEY.md §8).
    """
    from metevents_spark.io import load_table

    ev = (
        load_table(spark, sf_dir, "events")
        .select(
            "user_id",
            F.expr("CAST(ROUND(value * 1e6) AS BIGINT)").alias("value_us"),
        )
        .withColumn(
            "skew_key",
            F.when(F.col("user_id") % 10 < 3, F.lit(0))
            .otherwise(F.col("user_id"))
            .cast("long"),
        )
    )
    build = ev.groupBy("skew_key").agg(
        F.count(F.lit(1)).alias("n_k"), F.sum("value_us").alias("sum_us")
    )

    def readout(joined, suffix: str):
        above = F.when(
            F.col("value_us") * F.col("n_k") > F.col("sum_us"), 1
        ).otherwise(0)
        return joined.groupBy(
            F.when(F.col("skew_key") == 0, F.lit("hot"))
            .otherwise(F.lit("cold"))
            .alias("key_class")
        ).agg(
            F.count(F.lit(1)).alias(f"n_rows_{suffix}"),
            F.sum(above).alias(f"n_above_{suffix}"),
        )

    plain = readout(ev.join(build, "skew_key"), "plain")
    salted = readout(
        salted_join(ev, build, ["skew_key"], n_salts=n_salts), "salted"
    )
    return (
        plain.join(salted, "key_class")
        .select(
            "key_class",
            "n_rows_plain",
            "n_rows_salted",
            "n_above_plain",
            "n_above_salted",
            (
                (F.col("n_rows_plain") == F.col("n_rows_salted"))
                & (F.col("n_above_plain") == F.col("n_above_salted"))
            )
            .cast("long")
            .alias("paths_agree"),
        )
        .orderBy("key_class")
    )


def key_skew_report(
    spark, sf_dir: str, key: str = "l_partkey", top: int = 20
):
    """Join-key skew diagnostics: the top-``top`` heaviest keys of the
    fact table with their row share, cumulative share, and
    multiple-of-mean factor — the report you run BEFORE a big join to
    decide whether AQE's skew split suffices or a key needs
    ``salted_join``. A key at 30%% of a 100 TB table shows up here as
    share ~0.3 and a four-digit x_mean.

    Scale shape: ONE groupBy(key) whose partial aggregation collapses
    map-side (the exchange carries |keys| rows, not |rows|); the
    1-row totals frame broadcasts; ranking is a TakeOrdered over the
    key-count frame; the cumulative share is a window over ``top``
    rows on the driver-bound result. Exact integer counts — only the
    final shares are floats, with a fixed expression tree. The
    |keys|-row count frame is PERSISTED: it feeds both the totals
    aggregate and the top-k ranking, and unpersisted each consumer
    re-ran the whole fact scan+aggregate (r13 2x-scan sweep).
    """
    from pyspark.sql import Window

    from metevents_spark.cache import track
    from metevents_spark.io import load_table

    counts = track(
        load_table(spark, sf_dir, "lineitem")
        .groupBy(key)
        .agg(F.count(F.lit(1)).alias("cnt"))
        .persist()
    )
    totals = counts.groupBy().agg(
        F.sum("cnt").alias("n_rows"), F.count(F.lit(1)).alias("n_keys")
    )
    topk = (
        counts.orderBy(F.desc("cnt"), key)
        .limit(top)
        .crossJoin(totals)
    )
    w = Window.orderBy(F.desc("cnt"), key).rowsBetween(
        Window.unboundedPreceding, 0
    )
    d = lambda c: F.col(c).cast("double")
    return topk.select(
        F.row_number()
        .over(Window.orderBy(F.desc("cnt"), key))
        .cast("long")
        .alias("rank"),
        F.col(key).alias("key"),
        "cnt",
        F.round(d("cnt") / d("n_rows"), 6).alias("share"),
        F.round(F.sum(d("cnt")).over(w) / d("n_rows"), 6).alias("cum_share"),
        F.round(d("cnt") * d("n_keys") / d("n_rows"), 4).alias("x_mean"),
    ).orderBy("rank")
