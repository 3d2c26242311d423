"""K-minimum-values (KMV) distinct-count sketch with an EXACT replay.

HLL (user_reach_approx, rolling_reach_hll) is the production sketch
but its estimate is implementation-defined — only error-bound
checkable. KMV's estimator is a pure function of the k smallest
DISTINCT hash values: est = (k-1) / u_k where u_k is the k-th smallest
hash mapped to (0, 1]. With an md5-derived hash both engines compute
the identical estimate, so the sketch itself is oracle-checkable —
the published Bar-Yossef et al. / DataSketches theta-sketch family's
simplest member.

It is also the home of the engine's 60-bit md5 hash grid, :func:`h60`:
samplers, sketches, bootstrap weights and MinHash/SimHash token hashes
all parse their md5 hex through it (lint rule HG1 keeps other copies
out of the package).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from metevents_spark.io import load_table
from metevents_spark.operators.grouped import columns_frame

TWO60 = 2.0**60  # the range of h60 (exactly representable)


def h60(hex_digest: Column | str) -> Column:
    """The 60-bit hash grid: the first 15 hex digits of an md5 digest
    parsed as a BIGINT in [0, 2^60), the same number as DuckDB's
    ``('0x' || substr(md5(s), 1, 15))::BIGINT`` and Python's
    ``int(md5(s).hexdigest()[:15], 16)``, so every engine replays a
    hash-derived sample or sketch exactly."""
    return F.conv(F.substring(hex_digest, 1, 15), 16, 10).cast("long")


def h60_sql(hex_sql: str) -> str:
    """:func:`h60` as Spark SQL text, for an expression built as one
    SQL string."""
    return f"CAST(conv(substring({hex_sql}, 1, 15), 16, 10) AS BIGINT)"


def _kmv_candidates(hashed: DataFrame, k: int) -> DataFrame:
    """Map-side combine for the sketch: per partition, a fold over its
    Arrow batches keeps the k smallest DISTINCT hashes per day. Output
    is (partitions x days x k) rows — the global merge then works on a
    frame that no longer scales with the corpus. This is exactly how a
    sketch aggregate's partial/merge split works; the builtin
    approx_count_distinct does the same dance with HLL registers.
    """
    schema = "day timestamp_ntz, hs array<long>"
    fields = StructType.fromDDL(schema).fields

    def partials(batches):
        best: dict = {}  # day -> np.ndarray of k smallest distinct
        for pdf in batches:
            for day, grp in pdf.groupby("day"):
                h = grp["h"].to_numpy(dtype=np.int64)
                prev = best.get(day)
                allh = h if prev is None else np.concatenate([prev, h])
                best[day] = np.unique(allh)[:k]  # sorted distinct, head k
        if best:
            yield columns_frame(fields, [(list(best), list(best.values()))])

    return hashed.mapInPandas(partials, schema)


def user_reach_kmv(
    spark: SparkSession, sf_dir: str, k: int = 64
) -> DataFrame:
    """Daily distinct-user reach, exact AND KMV-estimated, with the
    relative error — the sketch-accuracy report for the reach family.

    est = (k-1) * 2^60 / (h_k + 1) when the day has >= k distinct
    users (h_k = k-th smallest 60-bit hash), else the exact candidate
    count (KMV degenerates to exact below k). Every term is an exact
    integer until one final float expression, so the DuckDB oracle
    matches bit-for-bit.
    """
    ev = load_table(spark, sf_dir, "events").select(
        F.date_trunc("day", "ts").alias("day"),
        h60(F.md5(F.col("user_id").cast("string"))).alias("h"),
    )
    cand = (
        _kmv_candidates(ev, k)
        .select("day", F.explode("hs").alias("h"))
        .distinct()
    )
    w = Window.partitionBy("day").orderBy("h")
    ranked = cand.select(
        "day",
        "h",
        F.row_number().over(w).alias("rk"),
        F.count(F.lit(1)).over(Window.partitionBy("day")).alias("n_cand"),
    )
    kth = ranked.filter(
        (F.col("rk") == k) | ((F.col("n_cand") < k) & (F.col("rk") == 1))
    ).select("day", "h", "n_cand")

    exact = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(F.countDistinct("user_id").alias("n_exact"))
    )
    est = F.when(
        F.col("n_cand") >= k,
        F.lit(float(k - 1))
        * F.lit(TWO60)
        / (F.col("h") + F.lit(1)).cast("double"),
    ).otherwise(F.col("n_cand").cast("double"))
    return (
        exact.join(kth, "day")
        .select(
            "day",
            "n_exact",
            F.round(est, 4).alias("kmv_est"),
            F.round(
                F.abs(est - F.col("n_exact").cast("double"))
                / F.col("n_exact").cast("double"),
                4,
            ).alias("rel_err"),
        )
        .orderBy("day")
    )
