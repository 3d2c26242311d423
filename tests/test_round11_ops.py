"""Round-11 operators: the sampled pair-estimator scale path
(theilsen_trend_sampled / kendall_trend_sampled — deterministic md5
point subsample before the co-located pair join) and the bucketed
Mann-Whitney rank approximation (mann_whitney_u_bucketed — histogram
midranks; the only sort touches the (grp, bucket) aggregate).

Cross-engine value parity is pinned by the ORACLE_SQL entries (driver +
tests/test_oracle_parity.py); these tests pin the SCALE claims — bounded
pair counts on a long series, estimator accuracy against known ground
truth, and the no-sample-sort plan shape.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from tests.conftest import SF_SMALL


def _write_long_series(tmp_path, n=3000, slope_per_hour=0.5):
    """One user, hourly cadence, linear trend + deterministic LCG noise
    in (-0.5, 0.5) — true slope known exactly."""
    x, noise = 12345, []
    for _ in range(n):
        x = (x * 6364136223846793005 + 1442695040888963407) % (1 << 64)
        noise.append((x >> 11) / float(1 << 53) - 0.5)
    df = pd.DataFrame(
        {
            "event_id": np.arange(n, dtype="int64"),
            "ts": pd.date_range("2024-01-01", periods=n, freq="h"),
            "user_id": np.full(n, 7, dtype="int64"),
            "event_type": ["view"] * n,
            "value": slope_per_hour * np.arange(n, dtype="float64")
            + np.asarray(noise),
        }
    )
    t = pa.Table.from_pandas(df)
    t = t.set_column(
        t.schema.get_field_index("ts"), "ts", t["ts"].cast(pa.timestamp("us"))
    )
    pq.write_table(t, tmp_path / "events.parquet")


def test_theilsen_sampled_bounds_pairs_on_long_series(spark, tmp_path):
    """THE scale claim: a 3000-point series under cap 64 yields
    ~C(64,2) pairs, not C(3000,2) = 4.5M — and the subsampled estimator
    still recovers the true slope."""
    from metevents_spark.operators.rankstats import theilsen_trend_sampled

    _write_long_series(tmp_path)
    got = theilsen_trend_sampled(
        spark, str(tmp_path), max_points_per_series=64
    ).collect()
    assert len(got) == 1
    row = got[0]
    # kept ~ Binomial(3000, 64/3000): pairs land well inside [500, 6000]
    # (exact enumeration would be 4_498_500)
    assert 500 <= row["n_pairs"] <= 6000, row
    assert abs(row["theil_slope_per_hour"] - 0.5) < 0.01, row


def test_kendall_sampled_long_monotonic_series(spark, tmp_path):
    """Same bounded-pair contract for tau; the trend dominates the
    noise for any index gap >= 2, so tau on the subsample is ~1."""
    from metevents_spark.operators.rankstats import kendall_trend_sampled

    _write_long_series(tmp_path)
    got = kendall_trend_sampled(
        spark, str(tmp_path), max_points_per_series=64
    ).collect()
    assert len(got) == 1
    row = got[0]
    assert 500 <= row["n_pairs"] <= 6000, row
    assert row["concordant"] + row["discordant"] <= row["n_pairs"]
    assert row["kendall_tau"] > 0.95, row


@pytest.mark.parametrize("estimator", ["theilsen", "kendall"])
def test_sampled_is_identity_below_cap(spark, tmp_path, estimator):
    """The length gate: a series at or under the cap keeps EVERY point
    (p >= 1 clears the 60-bit hash range), so sampled == exact, and
    at the cap itself too."""
    from metevents_spark.operators import rankstats

    exact_fn = getattr(rankstats, f"{estimator}_trend")
    sampled_fn = getattr(rankstats, f"{estimator}_trend_sampled")
    _write_long_series(tmp_path, n=40)
    exact = exact_fn(spark, str(tmp_path)).collect()
    for cap in (40, 48):
        sampled = sampled_fn(
            spark, str(tmp_path), max_points_per_series=cap
        ).collect()
        assert exact == sampled, cap
    assert exact[0]["n_pairs"] == 40 * 39 // 2


def test_mann_whitney_bucketed_tracks_exact(spark):
    """Differential accuracy pin: 256 fixed-width buckets keep the
    approximate z within 0.08 of the exact tie-corrected z on every
    pair-group (measured gaps at sf0.001/sf0.01: <= 0.032)."""
    from metevents_spark.operators.rankstats import (
        mann_whitney_u,
        mann_whitney_u_bucketed,
    )

    exact = {r["grp"]: r for r in mann_whitney_u(spark, SF_SMALL).collect()}
    approx = {
        r["grp"]: r for r in mann_whitney_u_bucketed(spark, SF_SMALL).collect()
    }
    assert set(exact) == set(approx) and exact
    for g, e in exact.items():
        a = approx[g]
        assert (a["n_a"], a["n_b"]) == (e["n_a"], e["n_b"])
        assert abs(a["z"] - e["z"]) <= 0.08, (g, e["z"], a["z"])


def test_mann_whitney_bucketed_never_sorts_samples(spark):
    """Plan contract (the reason the variant exists): the exact kernel
    rank-window-sorts every sample by value per grp; the bucketed plan
    must contain NO sort on value anywhere — its only window sort keys
    are (grp, bkt) over the |grps|*n_buckets aggregate."""
    from metevents_spark.operators.rankstats import (
        mann_whitney_u,
        mann_whitney_u_bucketed,
    )

    exact_plan = (
        mann_whitney_u(spark, SF_SMALL)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    approx_plan = (
        mann_whitney_u_bucketed(spark, SF_SMALL)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert re.search(r"Sort \[[^\]]*value", exact_plan), exact_plan
    assert not re.search(r"Sort \[[^\]]*value", approx_plan), approx_plan
    # the sample-touching aggregate collapses map-side: exactly one
    # (grp, bkt) hash exchange carries bucket counts, nothing larger
    assert re.search(
        r"Exchange hashpartitioning\(grp[^)]*bkt", approx_plan
    ), approx_plan


def _skewed_pair(spark, n_rows=3_000_000, n_keys=10_000):
    """Synthetic hot-key join: ~30% of fact rows on key 0 (testdata
    tables are too small for AQE map-output statistics to register a
    skewed partition, so the e2e skew assertion needs constructed
    volume)."""
    from pyspark.sql import functions as F

    big = spark.range(n_rows).select(
        F.when(F.col("id") % 10 < 3, F.lit(0))
        .otherwise(F.col("id") % n_keys)
        .alias("k"),
        (F.col("id") * 17 % 1000).alias("v"),
    )
    dim = spark.range(n_keys).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("grp")
    )
    return big, dim


def test_aqe_skew_join_engages(spark):
    """End-to-end AQE skew path: forcing sort-merge with scaled-down
    skew thresholds makes AQE split the hot partition (skew=true in
    the FINAL adaptive plan, 'coalesced and skewed' shuffle read) and
    the result equals the unconstrained (broadcast) plan's — the
    committed evidence behind the salt-vs-AQE decision table in
    SURVEY.md (timings: tools/skew_timing.py)."""
    from pyspark.sql import functions as F

    big, dim = _skewed_pair(spark)
    agg = lambda j: (
        j.groupBy("grp").agg(
            F.count(F.lit(1)).alias("n"), F.sum("v").alias("sv")
        )
    )
    expected = sorted(map(tuple, agg(big.join(dim, "k")).collect()))

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "1KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1KB",
    }
    saved = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        j = agg(big.join(dim, "k"))
        got = sorted(map(tuple, j.collect()))
        plan = j._jdf.queryExecution().executedPlan().toString()
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    assert got == expected
    assert "isFinalPlan=true" in plan, plan[:500]
    assert "skew=true" in plan, plan
    assert "skewed" in plan, plan  # AQEShuffleRead coalesced and skewed


def test_salted_join_equals_plain_on_skewed_pair(spark):
    """salted_join's contract on the same synthetic hot-key pair: byte
    identical result set to the plain join (the registry's
    skew_join_compare pins this on the real events table with a
    DuckDB oracle)."""
    from pyspark.sql import functions as F

    from metevents_spark.operators.skew import salted_join

    big, dim = _skewed_pair(spark, n_rows=300_000)
    agg = lambda j: (
        j.groupBy("grp").agg(
            F.count(F.lit(1)).alias("n"), F.sum("v").alias("sv")
        )
    )
    plain = sorted(map(tuple, agg(big.join(dim, "k")).collect()))
    salted = sorted(
        map(tuple, agg(salted_join(big, dim, ["k"], n_salts=16)).collect())
    )
    assert plain == salted
