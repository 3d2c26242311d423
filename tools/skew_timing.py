"""Salt-vs-AQE skew-join timing harness.

Times the same deliberately skewed hot-key join (30% of fact rows on
one key — the shape that melts a reducer at 100 TB) four ways:

  naive_smj   sort-merge join, AQE skew split DISABLED — the plan a
              non-adaptive engine is stuck with (one reducer owns the
              hot key)
  aqe_smj     sort-merge join, AQE skew split ENABLED with thresholds
              scaled to the synthetic volume (at production volumes the
              defaults fire on their own)
  salted_smj  metevents_spark.operators.skew.salted_join, AQE skew
              split disabled — the manual remedy
  broadcast   the unconstrained plan (AQE picks broadcast at this dim
              size) — the floor, for context

All four must return identical aggregates (asserted). Prints one
markdown table + one JSON line; the committed numbers live in
SURVEY.md §8. Usage:

    python tools/skew_timing.py [n_rows]   # default 10_000_000
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F

from metevents_spark.operators.skew import salted_join
from metevents_spark.session import get_spark

SKEW_CONFS = {
    # hot partition ≈ 3M of 10M rows; median ≈ 220k rows. Factor 2 +
    # a volume-scaled byte threshold detect exactly the hot partition;
    # the split TARGET stays realistic — a tiny advisory shatters the
    # hot partition into thousands of splits whose per-task overhead
    # eats the win (measured 24.9s vs 14.9s at 10M rows with a 1KB
    # advisory)
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "2MB",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "2MB",
}


def build_frames(spark, n_rows: int, n_keys: int = 10_000):
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


def consume(j):
    return sorted(
        map(
            tuple,
            j.groupBy("grp")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("sv"))
            .collect(),
        )
    )


def main() -> None:
    n_rows = int(sys.argv[1]) if len(sys.argv) > 1 else 10_000_000
    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    big, dim = build_frames(spark, n_rows)

    defaults = {
        k: spark.conf.get(k)
        for k in list(SKEW_CONFS)
        + [
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.skewJoin.enabled",
        ]
    }

    def timed(name, fn, confs):
        """One warmup + three timed reps per variant, report the MIN —
        this host's parallel throughput swings several-x between runs
        (GC / noisy neighbors), and the steady-state minimum is the
        number the salt-vs-AQE decision actually rides on."""
        for k, v in confs.items():
            spark.conf.set(k, v)
        try:
            rows = fn()
            best = None
            for _ in range(3):
                t0 = time.time()
                rows = fn()
                dt = time.time() - t0
                best = dt if best is None or dt < best else best
            return name, rows, round(best, 2)
        finally:
            for k, v in defaults.items():
                spark.conf.set(k, v)

    runs = [
        timed(
            "broadcast",
            lambda: consume(big.join(dim, "k")),
            {},
        ),
        timed(
            "naive_smj",
            lambda: consume(big.join(dim, "k")),
            {
                "spark.sql.autoBroadcastJoinThreshold": "-1",
                "spark.sql.adaptive.skewJoin.enabled": "false",
            },
        ),
        timed(
            "aqe_smj",
            lambda: consume(big.join(dim, "k")),
            {
                "spark.sql.autoBroadcastJoinThreshold": "-1",
                "spark.sql.adaptive.skewJoin.enabled": "true",
                **SKEW_CONFS,
            },
        ),
        timed(
            "salted_smj",
            lambda: consume(salted_join(big, dim, ["k"], n_salts=16)),
            {
                "spark.sql.autoBroadcastJoinThreshold": "-1",
                "spark.sql.adaptive.skewJoin.enabled": "false",
            },
        ),
    ]

    truth = runs[0][1]
    for name, rows, _ in runs:
        assert rows == truth, f"{name} diverged from broadcast truth"

    print(f"\nhot-key join, {n_rows:,} fact rows, 30% on one key; "
          "all variants result-identical\n")
    print("| variant | seconds |")
    print("|---|---|")
    for name, _, dt in runs:
        print(f"| {name} | {dt} |")
    print()
    print(json.dumps({
        "metric": "skew_join_timing",
        "n_rows": n_rows,
        "seconds": {name: dt for name, _, dt in runs},
    }))


if __name__ == "__main__":
    main()
