#!/usr/bin/env python3
"""Full-registry x10 oracle sweep: run EVERY __spark_entry__ query on
Spark AND (where an oracle exists) DuckDB against the tenfold sf0.1
replica (tools/make_bigscale.py 10 — a real sf1-equivalent: fresh
keys, disjoint vocabularies), and write ORACLE_sf1.json in the
committed format. This is the round-over-round 10x evidence artifact
the per-round driver check (sf0.01) does not provide; r11 produced it
with an ad-hoc script — this makes the sweep reproducible.

Usage: python tools/sweep_x10.py [big_dir] [out_json]
Runtime: hours on a degraded host; run it in the background.
"""

from __future__ import annotations

import json
import os
import sys
import time

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tools"))

from check_oracle import TABLES, frame_hash, normalize  # noqa: E402


def main() -> int:
    big_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/metevents-sfbig-x10"
    out_path = (
        sys.argv[2] if len(sys.argv) > 2 else os.path.join(REPO, "ORACLE_sf1.json")
    )
    if not os.path.isdir(big_dir):
        print(f"replica missing at {big_dir}; run tools/make_bigscale.py 10")
        return 2

    import __spark_entry__ as entrymod
    from metevents_spark.session import get_spark

    spark = get_spark(app_name="sweep-x10", master="local[16]",
                      shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        path = f"{big_dir}/{t}.parquet"
        if os.path.isdir(path):
            # Spark-written table: a DIRECTORY of part files
            path = f"{path}/*.parquet"
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    results: dict[str, dict] = {}
    n_hash = n_rows = n_fail = 0
    for i, (name, fn) in enumerate(qs.items(), 1):
        t0 = time.time()
        try:
            sdf = normalize(fn(spark, big_dir).toPandas())
        except Exception as exc:  # noqa: BLE001
            results[name] = {"status": "fail", "error": f"spark: {exc}"}
            n_fail += 1
            print(f"[{i}/{len(qs)}] FAIL {name}: spark: {exc}", flush=True)
            continue
        if name not in oracles:
            results[name] = {"status": "rows_only", "rows": len(sdf)}
            n_rows += 1
            print(f"[{i}/{len(qs)}] rows {name}: {len(sdf)} "
                  f"({time.time() - t0:.1f}s)", flush=True)
            continue
        try:
            ddf = normalize(con.sql(oracles[name]).df())
        except Exception as exc:  # noqa: BLE001
            results[name] = {"status": "fail", "error": f"duckdb: {exc}"}
            n_fail += 1
            print(f"[{i}/{len(qs)}] FAIL {name}: duckdb: {exc}", flush=True)
            continue
        ok = (
            len(sdf) == len(ddf)
            and sorted(sdf.columns) == sorted(ddf.columns)
            and frame_hash(sdf) == frame_hash(ddf)
        )
        if ok:
            results[name] = {"status": "hash_match", "rows": len(sdf)}
            n_hash += 1
        else:
            results[name] = {
                "status": "fail",
                "error": f"mismatch rows {len(sdf)} vs {len(ddf)}",
            }
            n_fail += 1
        print(f"[{i}/{len(qs)}] {'ok  ' if ok else 'FAIL'} {name}: "
              f"{len(sdf)} rows ({time.time() - t0:.1f}s)", flush=True)

    summary = {
        "metric": "oracle_sweep_x10",
        "sf_equivalent": 1.0,
        "dataset": "tools/make_bigscale.py 10 (6M lineitem / 1M events / "
                   "50k documents / 20k embeddings; fresh keys, disjoint "
                   "vocabularies)",
        "n_queries": len(qs),
        "n_hash_match": n_hash,
        "n_rows_only": n_rows,
        "n_fail": n_fail,
        "queries": dict(sorted(results.items())),
    }
    with open(out_path, "w") as fh:
        json.dump(summary, fh, indent=1)
    print(f"wrote {out_path}: {n_hash} hash / {n_rows} rows-only / "
          f"{n_fail} fail of {len(qs)}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
