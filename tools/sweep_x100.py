#!/usr/bin/env python3
"""Second-decade scale sweep: run the SCALE-CRITICAL registry keys at
x100 (tools/make_bigscale.py 100 — an sf10-equivalent: 60M lineitem /
10M events / 500k documents / 200k embeddings, fresh keys, disjoint
vocabularies) and record the per-decade cost ratio against a SAME-
SESSION x10 re-measurement, plus the corpus-keyed auto knobs' chosen
values at each decade (media grid-LSH axis count, IVF cell count).

This converts the r12 "x10 measured + design argument" 100 TB claim
into a two-decade measurement (r12 verdict item 4): a query whose
x100/x10 ratio sits near 10 is linear in data; anything well above
gets the media-kernel root-cause treatment. Where the DuckDB oracle
is affordable at x100 the sweep also hash-compares (Spark vs DuckDB),
recording `hash_match`; the expensive replays record rows-only with
the timing still captured.

Usage: python tools/sweep_x100.py [x100_dir] [x10_dir] [out_json] [key ...]
Writes BENCH_x100.json at the repo root by default.
Runtime: tens of minutes; raise SPARK_GRAFT_DRIVER_MEM (24g was needed
at x10 — single-JVM local mode holds all executor state in one heap).
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

SCALE_CRITICAL = [
    "minhash_near_dup",
    "semantic_dedup",
    "media_embedding_near_dup",
    "knn_ivf",
    "knn_ivf_pq",
    "dedup_clusters",
    "doc_containment",
    "part_pagerank",
    "incremental_dedup",
    "bpe_learn",
]
# full SQL replays whose DuckDB cost at x100 is itself superlinear or
# hours-long (banded LSH / Lloyd / recursive CTEs over 10x the x10
# corpus) — Spark timing + row count recorded, hash skipped
ORACLE_SKIP_X100 = {
    "part_pagerank",  # 240M-row edge build x 12 chained rounds in DuckDB
    "minhash_near_dup",
    "semantic_dedup",
    "media_embedding_near_dup",
    "knn_ivf",
    "incremental_dedup",
    "bpe_learn",
    "dedup_clusters",
}


def _time_spark(fn, spark, sf_dir):
    t0 = time.time()
    pdf = normalize(fn(spark, sf_dir).toPandas())
    return time.time() - t0, pdf


def main() -> int:
    x100 = sys.argv[1] if len(sys.argv) > 1 else "/tmp/metevents-sfbig-x100"
    x10 = sys.argv[2] if len(sys.argv) > 2 else "/tmp/metevents-sfbig-x10"
    out_path = (
        sys.argv[3] if len(sys.argv) > 3 else os.path.join(REPO, "BENCH_x100.json")
    )
    keys = sys.argv[4:] or SCALE_CRITICAL
    for d, factor in ((x10, 10), (x100, 100)):
        if not os.path.isdir(d):
            print(f"replica missing at {d}; run tools/make_bigscale.py "
                  f"{factor} {d}")
            return 2

    import __spark_entry__ as entrymod
    from metevents_spark.session import get_spark

    spark = get_spark(app_name="sweep-x100", master="local[16]",
                      shuffle_partitions=64)
    spark.sparkContext.setLogLevel("ERROR")

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    results: dict[str, dict] = {}
    for name in keys:
        fn = qs[name]
        rec: dict = {}
        try:
            t10, _ = _time_spark(fn, spark, x10)  # warm-up + baseline
            t10b, _ = _time_spark(fn, spark, x10)
            rec["x10_s"] = round(min(t10, t10b), 2)
            t100, pdf = _time_spark(fn, spark, x100)
            rec["x100_s"] = round(t100, 2)
            rec["rows"] = int(len(pdf))
            rec["decade_ratio"] = round(t100 / max(min(t10, t10b), 1e-9), 2)
            if name in oracles and name not in ORACLE_SKIP_X100:
                con = duckdb.connect()
                for t in TABLES:
                    path = f"{x100}/{t}.parquet"
                    if os.path.isdir(path):
                        path = f"{path}/*.parquet"
                    con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
                ddf = normalize(con.sql(oracles[name]).df())
                con.close()
                rec["hash_match"] = bool(
                    len(pdf) == len(ddf)
                    and frame_hash(pdf) == frame_hash(ddf)
                )
            else:
                rec["hash_match"] = None  # rows-only at this scale
            rec["status"] = "ok"
        except Exception as exc:  # noqa: BLE001
            rec["status"] = "fail"
            rec["error"] = f"{type(exc).__name__}: {exc}"[:300]
        results[name] = rec
        print(f"{name}: {rec}", flush=True)

    # corpus-keyed auto knobs: the values each decade actually selects
    from metevents_spark.multimodal.media import _auto_projections

    knobs = {}
    for tag, d in (("x10", x10), ("x100", x100)):
        docs = spark.read.parquet(f"{d}/documents.parquet")
        emb = spark.read.parquet(f"{d}/embeddings.parquet")
        n_payload = docs.select("text").distinct().count()
        n_vec = emb.count()
        knobs[tag] = {
            "media_distinct_payloads": n_payload,
            "media_auto_p": _auto_projections(n_payload),
            "ivf_auto_n_cells": max(1, int(round(n_vec ** 0.5))),
            "n_vectors": n_vec,
        }

    ratios = sorted(
        r["decade_ratio"] for r in results.values() if "decade_ratio" in r
    )
    record = {
        "metric": "bench_x100",
        "dataset": "tools/make_bigscale.py 100 vs 10 (same session, "
        "min-of-2 x10 baseline)",
        "queries": results,
        "auto_knobs": knobs,
        "decade_ratio_band": [ratios[0], ratios[-1]] if ratios else None,
        "n_fail": sum(1 for r in results.values() if r["status"] == "fail"),
    }
    with open(out_path, "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
        f.write("\n")
    print(json.dumps(record, sort_keys=True))
    return 0


if __name__ == "__main__":
    sys.exit(main())
