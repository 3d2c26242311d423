"""Driver-style correctness harness: run every __spark_entry__ query on
Spark AND its DuckDB oracle at sf0.01, compare row count + schema +
order-insensitive value hash (columns sorted by name, rows sorted,
values canonicalized). Stricter than it needs to be — if this passes,
any sane driver comparison passes.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import math
import os
import sys

import duckdb
import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TABLES = (
    "region nation customer supplier part orders lineitem events documents "
    "embeddings"
).split()


def canon_value(v) -> str:
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "NULL"
    if pd.isna(v):
        return "NULL"
    if isinstance(v, float):
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(v)
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    return str(v)


def frame_hash(pdf: pd.DataFrame) -> str:
    """Order-insensitive value hash. Vectorized per column (iterrows
    was the bottleneck at million-row results); byte-identical to the
    per-row formulation."""
    cols = sorted(pdf.columns)
    if not len(pdf) or not cols:
        return hashlib.sha256(b"").hexdigest()
    parts = [pdf[c].map(canon_value).astype(str) for c in cols]
    rows = (
        parts[0].str.cat(parts[1:], sep="|") if len(parts) > 1 else parts[0]
    )
    return hashlib.sha256(
        "\n".join(sorted(rows.tolist())).encode()
    ).hexdigest()


def normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    out = pdf.copy()
    for c in out.columns:
        # unify timestamp flavors (ns vs us precision, tz-naive)
        if str(out[c].dtype).startswith("datetime64"):
            out[c] = pd.to_datetime(out[c]).astype("datetime64[us]")
    return out


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from metevents_spark.session import get_spark

    spark = get_spark(app_name="check-oracle", master="local[8]",
                      shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    # bounded DuckDB parallelism for sharded sweeps (several
    # check_oracle processes sharing one host): unset = all cores
    n_threads = os.environ.get("CHECK_ORACLE_DUCKDB_THREADS")
    if n_threads:
        con.sql(f"SET threads TO {int(n_threads)}")
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(path):
            # Spark-written table: a DIRECTORY of part files
            path = f"{path}/*.parquet"
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = normalize(fn(spark, sf_dir).toPandas())
        except Exception as exc:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: spark error: {exc}")
            continue
        if name not in oracles:
            print(f"rows  {name}: {len(sdf)} rows (no oracle — rows-only check)")
            continue
        try:
            ddf = normalize(con.sql(oracles[name]).df())
        except Exception as exc:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: duckdb error: {exc}")
            continue
        problems = []
        if len(sdf) != len(ddf):
            problems.append(f"rowcount spark={len(sdf)} duck={len(ddf)}")
        s_schema = {c: str(sdf[c].dtype) for c in sorted(sdf.columns)}
        d_schema = {c: str(ddf[c].dtype) for c in sorted(ddf.columns)}
        if sorted(sdf.columns) != sorted(ddf.columns):
            problems.append(
                f"columns spark={sorted(sdf.columns)} "
                f"duck={sorted(ddf.columns)}"
            )
        elif s_schema != d_schema:
            diffs = {
                c: (s_schema[c], d_schema[c])
                for c in s_schema
                if s_schema[c] != d_schema[c]
            }
            problems.append(f"dtypes {diffs}")
        if not problems and frame_hash(sdf) != frame_hash(ddf):
            merged = None
            for c in sorted(sdf.columns):
                sv = sorted(sdf[c].map(canon_value))
                dv = sorted(ddf[c].map(canon_value))
                if sv != dv:
                    bad = [(a, b) for a, b in zip(sv, dv) if a != b][:3]
                    merged = f"col {c}: first diffs {bad}"
                    break
            problems.append(f"value-hash mismatch ({merged})")
        if problems:
            failures.append(name)
            print(f"FAIL  {name}: {'; '.join(problems)}")
        else:
            print(f"ok    {name}: {len(sdf)} rows hash-match")

    spark.stop()
    if failures:
        print(f"\n{len(failures)} FAILURES: {failures}")
        return 1
    print("\nall queries match")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
