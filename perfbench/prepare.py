"""Inputs and expected results for one (workload, seed).

Generates the workload's input tables from the seed and computes the
expected output of every operation with the DuckDB oracle SQL
(``metevents_spark.queries.ORACLE_SQL``), hashed the way
``tools/check_oracle.py`` hashes. ``cached`` runs this in a child
process before Spark starts, so neither its time nor its memory lands
in any measured figure, and keeps the result per seed and per version
of the code it depends on (``source_key``):

    python3 perfbench/prepare.py <workload> <seed> <out_dir>
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys

import numpy as np
import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# ---- workload definitions -----------------------------------------------

STATIONS, DAYS = 16, 365  # station_batch: station-years, hourly
SAMPLE = 1  # stations checked against the storm/spike oracle per seed
# traced station_batch runs replay this subset through the stream path
STREAM_STATIONS, STREAM_DAYS, STREAM_FILES = 8, 60, 6
API_SERIES = 2  # daily station-years for the reference-API rounds
LOOP_SF, LOOP_TINY_SF = 0.01, 0.001  # driver_loops: its tables, its warm-up tables

WINDOW_DETECTORS = ["extreme_value", "flat_line", "extreme_change", "data_gap"]
KERNEL_DETECTORS = ["storm_find", "spike_valley"]
LOOPS = ["part_pagerank", "dedup_clusters", "copurchase_bfs_hops", "bpe_learn"]

#: reference-shaped API class -> (registry query whose oracle it must
#: match, find() parameters equal to that query's fixed parameters)
API_CLASSES = {
    "ExtremeValueEvent": ("extreme_value", {"expected_max": 400.0, "expected_min": 1.0}),
    "FlatLineEvent": ("flat_line", {"min_len": 2, "slope_thresh": 25.0}),
    "ExtremeChangeEvent": (
        "extreme_change",
        {"min_len": 1, "positive_slope_thresh": 300.0, "negative_slope_thresh": -300.0},
    ),
    "DataGapEvent": ("data_gap", {"min_len": 2, "expected_frequency": "1D"}),
    "StormEvents": (
        "storm_find",
        {"instant_mass_to_start": 100.0, "min_storm_total": 500.0,
         "hours_to_stop": 24, "max_storm_hours": 336},
    ),
    "SpikeValleyEvent": ("spike_valley", {"prominence": 300.0}),
}

#: input sets this module prepares ("api_rounds" feeds a traced probe;
#: "loop_oracle" holds the expected results of every driver_loops seed),
#: with the registry queries whose oracle SQL gives their expected results
ORACLE_QUERIES = {
    "station_batch": WINDOW_DETECTORS + KERNEL_DETECTORS,
    "api_rounds": [name for name, _ in API_CLASSES.values()],
    "driver_loops": [],
    "loop_oracle": LOOPS,
}


def sample_sids(seed: int) -> list[str]:
    """The stations whose storm/spike output is checked for ``seed``."""
    rng = np.random.default_rng([seed, 3])
    return [str(1000 + k) for k in sorted(rng.choice(STATIONS, SAMPLE, replace=False))]


def result_hash(pdf: pd.DataFrame) -> str:
    """Order-insensitive value hash of a result frame, as the oracle
    harness computes it."""
    from tools.check_oracle import frame_hash, normalize

    return frame_hash(normalize(pdf))


def api_frame(periods) -> pd.DataFrame:
    """(start, stop, total) of the API's ``.events`` list, totals on the
    registry's 3-decimal grid."""
    return pd.DataFrame(
        {
            "start": [p.start for p in periods],
            "stop": [p.stop for p in periods],
            "total": [None if p.total is None else round(p.total, 3) for p in periods],
        },
        columns=["start", "stop", "total"],
    )


def api_events_table(series: pd.Series) -> pd.DataFrame:
    """The events-table form of one API input series (what the oracle
    SQL reads)."""
    n = len(series)
    return pd.DataFrame(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": series.index.to_numpy(dtype="datetime64[us]"),
            "user_id": np.zeros(n, dtype=np.int64),
            "event_type": "reading",
            "value": series.to_numpy(dtype=np.float64),
            "props": "{}",
        }
    )


def read_api_series(path: str) -> list[pd.Series]:
    pdf = pd.read_parquet(path)
    return [
        pd.Series(g["value"].to_numpy(), index=pd.DatetimeIndex(g["ts"]))
        for _, g in pdf.groupby("series", sort=True)
    ]


# ---- preparation ----------------------------------------------------------


def write_stream(stations: pd.DataFrame, path: str) -> None:
    """The first STREAM_STATIONS stations' first STREAM_DAYS days as
    STREAM_FILES time-ordered parquet files, oldest file first by
    modification time (the order the file stream source reads)."""
    end = np.datetime64("2023-01-01", "us") + np.timedelta64(STREAM_DAYS, "D")
    rows = stations[
        (stations["user_id"] < 1000 + STREAM_STATIONS) & (stations["ts"] < end)
    ].sort_values(["ts", "user_id"])
    rows = pd.DataFrame(
        {"sid": rows["user_id"].astype(str), "ts": rows["ts"], "value": rows["value"]}
    )
    os.makedirs(path, exist_ok=True)
    for i, chunk in enumerate(np.array_split(np.arange(len(rows)), STREAM_FILES)):
        f = os.path.join(path, f"part-{i:03d}.parquet")
        rows.iloc[chunk].to_parquet(f, index=False)
        os.utime(f, (1_700_000_000 + i, 1_700_000_000 + i))


def _views(con, root: str, tables: list[str], where: str = "") -> None:
    for t in tables:
        con.sql(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM "
            f"'{root}/{t}.parquet/*.parquet' {where}"
        )


def _api_expected(con, seed: int, out: str) -> dict:
    """Daily series for the API rounds and the oracle hash of each
    (class, series) call."""
    from metevents_spark.queries import ORACLE_SQL
    from perfbench import gen

    expected = {}
    series = gen.daily_series(seed, API_SERIES)
    frames = [api_events_table(s).assign(series=i) for i, s in enumerate(series)]
    pd.concat(frames).to_parquet(os.path.join(out, "api_series.parquet"))
    for i, ev in enumerate(frames):
        con.register("series_df", ev.drop(columns="series"))
        con.sql("CREATE OR REPLACE VIEW events AS SELECT * FROM series_df")
        for cls, (name, _) in API_CLASSES.items():
            rows = con.sql(
                f'SELECT "start", "stop", total FROM ({ORACLE_SQL[name]})'
            ).df()
            expected[f"{cls}/{i}"] = result_hash(rows)
    return expected


def prepare(workload: str, seed: int, out: str) -> dict:
    import duckdb

    from metevents_spark.queries import ORACLE_SQL
    from perfbench import gen

    con = duckdb.connect()
    expected: dict = {}
    tiny = os.path.join(out, "tiny")
    if workload == "station_batch":
        pdf = gen.write_stations(seed, out, STATIONS, DAYS)
        gen.write_stations(seed, tiny, 2, 20)
        write_stream(pdf, os.path.join(out, "stream"))
        expected["rows"] = len(pdf)
        _views(con, out, ["events"])
        for name in WINDOW_DETECTORS:
            expected[name] = result_hash(con.sql(ORACLE_SQL[name]).df())
        sids = sample_sids(seed)
        _views(con, out, ["events"],
               f"WHERE user_id IN ({', '.join(sids)})")
        for name in KERNEL_DETECTORS:
            expected[name] = result_hash(con.sql(ORACLE_SQL[name]).df())
        expected["sample"] = sids
    elif workload == "api_rounds":  # station_batch's traced probe only
        expected.update(_api_expected(con, seed, out))
    elif workload == "driver_loops":
        gen.write_loop_tables(seed, out, gen.loop_tables(LOOP_SF))
        gen.write_loop_tables(seed, tiny, gen.loop_tables(LOOP_TINY_SF))
    elif workload == "loop_oracle":
        for name, pdf in zip(("lineitem", "documents"), gen.loop_tables(LOOP_SF)):
            con.register(name, pdf)
        for name in LOOPS:
            expected[name] = result_hash(con.sql(ORACLE_SQL[name]).df())
    else:
        raise ValueError(f"unknown input set {workload!r}; one of {list(ORACLE_QUERIES)}")
    con.close()
    tmp = os.path.join(out, "expected.json.tmp")
    with open(tmp, "w") as f:
        json.dump(expected, f, sort_keys=True)
    os.replace(tmp, os.path.join(out, "expected.json"))
    return expected


def source_key(input_set: str) -> str:
    """Hash of everything an input set and its expected results depend
    on: the generator, this module, the oracle SQL of its queries, the
    oracle harness's hashing and the DuckDB version. Cached inputs made
    by other code are never reused."""
    from importlib.metadata import version

    from metevents_spark.queries import ORACLE_SQL

    h = hashlib.sha1(version("duckdb").encode())
    for path in ("perfbench/gen.py", "perfbench/prepare.py", "tools/check_oracle.py"):
        with open(os.path.join(ROOT, path), "rb") as f:
            h.update(f.read())
    for name in ORACLE_QUERIES[input_set]:
        h.update(ORACLE_SQL[name].encode())
    return h.hexdigest()[:10]


def _prepared(input_set: str, seed: int, work: str) -> tuple[str, dict]:
    data_dir = os.path.join(work, f"{input_set}-s{seed}-{source_key(input_set)}")
    path = os.path.join(data_dir, "expected.json")
    if not os.path.exists(path):
        os.makedirs(data_dir, exist_ok=True)
        subprocess.run([sys.executable, os.path.abspath(__file__), input_set,
                        str(seed), data_dir], check=True, cwd=ROOT, timeout=150)
    with open(path) as f:
        return data_dir, json.load(f)


def cached(workload: str, seed: int, work: str) -> tuple[str, dict]:
    """(data_dir, expected) for ``workload`` and ``seed``, prepared in a
    child process on first use. The loop data set is fixed and the seed
    only orders its rows, so the loops' expected results are computed
    once, for every seed."""
    data_dir, expected = _prepared(workload, seed, work)
    if workload == "driver_loops":
        expected.update(_prepared("loop_oracle", 0, work)[1])
    return data_dir, expected


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    import metevents_spark  # noqa: F401  (this checkout's package, first)

    prepare(sys.argv[1], int(sys.argv[2]), sys.argv[3])
