"""Self-tests for the benchmark (no Spark session; about half a minute).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import gen, prepare as P  # noqa: E402
from perfbench.run import END_TO_END  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402
from perfbench.workloads import Pass, StationBatch, per_layer_names  # noqa: E402


def _digest(path: str) -> str:
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(path)):
        for f in sorted(files):
            with open(os.path.join(d, f), "rb") as fh:
                h.update(f.encode() + fh.read())
    return h.hexdigest()


@pytest.mark.parametrize(
    "write",
    [
        lambda seed, out: gen.write_stations(seed, out, 3, 40),
        lambda seed, out: gen.write_loop_tables(seed, out, gen.loop_tables(P.LOOP_TINY_SF)),
        lambda seed, out: pd.concat(gen.daily_series(seed, 2)).to_frame("v")
        .to_parquet(os.path.join(out, "d.parquet")),
    ],
    ids=["stations", "loop_tables", "daily_series"],
)
def test_seed_fixes_inputs_byte_for_byte(tmp_path, write):
    digests = {}
    for name, seed in (("a", 5), ("b", 5), ("c", 6)):
        out = tmp_path / name
        out.mkdir()
        write(seed, str(out))
        digests[name] = _digest(str(out))
    assert digests["a"] == digests["b"]
    assert digests["a"] != digests["c"]


def test_generator_fires_every_detector_on_events():
    """Calibration: the fixed registry parameters find each kind of
    event, on far fewer rows than the series has."""
    pdf = gen.stations_frame(9, 4, 365)
    v = pdf["value"]
    assert v.between(1.0, 400.0).mean() > 0.99
    assert (v > 400).sum() > 0  # spikes: extreme values and changes
    assert (v >= 100).sum() < len(pdf) / 20  # bursts and spikes are events
    gaps = pdf.groupby("user_id")["ts"].diff().dt.total_seconds()
    assert (gaps >= 2 * 86400).sum() >= 4  # multi-day outages


@pytest.fixture(scope="module")
def station_inputs(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("work"))
    return P.cached("station_batch", 3, work)


def _oracle_frames(data_dir: str, expected: dict) -> dict[str, pd.DataFrame]:
    import duckdb

    from metevents_spark.queries import ORACLE_SQL

    con = duckdb.connect()
    P._views(con, data_dir, ["events"])
    frames = {name: con.sql(ORACLE_SQL[name]).df() for name in P.WINDOW_DETECTORS}
    # the kernel oracles are slow; the sample plus one more station
    P._views(con, data_dir, ["events"], "WHERE user_id IN ({}, 1000, 1001)".format(
        ", ".join(expected["sample"])))
    frames.update({name: con.sql(ORACLE_SQL[name]).df() for name in P.KERNEL_DETECTORS})
    return frames


def test_planted_wrong_result_counts_as_failed(station_inputs):
    data_dir, expected = station_inputs
    w = StationBatch(data_dir, expected, Tracer(), 3)
    frames = _oracle_frames(data_dir, expected)
    out = Pass()
    for name, pdf in frames.items():
        out.record(name, 1.0, w.check(name, pdf))
    assert (out.attempted, out.failed) == (6, 0), out.wrong

    wrong = frames["flat_line"].copy()
    wrong.loc[0, "total"] += 1.0
    spike = frames["spike_valley"]
    dropped = spike[spike["sid"] != expected["sample"][0]]  # a sampled station lost
    for name, pdf in (("flat_line", wrong), ("spike_valley", dropped),
                      ("extreme_value", frames["extreme_value"].iloc[:0])):
        out.record(name, 1.0, w.check(name, pdf))
    assert out.failed == 3 and out.wrong == ["flat_line", "spike_valley", "extreme_value"]
    assert out.failed / out.attempted == pytest.approx(3 / 9)


def test_cached_results_are_keyed_by_the_oracle(monkeypatch):
    """An edited oracle query never meets expected results cached by
    the old one."""
    from metevents_spark import queries

    before = {s: P.source_key(s) for s in ("loop_oracle", "station_batch")}
    monkeypatch.setitem(queries.ORACLE_SQL, "part_pagerank",
                        queries.ORACLE_SQL["part_pagerank"] + "\n")
    assert P.source_key("loop_oracle") != before["loop_oracle"]
    assert P.source_key("station_batch") == before["station_batch"]


def test_benchmark_json_lists_every_metric_with_its_unit():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == per_layer_names()
    from perfbench.workloads import WORKLOADS

    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)


def test_refuses_to_run_without_the_package(tmp_path):
    """In a directory holding only the benchmark, the run exits non-zero
    without printing a result."""
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "station_batch",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert "correct" not in proc.stdout
