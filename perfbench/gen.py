"""Seeded input generators for the benchmark.

Every table is a pure function of ``seed``: the same seed writes
byte-identical parquet, another seed writes different data of the same
shape and size, so runs on different seeds do comparable work.

Station series are calibrated to the fixed detector parameters of the
registry queries in ``metevents_spark.queries`` (extreme_value 1..400,
flat_line |d| <= 25, extreme_change |d| >= 300, data_gap >= 2 days,
storm_find >= 100/h to start and >= 500 total, spike_valley prominence
>= 300):

- a smooth level (mean-reverting daily walk in [8, 60]) plus a diurnal
  wave, on a 0.01 grid, so values outside events sit in [1.5, 72] and
  hourly steps stay below 25;
- bursts of 5-10 steps at 105-190 per step (storms);
- one-step spikes to 520-600 (spikes, extreme changes, extreme values,
  and one-step storms);
- outages of 49-120 hours with no rows (data gaps).

Every run at or above 100 (a burst or a spike) carries the 500 a storm
needs on its own; see README.md for why no lighter run is generated.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = np.datetime64("2023-01-01T00:00:00", "us")
HOUR_US = 3_600_000_000
N_FILES = 8  # fixed, so the bytes written never depend on the host

EVENTS_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)


def station_series(
    rng: np.random.Generator, days: int, step_hours: int = 1
) -> tuple[np.ndarray, np.ndarray]:
    """One station: (ts datetime64[us], value float64), time-sorted,
    outages removed."""
    n = days * 24 // step_hours
    hours = np.arange(n, dtype=np.int64) * step_hours + int(rng.integers(0, 24))
    # mean-reverting daily level (AR(1)): weather-like, and keeps the
    # peak-finding work per station-year from depending on long trends
    mean, shocks = rng.uniform(20, 45), rng.normal(0, 6, days + 2)
    level_days = np.empty(days + 2)
    level_days[0] = mean
    for d in range(1, days + 2):
        level_days[d] = mean + 0.6 * (level_days[d - 1] - mean) + shocks[d]
    level = np.interp(hours / 24.0, np.arange(days + 2), np.clip(level_days, 8, 60))
    amp, phase = rng.uniform(3, 12), rng.uniform(0, 24)
    value = level + amp * np.sin(2 * np.pi * (hours + phase) / 24)

    per_year = days / 365.0
    for _ in range(rng.poisson(14 * per_year)):  # bursts
        i, k = int(rng.integers(0, n)), int(rng.integers(5, 11))
        value[i : i + k] = rng.uniform(105, 190, len(value[i : i + k]))
    for _ in range(rng.poisson(10 * per_year)):  # spikes
        value[int(rng.integers(1, n - 1))] = rng.uniform(520, 600)
    value = np.round(np.maximum(value, 1.5), 2)

    keep = np.ones(n, dtype=bool)
    for _ in range(1 + rng.poisson(2 * per_year)):  # outages
        t0 = int(rng.integers(0, n * step_hours))
        keep &= ~((hours >= t0) & (hours < t0 + int(rng.integers(49, 121))))
    ts = EPOCH + hours[keep] * HOUR_US
    return ts.astype("datetime64[us]"), value[keep]


def stations_frame(
    seed: int, n_stations: int, days: int, step_hours: int = 1
) -> pd.DataFrame:
    """events-schema rows for ``n_stations`` stations, time-sorted per
    station, with event_id numbering that order (the registry's tie
    breaker)."""
    rng = np.random.default_rng([seed, n_stations, days, step_hours])
    parts = []
    for k in range(n_stations):
        ts, value = station_series(rng, days, step_hours)
        parts.append(
            pd.DataFrame({"ts": ts, "user_id": np.int64(1000 + k), "value": value})
        )
    pdf = pd.concat(parts, ignore_index=True)
    pdf.insert(0, "event_id", np.arange(len(pdf), dtype=np.int64))
    pdf.insert(3, "event_type", "reading")
    pdf["props"] = "{}"
    return pdf


def write_table(pdf: pd.DataFrame, path: str, schema: pa.Schema | None = None) -> None:
    """Write ``pdf`` as a directory of N_FILES parquet files."""
    os.makedirs(path, exist_ok=True)
    table = pa.Table.from_pandas(pdf, schema=schema, preserve_index=False)
    step = -(-len(pdf) // N_FILES)
    for i in range(N_FILES):
        pq.write_table(
            table.slice(i * step, step), os.path.join(path, f"part-{i:03d}.parquet")
        )


def write_stations(seed: int, root: str, n_stations: int, days: int) -> pd.DataFrame:
    """``root/events.parquet`` in a seed-chosen row order; returns the
    time-sorted frame."""
    pdf = stations_frame(seed, n_stations, days)
    order = np.random.default_rng([seed, 1]).permutation(len(pdf))
    write_table(pdf.iloc[order], os.path.join(root, "events.parquet"), EVENTS_SCHEMA)
    return pdf


def daily_series(seed: int, n_series: int) -> list[pd.Series]:
    """One station-year at daily cadence per entry, as the pandas
    Series the reference-shaped API takes."""
    pdf = stations_frame(seed, n_series, 365, step_hours=24)
    return [
        pd.Series(g["value"].to_numpy(), index=pd.DatetimeIndex(g["ts"]))
        for _, g in pdf.groupby("user_id", sort=True)
    ]


#: the corpus vocabulary of the sf0.1 reference documents table
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

LOOP_DATA_SEED = 20240101  # the loop data set is fixed; a run's seed orders its rows


def loop_tables(sf: float) -> tuple[pd.DataFrame, pd.DataFrame]:
    """``lineitem`` (co-purchase graph) and ``documents`` (near-duplicate
    corpus) for the driver-loop queries, drawn as the reference data
    sets are at scale factor ``sf``. At sf0.1 that is 600,000 lines with
    a uniform order key out of 150,000 and a uniform part key out of
    20,000, and 5,000 documents (no fewer than 500 at any scale). A
    document is 10-100 uniform words from a 30-word vocabulary or, one
    time in twenty, an earlier document with " dup" appended."""
    n_orders, n_parts, n_lines = (round(n * sf) for n in (1_500_000, 200_000, 6_000_000))
    n_docs = max(500, round(50_000 * sf))
    rng = np.random.default_rng(LOOP_DATA_SEED)
    li = pd.DataFrame({
        "l_orderkey": np.sort(rng.integers(0, n_orders, n_lines)),
        "l_partkey": rng.integers(0, n_parts, n_lines),
    })
    texts: list[str] = []
    for i in range(n_docs):
        if i and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    docs = pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "de", "fr", "es", "zh"], n_docs,
                           p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    return li, docs


def write_loop_tables(seed: int, root: str, tables: tuple[pd.DataFrame, ...]) -> None:
    """``root/lineitem.parquet`` and ``root/documents.parquet``, rows in
    a seed-chosen order."""
    rng = np.random.default_rng([seed, 2])
    for name, pdf in zip(("lineitem", "documents"), tables):
        write_table(pdf.iloc[rng.permutation(len(pdf))], os.path.join(root, f"{name}.parquet"))
