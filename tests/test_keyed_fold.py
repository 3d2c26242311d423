"""``streaming.detect.keyed_fold``: one trigger's rows per key are
sorted once, so a kernel's output does not depend on how Spark splits
them into Arrow batches, and ``drop_late`` drops exactly the rows
before the last folded (ts, seq).

The pure tests need no Spark. The differential test replays one
shuffled file through every kernel built on the helper at
``spark.sql.execution.arrow.maxRecordsPerBatch=97`` and at the
default, and requires identical output (the config-differential
pattern of spark-rapids' ``assert_gpu_and_cpu_are_equal_collect``).
"""

from __future__ import annotations

import time
from functools import partial
from pathlib import Path

import numpy as np
import pandas as pd
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    TimestampType,
)

from metevents_spark.operators.storms import storm_find_numpy
from metevents_spark.streaming import (
    stream_burst_collapse,
    stream_conversion_lag,
    stream_counter_rate,
    stream_cusum,
    stream_funnel,
    stream_holt,
    stream_p2_quantile,
    stream_purchase_attribution,
    stream_storm_find,
    stream_time_weighted,
    stream_zscore,
)
from metevents_spark.streaming.detect import drop_late, fold_chunks

BATCH_CONF = "spark.sql.execution.arrow.maxRecordsPerBatch"


def _events(n_keys: int = 3, n_rows: int = 240, seed: int = 5) -> pd.DataFrame:
    """``n_rows`` rows per key at distinct 20-minute slots, in shuffled
    order, with zero-inflated values and a few outliers."""
    rng = np.random.default_rng(seed)
    types = np.array(["signup", "view", "click", "purchase"])
    parts = []
    for k in range(n_keys):
        slot = rng.permutation(n_rows)
        values = np.where(
            rng.random(n_rows) < 0.6, 0.0, rng.exponential(2.0, n_rows)
        )
        values[rng.choice(n_rows, 4, replace=False)] = 25.0
        parts.append(
            pd.DataFrame(
                {
                    "sid": f"k{k}",
                    "user_id": np.int64(k),
                    "seq": k * n_rows + slot,
                    "event_type": types[rng.integers(0, 4, n_rows)],
                    "ts": pd.Timestamp("2024-01-01")
                    + pd.to_timedelta(slot * 20, unit="min"),
                    "value": values,
                }
            )
        )
    return pd.concat(parts, ignore_index=True).sample(frac=1.0, random_state=seed)


def _step(key, state, rows):
    """Records the rows it was handed; the state counts them."""
    n = 0 if state is None else state[0]
    out = (*(rows[c] for c in rows.columns), n + np.arange(len(rows)))
    return out, (n + len(rows),)


_TYPES = {
    "sid": StringType(),
    "user_id": LongType(),
    "seq": LongType(),
    "event_type": StringType(),
    "ts": TimestampType(),
    "value": DoubleType(),
    "v": LongType(),
    "n": LongType(),
}


def _fields(rows: pd.DataFrame) -> list[StructField]:
    """``_step``'s output fields: the columns of ``rows``, then n."""
    return [StructField(c, _TYPES[c]) for c in [*rows.columns, "n"]]


def test_fold_chunks_sorts_the_whole_trigger_once():
    rows = _events(n_keys=1, n_rows=50)
    one, st_one = fold_chunks(_step, ("k0",), None, [rows], _fields(rows))
    chunks = [rows.iloc[i : i + 7] for i in range(0, len(rows), 7)]
    many, st_many = fold_chunks(_step, ("k0",), None, chunks, _fields(rows))
    pd.testing.assert_frame_equal(one[0], many[0])
    assert st_one == st_many == (50,)
    assert one[0]["ts"].is_monotonic_increasing


def test_fold_chunks_breaks_ts_ties_by_seq_then_arrival():
    ts = pd.Timestamp("2024-01-01")
    rows = pd.DataFrame({"ts": [ts] * 3, "seq": [3, 1, 2], "v": [0, 1, 2]})
    (out,), _ = fold_chunks(_step, (), None, [rows], _fields(rows))
    assert out["seq"].tolist() == [1, 2, 3]
    no_seq = rows.drop(columns="seq")
    (out,), _ = fold_chunks(_step, (), None, [no_seq], _fields(no_seq))
    assert out["v"].tolist() == [0, 1, 2]


def test_drop_late_drops_and_counts_rows_before_the_last_fold():
    ts = pd.to_datetime([0, 0, 0, 10, 20], unit="us")
    rows = pd.DataFrame({"ts": ts, "seq": [4, 5, 6, 1, 2]})
    kept, n = drop_late(rows, 0, 5)
    assert n == 1 and kept["seq"].tolist() == [5, 6, 1, 2]
    kept, n = drop_late(rows, 10, 2)
    assert n == 4 and kept["seq"].tolist() == [2]
    kept, n = drop_late(rows, None, None)
    assert n == 0 and len(kept) == 5
    kept, n = drop_late(rows.drop(columns="seq"), 0, 0)
    assert n == 0 and len(kept) == 5


KERNELS = {
    "storm_find": partial(
        stream_storm_find,
        instant_mass_to_start=1.0,
        min_storm_total=3.0,
        hours_to_stop=1.0,
    ),
    "zscore": partial(stream_zscore, z_thresh=2.0, min_n=20),
    "cusum": partial(stream_cusum, h=3.0, min_n=20),
    "holt": stream_holt,
    "counter_rate": stream_counter_rate,
    "time_weighted": stream_time_weighted,
    "burst_collapse": stream_burst_collapse,
    "purchase_attribution": stream_purchase_attribution,
    "conversion_lag": stream_conversion_lag,
    "p2_quantile": partial(stream_p2_quantile, p=0.9),
    "funnel": stream_funnel,
}


def _replay_all(spark, src: str, ckpt: Path, tag: str) -> dict:
    """Every kernel over the one-file stream at ``src`` in one trigger;
    -> kernel name -> output sorted on all its columns."""
    schema = (
        "sid string, user_id long, seq long, event_type string,"
        " ts timestamp, value double"
    )
    running = {}
    for name, kernel in KERNELS.items():
        stream = spark.readStream.schema(schema).parquet(src)
        running[name] = (
            kernel(stream)
            .writeStream.outputMode("append")
            .format("memory")
            .queryName(f"kf_{tag}_{name}")
            .option("checkpointLocation", str(ckpt / f"{tag}_{name}"))
            .start()
        )
    out = {}
    for name, q in running.items():
        q.processAllAvailable()
        q.stop()
        pdf = spark.sql(f"SELECT * FROM kf_{tag}_{name}").toPandas()
        out[name] = pdf.sort_values(list(pdf.columns), ignore_index=True)
    return out


def test_kernels_do_not_depend_on_arrow_batch_size(spark, tmp_path):
    src = tmp_path / "in"
    src.mkdir()
    _events().to_parquet(src / "events.parquet", coerce_timestamps="us")
    default = spark.conf.get(BATCH_CONF)
    try:
        spark.conf.set(BATCH_CONF, "97")
        small = _replay_all(spark, str(src), tmp_path, "b97")
    finally:
        spark.conf.set(BATCH_CONF, default)
    full = _replay_all(spark, str(src), tmp_path, "bfull")
    for name in KERNELS:
        assert len(full[name]) > 0, name
        pd.testing.assert_frame_equal(small[name], full[name], obj=name)


def test_light_storm_waits_for_its_mass(spark, tmp_path):
    """A light burst followed by a dry gap is not a storm yet: the
    batch fold merges it into the next burst. The stream must emit the
    batch storm, not the light burst alone."""
    values = [0, 1, 0, 0, 0, 0, 0, 0, 3, 3, 0, 0, 0, 0]
    pdf = pd.DataFrame(
        {
            "sid": "s1",
            "ts": pd.date_range("2023-01-01", periods=len(values), freq="D"),
            "value": np.asarray(values, dtype=np.float64),
        }
    )
    params = dict(instant_mass_to_start=1.0, min_storm_total=5.0)
    src = tmp_path / "in"
    src.mkdir()
    pdf.iloc[:7].to_parquet(src / "c0.parquet", coerce_timestamps="us")
    time.sleep(0.05)
    pdf.iloc[7:].to_parquet(src / "c1.parquet", coerce_timestamps="us")
    stream = (
        spark.readStream.schema("sid string, ts timestamp, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        stream_storm_find(stream, **params)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("kf_light_storm")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = [
        (r.start_us, r.stop_us, r.n_points, r.total)
        for r in spark.sql(
            "SELECT * FROM kf_light_storm ORDER BY start_us"
        ).collect()
    ]
    want = [
        (int(s.astype(np.int64)), int(e.astype(np.int64)), n, total)
        for s, e, total, n in storm_find_numpy(
            pdf["ts"].to_numpy(dtype="datetime64[us]"),
            pdf["value"].to_numpy(),
            **params,
        )
    ]
    assert want == [(1672531200000000, 1673308800000000, 10, 7.0)]
    assert got == want
