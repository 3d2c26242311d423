"""The benchmark's workloads: one closed-loop client, sequential
operations, each checked against its expected result.

Every workload has the same shape: ``warm`` runs each execution path
once on a tiny input (part of set-up), ``run_pass`` runs the workload's
operation set once and checks every output, and ``layers`` holds the
per-layer figures a traced pass and the workload's own probes record.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
import traceback
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from perfbench import prepare as P
from perfbench.trace import GroupStats, Tracer


@dataclass
class Pass:
    """One pass over a workload's operations. Latencies cover each
    operation from its call to its collected result (and, when traced,
    the statistics read after it), not the output check."""

    op_ms: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    events: dict[str, int] = field(default_factory=dict)
    wrong: list[str] = field(default_factory=list)

    @property
    def wall_s(self) -> float:
        return sum(self.op_ms) / 1e3

    def record(self, name: str, seconds: float, ok: bool) -> None:
        self.op_ms.append(seconds * 1e3)
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.wrong.append(name)

    def record_error(self, name: str, t0: float) -> None:
        """An operation that raised counts as failed; the run goes on."""
        traceback.print_exc()
        self.record(name, time.perf_counter() - t0, False)


def _detector_layer(prefix: str, st: GroupStats, build_s: float, exec_s: float,
                    events: int) -> dict[str, float]:
    return {
        f"{prefix}.build_s": build_s,
        f"{prefix}.exec_s": exec_s,
        f"{prefix}.jobs": st.jobs,
        f"{prefix}.stages": st.stages,
        f"{prefix}.tasks": st.tasks,
        f"{prefix}.shuffle_write_bytes": st.shuffle_write_bytes,
        f"{prefix}.cpu_ratio": st.cpu_ratio,
        f"{prefix}.events": events,
    }


class Workload:
    name = ""

    def __init__(self, data_dir: str, expected: dict, tracer: Tracer, seed: int):
        self.seed = seed
        self.dir = data_dir
        self.tiny = os.path.join(data_dir, "tiny")
        self.expected = expected
        self.tracer = tracer
        self.layers: dict[str, float] = {}

    def warm(self, spark) -> None:
        raise NotImplementedError

    def run_pass(self, spark) -> Pass:
        raise NotImplementedError

    def probe_layers(self, spark) -> list[Pass]:
        """Traced run only: per-layer probes beyond the traced pass,
        with their own checked operations."""
        return []


class StationBatch(Workload):
    """Six registry detectors over a station-years events table."""

    name = "station_batch"

    def warm(self, spark) -> None:
        from metevents_spark.queries import QUERIES

        for name in ("extreme_value", "storm_find"):  # window and kernel path
            QUERIES[name](spark, self.tiny).toPandas()

    def run_pass(self, spark) -> Pass:
        from metevents_spark.queries import QUERIES

        out = Pass()
        for name in P.WINDOW_DETECTORS + P.KERNEL_DETECTORS:
            prefix = f"{'detectors' if name in P.WINDOW_DETECTORS else 'grouped'}.{name}"
            t0 = time.perf_counter()
            try:
                with self.tracer.group(prefix) as stats:
                    df = QUERIES[name](spark, self.dir)
                    t1 = time.perf_counter()
                    pdf = df.toPandas()
                    t2 = time.perf_counter()
            except Exception:
                out.record_error(name, t0)
                continue
            out.record(name, time.perf_counter() - t0, self.check(name, pdf))
            out.events[name] = len(pdf)
            if stats:
                self.layers.update(_detector_layer(prefix, stats[0], t1 - t0, t2 - t1, len(pdf)))
        return out

    def check(self, name: str, pdf: pd.DataFrame) -> bool:
        """Full output of a window detector, the sampled stations' output
        of a kernel detector, equal to the oracle's; and every detector
        fires, on events rather than on most rows."""
        n = len(pdf)
        if name in P.KERNEL_DETECTORS:
            pdf = pdf[pdf["sid"].isin(self.expected["sample"])]
        return 0 < n < self.expected["rows"] / 20 and (
            P.result_hash(pdf) == self.expected[name])

    def probe_layers(self, spark) -> list[Pass]:
        """The scan alone, the per-series kernels in-process, a round of
        reference-API calls (after an untraced round that warms their
        paths) and a streaming replay."""
        from metevents_spark.io import series_frame

        with self.tracer.group("io.scan") as stats:
            t0 = time.perf_counter()
            series_frame(spark, self.dir).write.format("noop").mode("overwrite").save()
            self.layers["io.scan_s"] = time.perf_counter() - t0
        self.layers["io.scan_records"] = stats[0].input_records
        with self.tracer.span("kernel"):
            self._kernel_probe()
        api_round = ApiRound(self)
        with self.tracer.paused():
            warm = api_round.run(spark)
        with self.tracer.span("api"):
            traced = api_round.run(spark)
        with self.tracer.span("stream"):
            return [warm, traced, self._stream_probe(spark)]

    def _kernel_probe(self) -> None:
        """In-process cost of the per-series kernels, ms per station-year."""
        from metevents_spark.operators.spikes import spike_mask_numpy
        from metevents_spark.operators.storms import storm_find_numpy

        storm_kw = P.API_CLASSES["StormEvents"][1]
        storm, spike = [], []
        for ts, v in _station_arrays(self.dir, 4):
            t0 = time.perf_counter()
            storm_find_numpy(ts, v, **storm_kw)
            t1 = time.perf_counter()
            spike_mask_numpy(v, prominence=300.0)
            storm.append(t1 - t0)
            spike.append(time.perf_counter() - t1)
        self.layers["kernel.storm_ms_per_series"] = statistics.median(storm) * 1e3
        self.layers["kernel.spike_ms_per_series"] = statistics.median(spike) * 1e3

    def _stream_probe(self, spark) -> Pass:
        """Replay a station subset as a file stream, in time order,
        through ``streaming.stream_storm_find``; check the emitted storms
        against the batch kernel, allowing each station's final,
        still-open storm to be missing."""
        from metevents_spark.streaming.detect import stream_storm_find

        src = os.path.join(self.dir, "stream")
        ckpt = os.path.join(self.dir, "stream-ckpt")
        shutil.rmtree(ckpt, ignore_errors=True)
        schema = spark.read.parquet(src).schema
        stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
        query = (
            stream_storm_find(stream, **P.API_CLASSES["StormEvents"][1])
            .writeStream.format("memory").queryName("perfbench_storms")
            .outputMode("append").option("checkpointLocation", ckpt).start()
        )
        try:
            query.processAllAvailable()
            progress = [p for p in query.recentProgress if p["numInputRows"] > 0]
        finally:
            query.stop()
        got = spark.table("perfbench_storms").toPandas()
        spark.catalog.dropTempView("perfbench_storms")
        shutil.rmtree(ckpt, ignore_errors=True)
        ops = [p["stateOperators"] for p in progress]
        self.layers.update(
            {
                "stream.trigger_ms": statistics.median(
                    p["durationMs"]["triggerExecution"] for p in progress),
                "stream.add_batch_ms": statistics.median(
                    p["durationMs"]["addBatch"] for p in progress),
                "stream.state_rows": sum(o["numRowsTotal"] for o in ops[-1]),
                "stream.state_bytes": sum(o["memoryUsedBytes"] for o in ops[-1]),
                "stream.emitted": len(got),
            }
        )
        out = Pass()
        out.record("stream_storm_find", 0.0, _stream_matches(got, pd.read_parquet(src)))
        return out


def _station_arrays(data_dir: str, n: int):
    pdf = pd.read_parquet(os.path.join(data_dir, "events.parquet"),
                          columns=["user_id", "ts", "value"])
    for _, g in list(pdf.groupby("user_id", sort=True))[:n]:
        g = g.sort_values("ts")
        yield g["ts"].to_numpy(dtype="datetime64[us]"), g["value"].to_numpy(dtype=np.float64)


def _stream_matches(got: pd.DataFrame, rows: pd.DataFrame) -> bool:
    from metevents_spark.operators.storms import storm_find_numpy

    def key(sid, start_us, stop_us, n, total):
        return (str(sid), int(start_us), int(stop_us), int(n), round(float(total), 3))

    cols = ["sid", "start_us", "stop_us", "n_points", "total"]
    emitted = {key(*r) for r in got[cols].itertuples(index=False)}
    batch, last = set(), set()
    for sid, g in rows.groupby("sid", sort=True):
        g = g.sort_values("ts")
        events = storm_find_numpy(
            g["ts"].to_numpy(dtype="datetime64[us]"), g["value"].to_numpy(dtype=np.float64),
            **P.API_CLASSES["StormEvents"][1],
        )
        keys = [key(sid, s.astype(np.int64), e.astype(np.int64), n, t) for s, e, t, n in events]
        batch.update(keys)
        last.update(keys[-1:])
    return len(got) == len(emitted) and emitted <= batch and batch - emitted <= last


class ApiRound:
    """One call to each reference-shaped API class on a single-station
    daily series: construct (lift), ``find``, read ``.events``."""

    def __init__(self, workload: Workload):
        self.w = workload
        data_dir, self.expected = P.cached(
            "api_rounds", workload.seed, os.path.dirname(workload.dir))
        self.series = P.read_api_series(os.path.join(data_dir, "api_series.parquet"))
        self.rounds = 0

    def run(self, spark) -> Pass:
        from metevents_spark import api

        out = Pass()
        for i, (cls_name, (_, params)) in enumerate(P.API_CLASSES.items()):
            idx = (self.rounds + i) % len(self.series)
            t0 = time.perf_counter()
            try:
                with self.w.tracer.group(f"api.{cls_name}") as stats:
                    obj = getattr(api, cls_name)(self.series[idx], spark=spark)
                    t1 = time.perf_counter()
                    obj.find(**params)
                    t2 = time.perf_counter()
                    periods = obj.events
                    t3 = time.perf_counter()
            except Exception:
                out.record_error(cls_name, t0)
                continue
            out.record(cls_name, time.perf_counter() - t0,
                       P.result_hash(P.api_frame(periods)) == self.expected[f"{cls_name}/{idx}"])
            out.events[cls_name] = len(periods)
            if stats:
                p = f"api.{cls_name}"
                self.w.layers.update({
                    f"{p}.lift_ms": (t1 - t0) * 1e3, f"{p}.find_ms": (t2 - t1) * 1e3,
                    f"{p}.collect_ms": (t3 - t2) * 1e3,
                    f"{p}.jobs": stats[0].jobs, f"{p}.tasks": stats[0].tasks,
                })
        self.rounds += 1
        return out


class DriverLoops(Workload):
    """The four iterative registry queries whose plan build runs jobs."""

    name = "driver_loops"

    def warm(self, spark) -> None:
        from metevents_spark.queries import QUERIES

        # the cheapest loop for one round: the first graph plan and the
        # Python workers; the other loops' first-use cost stays measured
        QUERIES["copurchase_bfs_hops"](spark, self.tiny, max_hops=1).toPandas()

    def run_pass(self, spark) -> Pass:
        from metevents_spark.operators import graph
        from metevents_spark.queries import QUERIES

        out = Pass()
        for name in P.LOOPS:
            t0 = time.perf_counter()
            try:
                with self.tracer.group(f"loops.{name}") as stats:
                    df = QUERIES[name](spark, self.dir)
                    t1 = time.perf_counter()
                    pdf = df.toPandas()
                    t2 = time.perf_counter()
            except Exception:
                out.record_error(name, t0)
                continue
            out.record(name, time.perf_counter() - t0,
                       P.result_hash(pdf) == self.expected[name])
            out.events[name] = len(pdf)
            if stats:
                p = f"loops.{name}"
                self.layers.update({
                    f"{p}.build_s": t1 - t0, f"{p}.exec_s": t2 - t1,
                    f"{p}.jobs": stats[0].jobs, f"{p}.stages": stats[0].stages,
                })
        self.layers["loops.part_pagerank.rounds"] = graph.part_pagerank.last_n_rounds
        return out


WORKLOADS = {w.name: w for w in (StationBatch, DriverLoops)}


def per_layer_names() -> dict[str, str]:
    """Every per-layer metric a traced run prints, on every workload
    (0 where the workload does not touch the layer), with its unit."""
    names = {"session.start_s": "s", "trace.overhead_s": "s", "trace.pass_s": "s",
             "io.scan_s": "s", "io.scan_records": "count"}
    for d in P.WINDOW_DETECTORS:
        for m, u in (("build_s", "s"), ("exec_s", "s"), ("jobs", "count"),
                     ("stages", "count"), ("tasks", "count"),
                     ("shuffle_write_bytes", "bytes"), ("cpu_ratio", "ratio"),
                     ("events", "count")):
            names[f"detectors.{d}.{m}"] = u
    for d in P.KERNEL_DETECTORS:
        for m, u in (("exec_s", "s"), ("tasks", "count"),
                     ("shuffle_write_bytes", "bytes"), ("events", "count")):
            names[f"grouped.{d}.{m}"] = u
    names["kernel.storm_ms_per_series"] = "ms"
    names["kernel.spike_ms_per_series"] = "ms"
    for c in P.API_CLASSES:
        for m, u in (("lift_ms", "ms"), ("find_ms", "ms"), ("collect_ms", "ms"),
                     ("jobs", "count"), ("tasks", "count")):
            names[f"api.{c}.{m}"] = u
    for q in P.LOOPS:
        for m, u in (("build_s", "s"), ("exec_s", "s"), ("jobs", "count"),
                     ("stages", "count")):
            names[f"loops.{q}.{m}"] = u
    names["loops.part_pagerank.rounds"] = "count"
    for m, u in (("trigger_ms", "ms"), ("add_batch_ms", "ms"), ("state_rows", "count"),
                 ("state_bytes", "bytes"), ("emitted", "count")):
        names[f"stream.{m}"] = u
    return names
