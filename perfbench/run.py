"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Inputs and expected results come from
the seed (``prepare.py``, in a child process, cached per seed under
``.perfbench/``). Then Spark is set up once (JVM launch, session start
and a warm-up over a tiny input) and the workload's pass runs until
``--seconds`` have elapsed, every output checked. The last stdout line
is one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``: the end-to-end metrics, or with ``--trace 1`` the
per-layer metrics of one traced pass (and, on ``station_batch``, of
the layer probes after it).
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shlex
import signal
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
DEADLINE_S = 175  # the run is killed, without a result, past this
#: end-to-end metrics of an untraced run, with their units
END_TO_END = {"setup_s": "s", "pass_s": "s", "driver_mem_mb": "MB"}


def _environment() -> None:
    """Keep every file Spark writes inside the checkout, give the Python
    workers this checkout's package, and pin the parallelism: local[nproc]
    and 2 x nproc shuffle partitions (the library default of 32 targets
    local[32]; on 4 cores it costs every per-series kernel call ~2 s of
    Python task overhead)."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(WORK, "warehouse")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--driver-java-options "
        + shlex.quote(f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}")
        + " pyspark-shell"
    )
    os.environ.pop("SPARK_GRAFT_CPUS", None)
    os.environ["SPARK_GRAFT_SHUFFLE"] = str(2 * (os.cpu_count() or 1))


def _memory_mb(spark) -> dict[str, float]:
    """Driver memory in MB. ``driver`` (the gated metric) is the JVM heap
    still in use once full collections stop freeing memory, plus this
    Python process's peak resident set: what the driver holds on to.
    One collection is not enough: it lets Spark's context cleaner drop
    shuffle and broadcast state that only a later collection frees, and
    the heap after it read 270 or 530 MB on the same input. The JVM's
    peak resident set and its non-heap use (JIT code cache, metaspace)
    move with collector and compiler timing by tens of percent from run
    to run, so they are reported beside it, not gated."""
    from pyspark import SparkContext

    jvm = spark._jvm
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    heaps = []
    for _ in range(12):  # until two collections in a row free under 1 %
        jvm.System.gc()
        time.sleep(0.3)
        heaps.append(mx.getHeapMemoryUsage().getUsed() / 2**20)
        if len(heaps) >= 3 and heaps[-3] <= 1.01 * heaps[-1]:
            break
    heap = min(heaps)
    python = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    with open(f"/proc/{SparkContext._gateway.proc.pid}/status") as f:
        jvm_peak = next(int(l.split()[1]) for l in f if l.startswith("VmHWM:")) / 1024
    return {"driver": heap + python, "jvm_heap": heap, "python_peak_rss": python,
            "jvm_non_heap": mx.getNonHeapMemoryUsage().getUsed() / 2**20,
            "jvm_peak_rss": jvm_peak, "collections": len(heaps)}


def _setup(workload, nproc: int) -> tuple:
    """Launch the JVM, start the session and warm up: what every user
    process pays before its first query. Returns the session, the
    set-up time and the session-start time."""
    from metevents_spark import get_spark, release_caches
    from metevents_spark.session import tune_session

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", master=f"local[{nproc}]")
    spark.sparkContext.setLogLevel("ERROR")
    tune_session(spark)
    start = time.perf_counter() - t0
    workload.warm(spark)
    release_caches()
    return spark, time.perf_counter() - t0, start


def _shutdown(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)
    to exit."""
    from pyspark import SparkContext

    from metevents_spark import release_caches

    release_caches()
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)


def run(workload_name: str, seed: int, seconds: float, traced: bool) -> dict:
    from bench import _cpu_probe_parallel
    from perfbench.prepare import cached
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS, per_layer_names

    load_start = os.getloadavg()[0]
    t_start = time.perf_counter()
    data_dir, expected = cached(workload_name, seed, WORK)
    t_prepared = time.perf_counter()
    nproc = os.cpu_count() or 1
    tracer = Tracer()
    workload = WORKLOADS[workload_name](data_dir, expected, tracer, seed)
    spark, setup, start = _setup(workload, nproc)
    tracer.sc = spark.sparkContext
    t_set_up = time.perf_counter()
    passes = []
    try:
        if traced:
            # the traced pass is the first after set-up, as the measured
            # pass of an untraced run is, so its layers break that down
            tracer.enabled = True
            with tracer.span(workload_name):
                passes = [workload.run_pass(spark)]
            overhead = tracer.own_s
            with tracer.span(f"{workload_name}.probes"):
                passes += workload.probe_layers(spark)
        else:
            t0 = time.perf_counter()
            while not passes or time.perf_counter() - t0 < seconds:
                passes.append(workload.run_pass(spark))
        t_measured = time.perf_counter()
        memory = _memory_mb(spark)
        partitions = spark.conf.get("spark.sql.shuffle.partitions")
    finally:
        _shutdown(spark)

    attempted = sum(p.attempted for p in passes)
    failed = sum(p.failed for p in passes)
    timed = [p for p in passes if p.op_ms and p.wall_s]
    if traced:
        units = per_layer_names()
        layers = dict.fromkeys(units, 0.0)
        layers.update({k: v for k, v in workload.layers.items() if k in units})
        layers["session.start_s"] = start
        layers["trace.overhead_s"] = overhead
        layers["trace.pass_s"] = passes[0].wall_s
        metrics = {k: {"value": float(v), "unit": units[k]} for k, v in layers.items()}
        tracer.dump(os.path.join(WORK, f"trace-{workload_name}-s{seed}.json"))
    else:
        values = {
            "setup_s": setup,
            "pass_s": statistics.median(p.wall_s for p in timed),
            "driver_mem_mb": memory["driver"],
        }
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}
    info = {
        "workload": workload_name, "seed": seed, "traced": traced,
        "error_rate": failed / attempted, "wrong": [n for p in passes for n in p.wrong],
        "passes": len(timed),
        "ops": sum(len(p.op_ms) for p in timed),
        "events": timed[0].events, "op_ms": [p.op_ms for p in timed],
        "session_start_s": start,
        "op_p50_ms": statistics.median(ms for p in timed for ms in p.op_ms),
        "memory_mb": memory,
        "phase_s": {"prepare": t_prepared - t_start, "set_up": t_set_up - t_prepared,
                    "measure": t_measured - t_set_up,
                    "shut_down": time.perf_counter() - t_measured},
        "nproc": nproc, "shuffle_partitions": partitions,
        "load_1m": [load_start, os.getloadavg()[0]],
        "cpu_probe_parallel_s": _cpu_probe_parallel(nproc),
    }
    print(json.dumps({"info": info}))
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "metevents_spark", "__init__.py")):
        print(f"no metevents_spark package under {ROOT}; run from a checkout",
              file=sys.stderr)
        return 2
    signal.alarm(DEADLINE_S)
    sys.path.insert(0, ROOT)
    import metevents_spark  # noqa: F401  (this checkout's package, first)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    _environment()
    result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
