"""Streaming throughput / soak bench: the scale-evidence counterpart
of bench.py for the streaming tier (r11 verdict item 8; extended to
EVERY streaming kernel in r13 — verdict item 3).

The batch registry has the 10x sweep (ORACLE_sf1.json / BENCH_sf1);
the streaming kernels had parity + chunking-invariance tests at toy
scale only. This tool replays the REAL sf-dir tables as bounded file
streams through every streaming kernel the package ships — the
dedup-on-ingest pair (documents/embeddings), the per-series stateful
detectors, and the windowed-aggregate kernels over the events frame —
and records a committed throughput + state-size datapoint per kernel:

  - rows/s over the whole replay (wall clock from first trigger to
    drain, and the engine's own summed triggerExecution for
    cross-checking),
  - micro-batch count (the replay is chunked so the state store is
    exercised across many triggers, not one big batch),
  - state rows (= keys: shards / series ids / windows) and state-store
    memoryUsedBytes from StreamingQueryProgress.stateOperators, plus
    the derived bytes/key,
  - the O(1)-per-key check (r13): bytes/key measured at ~half the
    replay vs at the end; ``state_growth`` is the ratio. A kernel
    whose per-key state is O(1) holds ~1.0 (keys arrive, bytes/key
    flat); a kernel accumulating per-key history drifts up. The
    sharded dedup kernels are the DOCUMENTED exception — their key is
    the shard and the per-BUCKET bound is max_bucket/max_block, so
    bytes/shard grows linearly with accepted sketch mass by design
    (see streaming/dedup.py); ``o1_exempt`` marks them.

Progress accounting uses a spark.sql.streaming.numRecentProgressUpdates
raised above the chunk count (r12 advisor fix): the default retains
only the last 100 progress records, so replays chunked finer silently
undercounted numInputRows and inflated rows/s against the wall clock.

Writes ONE JSON object to STREAM_BENCH.json at the repo root (and
prints it). Run:  python tools/stream_bench.py [kernel ...]
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_STREAM_CHUNKS (default 16 micro-batch files/table).

At 100 TB: these numbers are per-core-ish local[32] throughput; the
kernels shard by their state key (shard, sid, window), so cluster
throughput scales with executors until a single key's state breaks
the per-key bound — which is exactly what bytes/key + state_growth
monitor.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# kernels the O(1)-per-key growth flag does NOT judge:
#  - minhash/embedding dedup: the key is a coalesced SHARD; bytes/shard
#    grows with accepted sketch mass by design (streaming/dedup.py);
#  - windowed-aggregate kernels: state is per OPEN window and governed
#    by watermark eviction — windows opening/closing swings bytes/key
#    without any per-key leak (bounded by construction);
#  - storm_find: the per-sid point buffer holds the open
#    storm's points (detect.py), not a constant — a burst lighter than
#    min_storm_total keeps its dry tail buffered until the next burst.
O1_EXEMPT = {
    "minhash_dedup",
    "embedding_near_dup",
    "daily_rollup",
    "ohlc",
    "sessions",
    "value_quantiles",
    "drift",
    "storm_find",
}


def _chunk_table(pdf, out_dir: str, n_chunks: int) -> int:
    """Write pdf as n_chunks parquet files (the micro-batch replay)."""
    os.makedirs(out_dir)
    n = len(pdf)
    for i in range(n_chunks):
        lo, hi = i * n // n_chunks, (i + 1) * n // n_chunks
        pdf.iloc[lo:hi].to_parquet(
            os.path.join(out_dir, f"chunk{i:04d}.parquet"),
            coerce_timestamps="us",
        )
    return n


def _state_of(progress: dict) -> tuple[int, int]:
    rows = nbytes = 0
    for so in progress.get("stateOperators", []):
        rows += so.get("numRowsTotal", 0)
        nbytes += so.get("memoryUsedBytes", 0)
    return rows, nbytes


def _drain(out_df, ckpt: str) -> dict:
    """Run the streaming query to completion on the noop sink and
    return throughput + state metrics from its progress records."""
    q = (
        out_df.writeStream.outputMode("append")
        .format("noop")
        .option("checkpointLocation", ckpt)
        .start()
    )
    t0 = time.perf_counter()
    q.processAllAvailable()
    wall_s = time.perf_counter() - t0
    progresses = [json.loads(p.json) for p in q.recentProgress]
    q.stop()
    in_rows = sum(p.get("numInputRows", 0) for p in progresses)
    trig_ms = sum(
        p.get("durationMs", {}).get("triggerExecution", 0)
        for p in progresses
    )
    # state trajectory: (rows, bytes) per progress record that has one
    traj = [s for s in (_state_of(p) for p in progresses) if s[0]]
    state_rows, state_bytes = traj[-1] if traj else (0, 0)
    bpk = state_bytes / state_rows if state_rows else None
    growth = None
    if len(traj) >= 4:
        mid_rows, mid_bytes = traj[len(traj) // 2]
        if mid_rows and bpk:
            growth = round(bpk / (mid_bytes / mid_rows), 3)
    n_batches = sum(1 for p in progresses if p.get("numInputRows", 0) > 0)
    return {
        "rows": in_rows,
        "wall_s": round(wall_s, 3),
        "rows_per_s": round(in_rows / wall_s, 1) if wall_s > 0 else None,
        "engine_ms": trig_ms,
        "batches": n_batches,
        "state_rows": state_rows,
        "state_bytes": state_bytes,
        "bytes_per_key": round(bpk, 1) if bpk else None,
        "state_growth": growth,
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    n_chunks = int(os.environ.get("SPARK_GRAFT_STREAM_CHUNKS", "16"))
    only = set(sys.argv[1:])
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf = -1.0

    import pandas as pd

    os.environ.setdefault("SPARK_GRAFT_SHUFFLE", "8")
    from metevents_spark.session import get_spark
    from metevents_spark.streaming import (
        stream_burst_collapse,
        stream_conversion_lag,
        stream_counter_rate,
        stream_cusum,
        stream_daily_rollup,
        stream_dedup,
        stream_drift,
        stream_embedding_near_dup,
        stream_funnel,
        stream_holt,
        stream_minhash_dedup,
        stream_ohlc,
        stream_p2_quantile,
        stream_purchase_attribution,
        stream_sessions,
        stream_storm_find,
        stream_time_weighted,
        stream_value_quantiles,
        stream_zscore,
    )

    spark = get_spark(app_name="metevents-spark-stream-bench")
    spark.sparkContext.setLogLevel("ERROR")
    # r12 advisor fix: recentProgress retains only the last N records
    # (default 100); keep every chunk's record or rows/s lies
    spark.conf.set(
        "spark.sql.streaming.numRecentProgressUpdates",
        str(n_chunks + 64),
    )

    work = tempfile.mkdtemp(prefix="stream_bench_")

    # ---- replay inputs -------------------------------------------
    docs = pd.read_parquet(os.path.join(sf_dir, "documents.parquet"))[
        ["doc_id", "text"]
    ].sort_values("doc_id")
    _chunk_table(docs, f"{work}/docs_in", n_chunks)

    emb = pd.read_parquet(os.path.join(sf_dir, "embeddings.parquet"))[
        ["vec_id", "label", "embedding"]
    ].sort_values("vec_id")
    _chunk_table(emb, f"{work}/emb_in", n_chunks)

    ev = pd.read_parquet(os.path.join(sf_dir, "events.parquet"))
    ev = (
        ev.assign(sid=ev["user_id"].astype(str), seq=ev["event_id"])
        .loc[
            :,
            [
                "sid", "ts", "value", "seq", "user_id", "event_type",
                "event_id",
            ],
        ]
        .sort_values(["ts", "seq"])  # arrival order = event time
    )
    _chunk_table(ev, f"{work}/ev_in", n_chunks)
    EV_SCHEMA = (
        "sid string, ts timestamp, value double, seq long,"
        " user_id long, event_type string, event_id long"
    )

    def doc_stream():
        return (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{work}/docs_in")
        )

    def emb_stream():
        return (
            spark.readStream.schema(
                "vec_id long, label int, embedding array<float>"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{work}/emb_in")
        )

    def ev_stream(*cols):
        s = (
            spark.readStream.schema(EV_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{work}/ev_in")
        )
        return s.select(*cols) if cols else s

    from metevents_spark.streaming.drift import drift_reference

    ref = drift_reference(spark, sf_dir)

    SERIES = ("sid", "ts", "value", "seq")
    # one entry per streaming kernel: name -> stream-frame thunk
    KERNELS = {
        "zscore": lambda: stream_zscore(
            ev_stream(*SERIES), z_thresh=3.0, min_n=30
        ),
        "minhash_dedup": lambda: stream_minhash_dedup(
            doc_stream(), threshold=0.5
        ),
        "embedding_near_dup": lambda: stream_embedding_near_dup(
            emb_stream()
        ),
        "cusum": lambda: stream_cusum(ev_stream(*SERIES), h=5.0, min_n=30),
        "holt": lambda: stream_holt(ev_stream(*SERIES), alpha=0.3, beta=0.1),
        "storm_find": lambda: stream_storm_find(ev_stream(*SERIES)),
        "counter_rate": lambda: stream_counter_rate(ev_stream(*SERIES)),
        "time_weighted": lambda: stream_time_weighted(ev_stream(*SERIES)),
        "burst_collapse": lambda: stream_burst_collapse(
            ev_stream("sid", "ts", "seq", "event_type")
        ),
        "p2_quantile": lambda: stream_p2_quantile(ev_stream(*SERIES)),
        "dedup": lambda: stream_dedup(
            ev_stream("sid", "ts", "value", "seq", "event_id"),
            ["event_id"],
            watermark="10 days",
        ),
        "ohlc": lambda: stream_ohlc(
            ev_stream(*SERIES), watermark="0 seconds"
        ),
        "daily_rollup": lambda: stream_daily_rollup(
            ev_stream("ts", "event_type", "value"), watermark="0 seconds"
        ),
        "sessions": lambda: stream_sessions(
            ev_stream("user_id", "ts", "value"),
            gap="4 hours",
            watermark="0 seconds",
        ),
        "funnel": lambda: stream_funnel(
            ev_stream("user_id", "ts", "event_type")
        ),
        "purchase_attribution": lambda: stream_purchase_attribution(
            ev_stream("sid", "ts", "event_type", "seq")
        ),
        "conversion_lag": lambda: stream_conversion_lag(
            ev_stream("sid", "ts", "event_type", "seq")
        ),
        "value_quantiles": lambda: stream_value_quantiles(
            ev_stream("ts", "event_type", "value"),
            window="1 week",
            watermark="0 seconds",
        ),
        "drift": lambda: stream_drift(
            ev_stream("ts", "event_type", "value"),
            ref,
            window="1 week",
            watermark="0 seconds",
        ),
    }

    results: dict[str, dict] = {}
    try:
        for name, thunk in KERNELS.items():
            if only and name not in only:
                continue
            try:
                rec = _drain(thunk(), f"{work}/ckpt_{name}")
            except Exception as exc:  # record, keep benching the rest
                rec = {"error": f"{type(exc).__name__}: {exc}"[:300]}
            if name in O1_EXEMPT:
                rec["o1_exempt"] = True
            results[name] = rec
            print(f"{name}: {rec}", file=sys.stderr)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    flagged = sorted(
        n
        for n, r in results.items()
        if n not in O1_EXEMPT
        and (r.get("state_growth") or 0) > 1.5
        and r.get("state_rows", 0) >= 50  # tiny stores: store overhead
    )
    record = {
        "metric": "stream_bench",
        "sf": sf,
        "n_chunks": n_chunks,
        "growth_flagged": flagged,
        "pipelines": results,
    }
    out_path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "STREAM_BENCH.json",
    )
    if not only:  # partial runs print but don't clobber the artifact
        with open(out_path, "w") as f:
            json.dump(record, f, indent=1, sort_keys=True)
            f.write("\n")
    print(json.dumps(record, sort_keys=True))


if __name__ == "__main__":
    main()
