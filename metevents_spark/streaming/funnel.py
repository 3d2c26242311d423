"""Streaming funnel progression: per-user stage advancement as events
arrive, emitted exactly once per (user, stage).

Semantics — progression, not first-touch: a user advances to stage k
when an event of stages[k] arrives (in processed order) with event
time at-or-after the stage-(k-1) qualification time. Progression is
MONOTONE — once a stage is reached it stays reached — which is what
makes append-mode streaming sound: late events can never retract an
emitted conversion, they can only fail to advance the chain (the
standard contract for streaming funnels).

The batch operator (relational/product.py funnel_frame) deliberately
uses the stricter FIRST-touch semantics instead: there, the stage-k
candidate is the user's globally-earliest stage-k event, which can be
invalidated by late data and therefore only works with a complete
dataset. The two agree whenever events arrive in event-time order and
each user's first qualifying event per stage is the one that advances
the chain.

State per user is two longs (stage index + qualification time) — no
buffering, so state size is O(users) regardless of stream length.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from metevents_spark.streaming.detect import _ts_us, keyed_fold

FUNNEL_STAGES = ("signup", "view", "click", "purchase")

FUNNEL_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("stage", LongType()),
        StructField("event_type", StringType()),
        StructField("reached_us", LongType()),
    ]
)

# (next stage index to reach, qualification time of the last reached
# stage in epoch micros; -1 before any stage is reached)
FUNNEL_STATE_SCHEMA = StructType(
    [
        StructField("next_stage", LongType()),
        StructField("q_us", LongType()),
    ]
)


def advance_funnel(
    state: tuple[int, int] | None,
    events: list[tuple[str, int]],
    stages: tuple[str, ...],
) -> tuple[list[tuple[int, str, int]], tuple[int, int]]:
    """Pure per-user step (shared by the operator and its tests):
    fold time-sorted (event_type, ts_us) pairs into the progression
    chain. Returns (emissions, new_state); emissions are
    (stage_1based, event_type, reached_us)."""
    next_stage, q_us = state if state is not None else (0, -1)
    out: list[tuple[int, str, int]] = []
    for etype, ts_us in events:
        if next_stage >= len(stages):
            break
        if etype == stages[next_stage] and ts_us >= q_us:
            out.append((next_stage + 1, etype, ts_us))
            q_us = ts_us
            next_stage += 1
    return out, (next_stage, q_us)


def _funnel_step(key, state, rows, stages: tuple[str, ...]):
    emitted, new_state = advance_funnel(
        state, list(zip(rows["event_type"].tolist(), _ts_us(rows).tolist())), stages
    )
    return tuple(zip(*[(key[0], *e) for e in emitted])), new_state


def stream_funnel(
    stream_df: DataFrame, stages: tuple[str, ...] = FUNNEL_STAGES
) -> DataFrame:
    """Stateful streaming funnel over an (user_id, event_type, ts)
    stream. Emits one append-mode row the moment a user reaches each
    stage; each trigger's events fold in ts order (``keyed_fold``)."""
    return keyed_fold(
        stream_df.select("user_id", "event_type", "ts"),
        ["user_id"],
        partial(_funnel_step, stages=stages),
        FUNNEL_OUTPUT_SCHEMA,
        FUNNEL_STATE_SCHEMA,
    )
