"""Pin every streaming kernel's state and output schema.

A ``*_STATE_SCHEMA`` is the positional on-disk layout of each running
stream's checkpoint (streaming/detect.py module docstring): renaming,
retyping or reordering a field breaks every checkpoint already
written. A new field may only be appended, and appending one means
extending the pin below on purpose. An ``*_OUTPUT_SCHEMA`` is the
schema of the rows a stream has already emitted downstream.

Data-independent and JVM-free: it reads module constants only.
"""

from __future__ import annotations

import pytest
from pyspark.sql.types import StructType

from metevents_spark.streaming import dedup, detect, funnel

_B, _D, _S = "bigint", "double", "string"

PINNED = {
    detect: {
        "STORM_OUTPUT_SCHEMA": [
            ("sid", _S), ("start_us", _B), ("stop_us", _B),
            ("n_points", _B), ("total", _D),
        ],
        "STORM_STATE_SCHEMA": [
            ("ts_us", "array<bigint>"), ("vals", "array<double>"),
            ("at_head", _B),
        ],
        "ZSCORE_OUTPUT_SCHEMA":
            "sid string, ts timestamp, value double, z double",
        "ZSCORE_STATE_SCHEMA": [("n", _B), ("s1", _D), ("s2", _D)],
        "CUSUM_OUTPUT_SCHEMA":
            "sid string, ts timestamp, value double, s_pos double,"
            " s_neg double",
        "CUSUM_STATE_SCHEMA": [
            ("n", _B), ("s1", _D), ("s2", _D), ("cp", _D), ("cpmin", _D),
            ("cn", _D), ("cnmin", _D),
        ],
        "HOLT_OUTPUT_SCHEMA":
            "sid string, ts timestamp, value double, level double,"
            " trend double",
        "HOLT_STATE_SCHEMA": [("l", _D), ("b", _D)],
        "COUNTER_OUTPUT_SCHEMA":
            "sid string, ts timestamp, value double, n_points long,"
            " resets long, increase double, rate_per_hour double",
        "COUNTER_STATE_SCHEMA": [
            ("last_v", _D), ("n", _B), ("resets", _B), ("inc", _D),
            ("first_us", _B), ("last_us", _B),
        ],
        "TWA_OUTPUT_SCHEMA":
            "sid string, bucket_day timestamp, n_segments long,"
            " twa double, simple_avg double",
        "TWA_STATE_SCHEMA": [
            ("prev_us", _B), ("prev_v", _D), ("open_day_us", _B),
            ("n_seg", _B), ("sum_dt", _D), ("sum_mass", _D), ("sum_v", _D),
            ("n_late", _B), ("prev_seq", _B),
        ],
        "BURST_OUTPUT_SCHEMA":
            "sid string, event_type string, first_ts timestamp,"
            " first_seq long, n_collapsed long, span_us long",
        "BURST_STATE_SCHEMA": [
            ("first_us", _B), ("first_seq", _B), ("n", _B), ("last_us", _B),
            ("n_late", _B), ("last_seq", _B),
        ],
        "ATTR_OUTPUT_SCHEMA":
            "sid string, purchase_id long, purchase_ts timestamp,"
            " touch_id long, touch_type string, gap_us long",
        "ATTR_STATE_SCHEMA": [
            ("t_us", _B), ("t_id", _B), ("t_type", _S), ("last_us", _B),
            ("n_late", _B), ("last_seq", _B),
        ],
        "CONV_OUTPUT_SCHEMA":
            "sid string, signup_ts timestamp, purchase_ts timestamp,"
            " lag_us long",
        "CONV_STATE_SCHEMA": [
            ("signup_us", _B), ("converted", _B), ("last_us", _B),
            ("n_late", _B), ("last_seq", _B),
        ],
        "P2_OUTPUT_SCHEMA":
            "sid string, seq long, ts timestamp, n long, q_est double",
        "P2_STATE_SCHEMA": [
            ("heights", "array<double>"), ("npos", "array<bigint>"),
            ("buf", "array<double>"), ("last_us", _B), ("n_late", _B),
            ("last_seq", _B),
        ],
    },
    funnel: {
        "FUNNEL_OUTPUT_SCHEMA": [
            ("user_id", _B), ("stage", _B), ("event_type", _S),
            ("reached_us", _B),
        ],
        "FUNNEL_STATE_SCHEMA": [("next_stage", _B), ("q_us", _B)],
    },
    dedup: {
        "PAIR_OUTPUT_SCHEMA": "doc_a long, doc_b long, est_jaccard double",
        "SHARD_STATE_SCHEMA": [
            ("doc_ids", "binary"), ("doc_grp", "binary"),
            ("grp_band", "binary"), ("grp_bucket", "binary"),
            ("sigs", "binary"), ("closed_band", "binary"),
            ("closed_bucket", "binary"),
        ],
        "EMB_PAIR_OUTPUT_SCHEMA":
            "vec_a long, vec_b long, label int, cosine double",
        "EMB_BLOCK_STATE_SCHEMA": [
            ("vec_ids", "array<bigint>"), ("flat", "binary"),
            ("closed", "int"),
        ],
    },
}


def _layout(schema):
    if isinstance(schema, StructType):
        return [(f.name, f.dataType.simpleString()) for f in schema.fields]
    return schema


@pytest.mark.parametrize("module", list(PINNED), ids=lambda m: m.__name__)
def test_every_schema_is_pinned(module):
    names = {
        n for n in vars(module)
        if n.endswith(("_STATE_SCHEMA", "_OUTPUT_SCHEMA"))
    }
    assert names == set(PINNED[module])


@pytest.mark.parametrize(
    "module,name",
    [(m, n) for m, schemas in PINNED.items() for n in schemas],
    ids=lambda x: getattr(x, "__name__", x),
)
def test_schema_layout_unchanged(module, name):
    assert _layout(getattr(module, name)) == PINNED[module][name]
