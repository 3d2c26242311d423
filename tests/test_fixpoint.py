"""The round loop shared by the iterative operators
(``metevents_spark.cache.fixpoint``): when ``settled`` runs, when the
loop stops, which round frames it releases, and that the caller's AQE
setting survives it, also when a callback raises. Frames are small and
built in memory, so no generated testdata is needed."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from metevents_spark.cache import fixpoint, release_all, sum_settled

AQE = "spark.sql.adaptive.enabled"


def _bump(df, _):
    return df.select((F.col("v") + 1).alias("v"))


def _top(df) -> int:
    return df.agg(F.max("v")).first()[0]


def _checks(spark, max_rounds, check_every, stop_at=None):
    """Run ``max_rounds`` increments of ``v`` from 0; returns the value
    ``nxt`` held at each check, and the (state, rounds) result."""
    seen = []

    def settled(prev, nxt):
        seen.append(_top(nxt))
        assert _top(prev) < seen[-1]
        return stop_at is not None and seen[-1] >= stop_at

    got = fixpoint(
        spark, spark.range(4).select(F.lit(0).alias("v")), _bump,
        settled, max_rounds, check_every,
    )
    return seen, got


def test_settled_runs_on_check_rounds_and_after_the_last(spark):
    seen, (state, rounds) = _checks(spark, 7, 3)
    assert seen == [3, 6, 7]
    assert rounds == 7 and _top(state) == 7


def test_loop_stops_at_the_first_settled_check(spark):
    seen, (state, rounds) = _checks(spark, 10, 2, stop_at=3)
    assert seen == [2, 4]
    assert rounds == 4 and _top(state) == 4


def test_zero_rounds_return_the_initial_state(spark):
    seen, (state, rounds) = _checks(spark, 0, 1)
    assert seen == [] and rounds == 0 and _top(state) == 0


def _rdd_id(df) -> int:
    return df._jdf.queryExecution().analyzed().rdd().id()


def _persisted(spark) -> set:
    m = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(k) for k in m.keySet().toArray()}


def test_superseded_rounds_are_released(spark):
    """Every round frame but the returned one is unpersisted once the
    loop returns, and the returned one still collects."""
    release_all()
    before = _persisted(spark)
    state, rounds = fixpoint(
        spark, spark.range(8).select(F.col("id").alias("v")), _bump,
        lambda prev, nxt: False, 5, check_every=2,
    )
    assert rounds == 5
    assert _persisted(spark) - before == {_rdd_id(state)}
    assert sorted(r.v for r in state.collect()) == list(range(5, 13))
    release_all()
    assert _rdd_id(state) not in _persisted(spark)


def test_sum_settled_compares_both_frames(spark):
    a = spark.range(3).select(F.col("id").alias("v"))
    settled = sum_settled("v")
    assert settled(a, a)
    assert not settled(a, a.select((F.col("v") + 1).alias("v")))
    empty = a.filter("v < 0")
    assert settled(empty, empty)


def _raise(*_):
    raise RuntimeError("callback failed")


@pytest.mark.parametrize("failing", ["step", "settled"])
@pytest.mark.parametrize("before", ["true", "false"])
def test_fixpoint_restores_aqe_when_a_callback_raises(spark, failing, before):
    step = _raise if failing == "step" else _bump
    settled = _raise if failing == "settled" else (lambda prev, nxt: False)
    spark.conf.set(AQE, before)
    try:
        with pytest.raises(RuntimeError, match="callback failed"):
            fixpoint(spark, spark.range(2).select(F.lit(0).alias("v")),
                     step, settled, 3)
        assert spark.conf.get(AQE) == before
    finally:
        spark.conf.set(AQE, "true")


def test_rounds_plan_without_aqe(spark):
    modes = []

    def step(df, r):
        modes.append(spark.conf.get(AQE))
        return _bump(df, r)

    def settled(prev, nxt):
        modes.append(spark.conf.get(AQE))
        return False

    spark.conf.set(AQE, "true")
    fixpoint(spark, spark.range(2).select(F.lit(0).alias("v")), step,
             settled, 2)
    assert modes == ["false"] * 4
    assert spark.conf.get(AQE) == "true"

