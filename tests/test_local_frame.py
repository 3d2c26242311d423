"""io.local_frame: small driver-built tables enter the plan as a
LocalRelation, never as a Python RDD. Needs no generated testdata."""

from __future__ import annotations

import numpy as np
import pytest

from metevents_spark.io import local_frame

SCHEMA = "name string, n long, x double"


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


@pytest.mark.parametrize(
    "rows",
    [
        [("a", 1, 0.5), ("b", np.int64(2), 3)],
        [],
    ],
    ids=["rows", "empty"],
)
def test_local_frame_is_a_local_relation(spark, rows):
    df = local_frame(spark, rows, SCHEMA)
    want = spark.createDataFrame(
        [(a, int(n), float(x)) for a, n, x in rows], SCHEMA
    )
    assert df.schema == want.schema
    plan = _optimized(df)
    assert "LocalRelation" in plan, plan
    assert "LogicalRDD" not in plan and "ExistingRDD" not in plan, plan
    assert sorted(df.collect()) == sorted(want.collect())


def test_local_frame_runs_no_job(spark):
    """Building and collecting the table runs no Spark job, so no
    Python worker can start."""
    sc = spark.sparkContext
    sc.setJobGroup("local-frame", "build and collect")
    try:
        assert local_frame(spark, [("a", 1, 1.0)], SCHEMA).collect()
        assert list(sc.statusTracker().getJobIdsForGroup("local-frame")) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
