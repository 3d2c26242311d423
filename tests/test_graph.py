"""part_pagerank's static round loop (operators/graph.py): the rounds
between two convergence checks run as one job, and the caller's AQE
setting survives the loop (tests/test_fixpoint.py covers the raising
case). Graphs are built in ``tmp_path``, so no generated testdata is
needed."""

from __future__ import annotations

import pandas as pd
import pytest

from metevents_spark.cache import release_all
from metevents_spark.operators import graph

AQE = "spark.sql.adaptive.enabled"


def _write_graph(path, orders) -> str:
    rows = [(ok, p) for ok, parts in enumerate(orders) for p in parts]
    pd.DataFrame(rows, columns=["l_orderkey", "l_partkey"]).to_parquet(
        path / "lineitem.parquet"
    )
    return str(path)


@pytest.fixture()
def cycle(tmp_path):
    """2-regular cycle over six parts: uniform ranks are the exact
    fixed point, so the tol=0 check exits after the first batch."""
    parts = [1, 2, 3, 4, 5, 6]
    return _write_graph(tmp_path, list(zip(parts, parts[1:] + parts[:1])))


@pytest.mark.parametrize("before", ["true", "false"])
def test_pagerank_restores_aqe(spark, cycle, before):
    spark.conf.set(AQE, before)
    try:
        got = graph.part_pagerank(spark, cycle).toPandas()
        assert spark.conf.get(AQE) == before
    finally:
        spark.conf.set(AQE, "true")
    assert graph.part_pagerank.last_n_rounds == 3
    assert (got["rank_ppm"] == 1_000_000).all()


def test_pagerank_runs_one_job_per_check(spark, tmp_path):
    """Nine more rounds cost three more jobs: one per convergence
    check, each running its batch of three lazily checkpointed
    rounds. Under AQE every round's exchanges ran as separate jobs
    while the checkpoints were being built."""
    # a path graph has no exact fixed point within 12 rounds
    sf = _write_graph(tmp_path, [(p, p + 1) for p in range(1, 9)])
    sc = spark.sparkContext

    def jobs(n_iter: int) -> int:
        release_all()  # both runs build the adjacency cache afresh
        group = f"pagerank-{n_iter}"
        sc.setJobGroup(group, "round loop")
        try:
            graph.part_pagerank(spark, sf, n_iter=n_iter).toPandas()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert graph.part_pagerank.last_n_rounds == n_iter
        return len(sc.statusTracker().getJobIdsForGroup(group))

    assert jobs(12) - jobs(3) == 3
