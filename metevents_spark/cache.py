"""Tracked persist registry: release cached intermediates between queries.

Several operators persist an intermediate that feeds multiple branches
of one query plan (LSH band frames, exact-dedup member maps, TF-IDF
term counts). Those frames are part of the RETURNED DataFrame's lineage,
so the operator cannot unpersist before the caller materializes the
result — but leaving them cached leaks storage across a long session
(the correctness driver and bench run the whole registry on one
SparkSession). Operators register persists via ``track``; the query
registry (metevents_spark.queries) releases everything tracked at the
START of each query, after the previous query's result has been
materialized. Unpersist only drops the cache, never lineage, so a
caller that re-materializes an old result is still correct — it just
recomputes.
"""

from __future__ import annotations

from typing import Callable, TypeVar

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_TRACKED: list[DataFrame] = []
_AQE = "spark.sql.adaptive.enabled"

T = TypeVar("T", bound=DataFrame)
Step = Callable[[DataFrame, int], DataFrame]  # (state, round) -> next
Check = Callable[[DataFrame, DataFrame], bool]  # (prev, nxt) -> settled


def track(df: T) -> T:
    """Register a persisted DataFrame for later release; returns it."""
    _TRACKED.append(df)
    return df


def release(df: DataFrame) -> None:
    """Unpersist ``df`` whether it was cached via ``persist()`` (the
    CacheManager path) or via ``localCheckpoint`` — whose persistence
    lives on the UNDERLYING RDD, where ``DataFrame.unpersist()`` is a
    silent no-op: a checkpointed frame's analyzed plan is a LogicalRDD
    and the storage entry belongs to that RDD, so it must be released
    directly (otherwise it lingers until the JVM ContextCleaner
    GC-notices the dropped reference — unbounded storage-tier drift
    across a long session that runs the whole registry)."""
    df.unpersist()
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getName().endswith(".LogicalRDD"):
            plan.rdd().unpersist(False)
    except Exception:
        pass  # defensive: a failed release must never fail a query


def release_all() -> int:
    """Unpersist every tracked DataFrame (no-op on already-released
    ones). Returns how many frames were released."""
    n = len(_TRACKED)
    while _TRACKED:
        release(_TRACKED.pop())
    return n


def fixpoint(
    spark: SparkSession, state: DataFrame, step: Step, settled: Check,
    max_rounds: int, check_every: int = 1,
) -> tuple[DataFrame, int]:
    """The round loop of the iterative operators: ``state = step(state,
    r)`` for r = 0, 1, ... until ``settled(prev, nxt)`` holds or
    ``max_rounds`` rounds have run. Returns (state, rounds run).

    - Static plans. ``spark.sql.adaptive.enabled`` is off while the
      loop runs; the caller's value is restored on return and on raise,
      so the returned frame is planned under the caller's setting. The
      setting is session-wide: a query planned concurrently on the same
      session meanwhile also runs without AQE.
    - Lazy checkpoint per round. Each round's frame is
      ``step(state, r).localCheckpoint(eager=False)``, tracked, which
      keeps plan depth constant across rounds. Under AQE a lazy
      checkpoint would execute its adaptive plan while the frame is
      built (each exchange a separate job) and scan back as
      UnknownPartitioning; with static plans no job runs, and the frame
      keeps its hash partitioning, so a round that joins on the same
      key plans no exchange for it.
    - Checks. ``settled`` runs after every ``check_every``-th round and
      after the last. It must collect one row from an action that reads
      every partition of ``nxt`` (an aggregate or an ordered top-k),
      not a bare ``limit``/``take``: that action materializes every
      round since the previous check, as one job.
    - Release. A lazy checkpoint must outlive the frames that read it
      until those have materialized; released earlier, its blocks are
      lost or recomputed by an extra job. So the round frames
      superseded since the last check are released right after it. The
      returned frame stays tracked for the next registry query; the
      initial ``state`` belongs to the caller.
    """
    aqe = spark.conf.get(_AQE)
    spark.conf.set(_AQE, "false")
    try:
        held: list[DataFrame] = []  # round frames not yet released
        for r in range(max_rounds):
            nxt = track(step(state, r).localCheckpoint(eager=False))
            if (r + 1) % check_every == 0 or r + 1 == max_rounds:
                done = settled(state, nxt)
                while held:
                    release(held.pop())
                if done:
                    return nxt, r + 1
            held.append(nxt)
            state = nxt
        return state, max_rounds
    finally:
        spark.conf.set(_AQE, aqe)


def sum_settled(col: str) -> Check:
    """A ``fixpoint`` check for state that only ever moves one way in
    ``col``: settled when SUM(col) is unchanged, computed as one
    aggregate over both frames."""

    def settled(prev: DataFrame, nxt: DataFrame) -> bool:
        v = F.col(col)
        d = prev.select(v).unionByName(nxt.select((-v).alias(col)))
        return not d.agg(F.sum(col)).first()[0]

    return settled
