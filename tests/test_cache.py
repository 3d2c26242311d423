"""Persist hygiene: tracked caches drain between registry queries.

The correctness driver and bench run 50-66 queries on one SparkSession;
operators that persist multi-branch intermediates (LSH band frames,
exact-dedup member maps) must not accumulate in the
storage tier across that session.
"""

from __future__ import annotations

import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from tests.conftest import SF_SMALL


def persisted_rdd_count(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def persisted_rdd_ids(spark) -> set:
    """Ids of currently persisted RDDs. The test asserts on ids IT
    introduced rather than on a session-wide zero: in a full-suite
    session, earlier tests' dereferenced caches (e.g. lazy
    localCheckpoints) are unpersisted by the JVM ContextCleaner only
    after a GC cycle notices them — unrelated stragglers must not fail
    the hygiene check for OUR tracked frames."""
    m = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(k) for k in m.keySet().toArray()}


def drained(spark, ours: set, timeout: float = 10.0) -> set:
    """The subset of ``ours`` still persisted after giving the
    NON-BLOCKING unpersist a moment to land (DataFrame.unpersist()
    defaults to blocking=False, so under machine load the
    cache-manager entry can outlive the release_all() call)."""
    import time

    deadline = time.monotonic() + timeout
    left = persisted_rdd_ids(spark) & ours
    while left and time.monotonic() < deadline:
        time.sleep(0.2)
        left = persisted_rdd_ids(spark) & ours
    return left


def test_registry_queries_release_prior_persists(spark):
    import __spark_entry__ as entrymod
    from metevents_spark.cache import release_all

    release_all()
    qs = entrymod.queries()
    base = persisted_rdd_ids(spark)
    # minhash_near_dup persists member_rep + banded; materialize it
    qs["minhash_near_dup"](spark, SF_SMALL).count()
    ours = persisted_rdd_ids(spark) - base
    assert len(ours) >= 1
    # invoking the NEXT registry query must drop the leftovers before
    # (or while) building its own
    qs["exact_dedup"](spark, SF_SMALL).count()
    assert drained(spark, ours) == set()
    # and a persisting query followed by release_all drains fully
    # (tfidf no longer persists — its df-count is a window now — so
    # use the media near-dup, whose member->rep map persists)
    base = persisted_rdd_ids(spark)
    qs["media_embedding_near_dup"](spark, SF_SMALL).count()
    ours = persisted_rdd_ids(spark) - base
    assert release_all() >= 1
    assert drained(spark, ours) == set()


@pytest.mark.parametrize(
    "query",
    ["bpe_learn", "dedup_clusters", "part_pagerank", "copurchase_bfs_hops"],
)
def test_checkpoint_queries_release_storage(spark, query):
    """localCheckpoint persistence lives on the underlying RDD, where
    DataFrame.unpersist() is a silent no-op — every RDD a loop query
    persisted, checkpoints included, must be gone once the next
    registry query has started, and nothing left for the
    ContextCleaner."""
    import __spark_entry__ as entrymod
    from metevents_spark.cache import release_all

    release_all()
    qs = entrymod.queries()
    base = persisted_rdd_ids(spark)
    qs[query](spark, SF_SMALL).count()
    ours = persisted_rdd_ids(spark) - base
    if query == "bpe_learn":
        # training runs at build time and the returned merge table is a
        # plain local frame: nothing may stay persisted even now
        assert drained(spark, ours) == set()
    else:
        assert len(ours) >= 1
    qs["exact_dedup"](spark, SF_SMALL).count()
    assert drained(spark, ours) == set()
