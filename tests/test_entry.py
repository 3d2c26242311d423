"""Driver-contract smoke: entry() runs, every queries() entry returns a
DataFrame at sf0.001, and a sample of oracle pairs hash-match DuckDB
(the full sweep lives in tools/check_oracle.py)."""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entrymod
from tools.check_oracle import TABLES, frame_hash, normalize

SF = "/root/testdata/sf0.001"

SAMPLE_ORACLE = ["extreme_value", "data_gap", "sessionize", "pricing_summary",
                 "knn_cosine", "text_stats"]


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() >= 0
    assert set(df.columns) == {"sid", "start", "stop", "duration_us",
                               "n_points", "total"}


def test_queries_all_run(spark):
    """Every registry entry executes at sf0.001. Keys that
    tests/test_oracle_parity.py already runs END TO END in this same
    suite (full Spark execution + DuckDB hash compare) are skipped
    here — re-executing them as a smoke check doubled suite wall time
    for zero extra signal. Since r13 the parity suite covers EVERY
    oracle-backed key, so the set difference is the rows-only ops
    alone — each still executes below or in its dedicated value-level
    suite, so every registry key runs exactly once per suite."""
    from tests.test_oracle_parity import oracle_backed_queries

    covered = set(oracle_backed_queries())
    # the BPE pair runs END TO END with value-level reference parity in
    # tests/test_bpe.py; re-running the training job here is
    # the same doubled-wall-time-for-zero-signal case as the parity
    # keys below
    covered |= {"bpe_learn", "bpe_token_count"}
    # rows-only keys whose DEDICATED suites already execute them end to
    # end with value-level assertions (recall floors, numpy
    # differentials, equals-exact, error bounds) — the heavy training/
    # all-variant meters that dominated this smoke test's wall time:
    covered |= {
        "ann_recall_report",      # tests/test_neardup.py (recall floors)
        "dedup_recall_report",    # tests/test_round7_ops.py (ground truth)
        "knn_lsh",                # tests/test_neardup.py
        "knn_ivf",                # tests/test_neardup.py
        "knn_ivf_pq",             # tests/test_neardup.py
        "pca_embeddings",         # tests/test_pca.py (numpy differential)
        "embedding_whitening",    # tests/test_pca.py (identity covariance)
        "semantic_dedup",         # tests/test_semdedup.py
        "kmeans_embeddings",      # tests/test_semdedup.py
        "media_embedding_near_dup",  # tests/test_media_embed.py
        "rolling_reach_hll",      # error-bound vs exact (test_round8b_ops)
        "vocab_top_terms_approx", # equals-exact recount (test_pipeline)
    }
    # NOTE: user_reach_approx / corpus_summary_approx /
    # value_quantiles_approx stay in this smoke — they have no
    # dedicated value-level suite (HLL/quantile-sketch estimates are
    # implementation-defined; their driver rows are rows-only).
    qs = entrymod.queries()
    assert len(qs) >= 20
    for name, fn in qs.items():
        if name in covered:
            continue
        n = fn(spark, SF).limit(5).count()
        assert n >= 0, name


@pytest.mark.parametrize("name", SAMPLE_ORACLE)
def test_oracle_sample(spark, name):
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    sdf = normalize(qs[name](spark, SF).toPandas())
    ddf = normalize(con.sql(oracles[name]).df())
    assert len(sdf) == len(ddf)
    assert frame_hash(sdf) == frame_hash(ddf), name
