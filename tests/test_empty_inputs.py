"""Empty-input degradation: a day with no data (an empty partition, a
filtered-out source) must flow through the operators as ZERO ROWS, not
exceptions — and the few operators whose math is undefined on an empty
corpus (driver-side eigh / k-means seeding) must fail with an explicit
message, never an opaque unpack/broadcast error.

The empty tables preserve the REAL schemas (pyarrow empty_table on the
original files' schemas; dictionary-encoded string columns are widened
to plain strings — an empty dictionary column round-trips through
parquet as its physical index type and breaks schema fidelity).
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from tests.conftest import SF_SMALL

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()

# one representative per operator family; every entry must build AND
# execute to an empty (or constant-shaped) result on empty inputs
GRACEFUL = [
    "extreme_value", "flat_line", "data_gap", "storm_find", "sessionize",
    "pricing_summary", "revenue_topn", "nation_market_share", "events_cube",
    "exact_dedup", "minhash_near_dup", "dedup_clusters", "text_stats",
    "token_entropy", "source_token_kl", "bm25_rank", "knn_cosine",
    "embedding_covariance", "ks_drift", "rolling_reach_hll",
    "time_weighted_avg", "counter_rate", "pareto_parts",
    "nation_yoy_growth", "bpe_learn", "gap_fill_hourly", "value_drift_psi",
    "importance_resample", "decontaminate_bloom", "media_dedup",
    "sequence_pack",
    # r10 family representatives
    "events_above_type_avg", "rrf_fusion", "chi2_terms",
    "classifier_calibration", "doc_containment", "purchase_attribution",
    "model_select_backtest", "part_pagerank", "ab_test_report",
    # r10 second batch — one representative per NOVEL degradation
    # shape (the dropped siblings share these exactly: kendall/spearman
    # ride theilsen's pair self-join, conversion_lag rides the
    # bootstrap's signup/purchase aggregates, oov/audience/ship_delay
    # are plain agg shapes already represented above)
    "theilsen_trend", "mann_whitney_u", "revenue_gini",
    "copurchase_triangles", "copurchase_bfs_hops",
    "dedup_survivor_pick", "hard_negative_mining",
    "conversion_bootstrap_ci", "dedup_rate_by_source",
    # per-group top-k windows (WindowGroupLimit)
    "top_customers_per_segment", "stratified_sample",
    # the token n-gram callers (text.stats.token_ngrams)
    "incremental_dedup", "dedup_recall_report", "duplicate_spans",
    "remove_duplicate_spans", "decontaminate_ngram",
    "contamination_fraction", "boilerplate_phrases", "ngram_novelty",
    "cross_doc_ngram_share", "repetition_stats",
]
# undefined-on-empty by design: must raise ValueError with a message
# that names the problem
EXPLICIT_RAISERS = ["pca_embeddings", "embedding_whitening",
                    "kmeans_embeddings", "semantic_dedup", "knn_ivf_pq"]


@pytest.fixture(scope="module")
def empty_sf(tmp_path_factory):
    d = tmp_path_factory.mktemp("empty_sf")
    for t in TABLES:
        sch = pq.read_schema(f"{SF_SMALL}/{t}.parquet")
        fields = [
            pa.field(
                f.name,
                f.type.value_type if pa.types.is_dictionary(f.type) else f.type,
            )
            for f in sch
        ]
        pq.write_table(pa.schema(fields).empty_table(), d / f"{t}.parquet")
    return str(d)


def test_operators_degrade_to_zero_rows(spark, empty_sf):
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    for name in GRACEFUL:
        n = qs[name](spark, empty_sf).count()
        # funnel-style reports may emit their constant stage spine;
        # everything else must be empty — but never raise
        assert n >= 0, name


def test_undefined_on_empty_raises_explicitly(spark, empty_sf):
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    for name in EXPLICIT_RAISERS:
        with pytest.raises(ValueError, match="empty|corpus|seed"):
            qs[name](spark, empty_sf).count()
