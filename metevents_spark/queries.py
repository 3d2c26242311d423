"""Query registry: every implemented operator as a (spark_fn, oracle_sql)
pair for the driver contract (__spark_entry__.py).

Each spark_fn takes (spark, sf_dir) -> DataFrame. oracle_sql is the
equivalent DuckDB ANSI SQL over the pre-registered views (region nation
customer supplier part orders lineitem events documents embeddings), or
None for non-SQL-expressible operators (grouped-map kernels, hash-family
dependent sketches) — those get the driver's rows-only check.

Determinism rules used throughout (so value hashes match bit-for-bit):
  - window orders always break ties with ``seq`` (event_id);
  - monetary aggregates computed in DECIMAL (exact), cast to DOUBLE;
  - double sums of 2-decimal inputs rounded to 3 decimals;
  - cosine similarities rounded to 6 decimals *before* ranking;
  - Spark INT-returning functions cast to LONG to match DuckDB BIGINT.
"""

from __future__ import annotations

from collections.abc import Callable

from metevents_spark.timeutil import epoch_us
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from metevents_spark.cache import release_all
from metevents_spark.io import load_table, series_frame
from metevents_spark.operators import (
    data_gap,
    extreme_change,
    extreme_value,
    flat_line,
    spike_valley,
    storm_find,
)
from metevents_spark.operators.intervals import (
    interval_coverage,
    interval_overlap_join,
)
from metevents_spark.operators.sessions import burst_collapse, sessionize
from metevents_spark.functions import freq_infer
from metevents_spark.functions.sketches import user_reach_kmv
from metevents_spark.relational.basket import market_basket_lift
from metevents_spark.operators.graph import (
    copurchase_bfs_hops,
    copurchase_triangles,
    part_pagerank,
)
from metevents_spark.relational.product import (
    _POISSON1_CUM60,
    audience_overlap,
    conversion_bootstrap_ci,
    conversion_lag,
)
from metevents_spark.relational.tpch import revenue_gini, ship_delay_quantiles
from metevents_spark.operators.rankstats import (
    kendall_trend,
    kendall_trend_sampled,
    mann_whitney_u,
    mann_whitney_u_bucketed,
    spearman_trend,
    theilsen_trend,
    theilsen_trend_sampled,
)
from metevents_spark.operators.skew import (
    events_above_type_avg,
    key_skew_report,
    skew_join_compare,
)
from metevents_spark.relational import (
    ab_test_report,
    brand_revenue,
    purchase_attribution,
    latest_event_per_user,
    loyal_customers,
    nation_revenue_share,
    daily_rollup,
    event_pair_lift,
    event_transitions,
    funnel_conversion,
    survival_retention,
    nation_segment_rollup,
    nation_trade_flow,
    nation_yoy_growth,
    order_priority_check,
    pareto_parts,
    pricing_summary,
    props_value_stats,
    region_revenue,
    retention_cohorts,
    revenue_topn,
    rolling_7d_active,
    rolling_reach_hll,
    top_customers_per_segment,
    top_paths,
)
from metevents_spark.relational.tpch import (
    region_nation_rollup,
    region_nations_csv,
    big_spender_1995,
    events_cube,
    lineitem_unpivot,
    shipmode_priority_counts,
    shipping_priority,
    value_quantiles_approx,
    price_deciles,
    user_reach,
    user_reach_approx,
    value_histogram,
    brand_supplier_stats,
    churned_customers,
    cumulative_revenue,
    customers_no_order_1996,
    dominant_part_suppliers,
    events_pivot,
    repeat_customers,
    small_qty_part_revenue,
    top_price_orders,
    value_quantiles,
    min_cost_supplier,
    important_parts,
    top_supplier,
    large_volume_customers,
    sole_return_supplier,
    rich_idle_customers,
    discounted_revenue,
    returned_item_customers,
    customer_order_distribution,
    promo_revenue_pct,
    disjunctive_part_revenue,
    heavy_shippers,
    nation_market_share,
    product_type_profit,
    part_supplier_counts,
)
from metevents_spark.text.dedup import (
    dedup_clusters,
    dedup_rate_by_source,
    dedup_survivor_pick,
    dedup_recall_report,
    doc_containment,
    duplicate_spans,
    edit_distance_pairs,
    incremental_dedup,
    ngram_jaccard_pairs,
    paragraph_dedup,
    remove_duplicate_spans,
    SIG_EMPTY,
)
from metevents_spark.text.scrub import canonicalize_url, domain_stats, pii_redact
from metevents_spark.text.stats import (
    chi2_terms,
    oov_rate,
    gopher_quality,
    rrf_fusion,
    score_percentile_by_source,
    zipf_fit,
)
from metevents_spark.text.bpe import bpe_learn, bpe_token_count
from metevents_spark.text.pipeline import (
    bigram_logprob,
    source_weighted_sample,
    weighted_sample,
    hash_sample,
    holdout_split,
    mixture_plan,
    shuffle_shards,
    temperature_mixture,
    normalize_text,
    cooccurrence_counts,
    boilerplate_phrases,
    contamination_fraction,
    cross_doc_ngram_share,
    decontaminate_bloom,
    decontaminate_ngram,
    importance_resample,
    ngram_novelty,
    doc_chunking,
    quality_bucket_sample,
    sequence_pack,
    source_mix_sample,
    stratified_sample,
    unigram_logprob,
)
from metevents_spark.session import tune_session
from metevents_spark.similarity import (
    ann_recall_lsh_ivf,
    ann_recall_report,
    hard_negative_mining,
    embedding_covariance,
    embedding_whitening,
    knn_ivf_pq,
    pca_embeddings,
    embedding_near_dup,
    kmeans_embeddings,
    semantic_dedup,
    embedding_norms,
    embedding_quantize,
    knn_cosine,
    knn_ivf,
    knn_lsh,
    label_centroids,
    random_projection,
)
from metevents_spark.multimodal import media_embedding_near_dup
from metevents_spark.operators.downsample import lttb_downsample
from metevents_spark.operators.resample import gap_fill_hourly
from metevents_spark.quality import (
    benford_deviation,
    classifier_calibration,
    data_expectations,
    mutual_information,
    ks_drift,
    mad_drift,
    value_drift_psi,
)
from metevents_spark.operators.changepoint import cusum_alarm
from metevents_spark.operators.seriesstats import (
    anomaly_consensus,
    model_select_backtest,
    holt_backtest,
    interarrival_stats,
    rolling_median,
    counter_rate,
    downsample_ohlc,
    time_weighted_avg,
    event_type_corr,
    ewma_smooth,
    holt_smooth,
    seasonal_decompose,
    series_acf,
    winsorize_series,
    robust_zscore,
    rolling_mean,
    seasonal_anomaly,
    series_quantile_bands,
    series_trend,
    trailing_24h_mean,
    zscore_anomaly,
)
from metevents_spark.text import (
    bpe_pair_counts,
    classifier_score,
    corpus_summary,
    corpus_summary_approx,
    corpus_yield,
    doc_fingerprint,
    exact_dedup,
    lang_id,
    minhash_near_dup,
    prefix_dedup,
    quality_filter,
    repetition_stats,
    rolling_fingerprint,
    simhash_fingerprints,
    simhash_near_dup,
    bm25_rank,
    source_lang_matrix,
    source_token_kl,
    text_stats,
    token_entropy,
    tfidf_top_terms,
    vocab_top_terms_approx,
    token_count_bpe,
    vocab_top_terms,
)

# --------------------------------------------------------------------------
# shared SQL fragments (DuckDB dialect)

_SERIES = (
    "series AS (SELECT CAST(user_id AS VARCHAR) AS sid, event_id AS seq, ts, value "
    "FROM events)"
)

_RUN_WINDOW = (
    "SUM(CASE WHEN cond THEN 0 ELSE 1 END) OVER ("
    "PARTITION BY sid ORDER BY ts, seq "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
)

_EVENT_AGG = (
    'SELECT sid, MIN(ts) AS "start", MAX(ts) AS "stop", '
    "epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS duration_us, "
    "COUNT(*) AS n_points, ROUND(SUM(value), 3) AS total "
    "FROM runs WHERE cond GROUP BY sid, run_id"
)


def _round_total(df: DataFrame) -> DataFrame:
    return df.withColumn("total", F.round("total", 3))


# --------------------------------------------------------------------------
# spark-side callables (params fixed so oracle SQL mirrors them)


def q_extreme_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _round_total(
        extreme_value(series_frame(spark, sf_dir), expected_max=400.0, expected_min=1.0)
    )


def q_flat_line(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _round_total(
        flat_line(series_frame(spark, sf_dir), min_len=2, slope_thresh=25.0)
    )


def q_extreme_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _round_total(
        extreme_change(
            series_frame(spark, sf_dir),
            min_len=1,
            positive_slope_thresh=300.0,
            negative_slope_thresh=-300.0,
        )
    )


def q_data_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _round_total(
        data_gap(series_frame(spark, sf_dir), min_len=2, expected_frequency_s=86400.0)
    )


def q_freq_infer(spark: SparkSession, sf_dir: str) -> DataFrame:
    return freq_infer(series_frame(spark, sf_dir))


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sessionize(series_frame(spark, sf_dir), gap_s=14400.0)


def q_storm_find(spark: SparkSession, sf_dir: str) -> DataFrame:
    """total rounds to 3 like the window-detector queries: the oracle
    replays the burst fold with a window prefix sum whose float
    accumulation order DuckDB does not guarantee (segment-tree vs the
    kernel's sequential nancumsum), so raw doubles differ in the last
    ulp; the conditions (>= 500.0 mass etc.) still use unrounded
    values in both engines."""
    return _round_total(
        storm_find(
            series_frame(spark, sf_dir),
            instant_mass_to_start=100.0,
            min_storm_total=500.0,
            hours_to_stop=24,
            max_storm_hours=336,
        )
    )


def q_spike_valley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """find_peaks spike/valley events (reference events.py:199-248).
    Total rounds to 3 like the other detector queries — the run sums
    are 2-decimal-grid values, so ROUND(...,3) is engine-stable."""
    return _round_total(
        spike_valley(series_frame(spark, sf_dir), prominence=300.0)
    )


def q_minhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_near_dup(spark, sf_dir, threshold=0.3)


def _typed_series(spark, sf_dir, event_type):
    from metevents_spark.io import load_table

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == event_type
    )
    return ev.select(
        F.col("user_id").cast("string").alias("sid"),
        F.col("event_id").cast("long").alias("seq"),
        "ts",
        F.col("value").cast("double").alias("value"),
    )


def q_asof_purchase_before_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For each error event, the user's most recent purchase at or
    before it (as-of join via the union+window pattern)."""
    from metevents_spark.operators.asof import asof_join

    errors = _typed_series(spark, sf_dir, "error")
    purchases = _typed_series(spark, sf_dir, "purchase").drop("seq")
    out = asof_join(errors, purchases, on="sid", value_cols=("value",))
    return out.select(
        "sid", "seq", "ts", "value", "value_right", "ts_right"
    ).orderBy("sid", "ts", "seq")


def q_range_join_error_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All (error, purchase) pairs of the same user within +-4 hours
    (bucketized range join)."""
    from metevents_spark.operators.asof import range_join

    errors = _typed_series(spark, sf_dir, "error").select("sid", "seq", "ts")
    purchases = _typed_series(spark, sf_dir, "purchase").select(
        "sid", F.col("seq").alias("rseq"), F.col("ts").alias("rts")
    )
    out = range_join(
        errors, purchases, on="sid", left_ts="ts", right_ts="rts",
        window_s=14400.0,
    )
    return out.select(
        "sid", "seq", "ts", "rseq", "rts",
        (epoch_us("rts") - epoch_us("ts")).alias("delta_us"),
    ).orderBy("sid", "seq", "rseq")


def q_session_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which error sessions overlapped which purchase sessions, per
    user: sessionize each event type independently (4h inactivity gap)
    then bucketized interval-overlap join (1-day buckets) — the
    interval×interval temporal join over two operator OUTPUTS."""
    from metevents_spark.io import load_table

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("error", "purchase")
    ).select(
        F.col("user_id").cast("string").alias("sid"),
        F.col("event_id").cast("long").alias("seq"),
        "ts",
        F.col("value").cast("double").alias("value"),
        "event_type",
    )
    # both event types sessionized in ONE scan + one exchange, then the
    # (tiny, aggregated) session frame is cut once — localCheckpoint so
    # the two join branches don't each recompute the pipeline; tracked
    # so the next registry query releases the checkpoint's RDD storage
    from metevents_spark.cache import track as _track

    sess = _track(
        sessionize(ev, gap_s=14400.0, by=("sid", "event_type")).select(
            "sid", "event_type", "session_id", "start", "stop"
        ).localCheckpoint()
    )
    cols = ["sid", "session_id", "start", "stop"]
    err = sess.filter(F.col("event_type") == "error").select(*cols)
    pur = sess.filter(F.col("event_type") == "purchase").select(*cols)
    out = interval_overlap_join(err, pur, on="sid", bucket_s=86400.0)
    return out.select(
        "sid",
        F.col("session_id_a").alias("err_session"),
        F.col("start_a").alias("err_start"),
        F.col("stop_a").alias("err_stop"),
        F.col("session_id_b").alias("pur_session"),
        F.col("start_b").alias("pur_start"),
        F.col("stop_b").alias("pur_stop"),
        "overlap_us",
    ).orderBy("sid", "err_session", "pur_session")


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: documents -> binary payloads -> batch-kernel
    feature extraction (deterministic fake decoder)."""
    from metevents_spark.multimodal.media import media_pipeline

    return media_pipeline(spark, sf_dir)


def q_media_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-hash dedup over the synthesized binary payloads (the
    multimodal ingest first stage)."""
    from metevents_spark.io import load_table
    from metevents_spark.multimodal.media import attach_fake_media, media_dedup

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return media_dedup(attach_fake_media(docs))


def q_media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal resize shape: payload -> deterministic fixed-size
    thumbnail via a batch kernel (stub resampler; real codecs slot in).

    The report projects the thumbnail as HEX so the byte values are
    driver-comparable (round-7 upgrade from rows-only: the operator
    stays binary-native; only this query's output boundary encodes)."""
    from metevents_spark.multimodal import attach_fake_media, media_resize
    from metevents_spark.io import load_table

    docs = load_table(spark, sf_dir, "documents")
    out = media_resize(attach_fake_media(docs))
    return out.select(
        "doc_id", "width", "height", F.hex("thumb").alias("thumb_hex")
    ).orderBy("doc_id")


def q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over synthesized payloads; frames projected as
    HEX at the output boundary (same upgrade as q_media_resize)."""
    from metevents_spark.io import load_table
    from metevents_spark.multimodal import attach_fake_media, frame_sample

    docs = load_table(spark, sf_dir, "documents")
    out = frame_sample(attach_fake_media(docs))
    return out.select(
        "doc_id", "frame_idx", F.hex("frame").alias("frame_hex")
    ).orderBy("doc_id", "frame_idx")


def q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher rule battery over the documents corpus (min_words
    lowered to 5 for the short synthetic docs)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return gopher_quality(docs, min_words=5)


def q_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-URL dedup report: inject deterministic messy URLs
    (tracking params, default ports, mixed case — the domain_stats
    idiom), canonicalize, count how many raw forms collapse into each
    canonical URL. Map-side canonicalization; one small groupBy."""
    d = F.col("doc_id")
    raw = F.concat(
        F.lit("HTTPS://Site"), d % 13, F.lit(".Example.COM:443/p/"), d % 29,
        F.when(d % 2 == 0, F.lit("?utm_source=x&b=2&a=1")).otherwise(
            F.lit("?b=2&a=1")
        ),
    )
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", raw.alias("url")
    )
    return (
        docs.select(canonicalize_url(F.col("url")).alias("canonical"))
        .groupBy("canonical")
        .agg(F.count(F.lit(1)).cast("long").alias("n_raw"))
        .orderBy("canonical")
    )


def q_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence-level paragraph dedup over documents (the synthetic
    corpus is single-line, so '. ' is the paragraph separator)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return paragraph_dedup(docs, sep=". ")


def q_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture plan with deterministic weights derived from the source
    number (k = src_num % 4 + 1, normalized) and a 1M-token budget —
    the same stand-in-weight convention as source_mix_sample. The only
    collect is the distinct source list (|sources| rows, the same
    legitimate tiny-collect as the pivot value lists)."""
    docs = load_table(spark, sf_dir, "documents").select(
        "source", F.size(F.split("text", " ")).alias("n_tokens")
    )
    sources = sorted(
        r.source for r in docs.select("source").distinct().collect()
    )
    ks = {s: int(s[3:]) % 4 + 1 for s in sources}
    total = sum(ks.values())
    weights = {s: k / total for s, k in ks.items()}
    return mixture_plan(docs, weights, target_total_tokens=1_000_000)


# --------------------------------------------------------------------------
# registry


def _detector_sql(flag_cte: str, having: str = "") -> str:
    having_clause = f" HAVING {having}" if having else ""
    return (
        f"WITH {_SERIES}, {flag_cte}, "
        f"runs AS (SELECT *, {_RUN_WINDOW} AS run_id FROM flagged) "
        f'{_EVENT_AGG}{having_clause} ORDER BY sid, "start"'
    )


# minhash_signatures' 32 slots: a slot over no shingle (a NULL text)
# keeps the MIN identity SIG_EMPTY, as in the batch and stream paths
_SIG_MINS = ", ".join(
    f"COALESCE(MIN(h1 + {i} * h2), {SIG_EMPTY})" for i in range(32)
)

ORACLE_SQL: dict[str, str] = {
    "extreme_value": _detector_sql(
        "flagged AS (SELECT sid, seq, ts, value, "
        "COALESCE(value > 400.0 OR value < 1.0, FALSE) AS cond FROM series)"
    ),
    "flat_line": _detector_sql(
        "diffed AS (SELECT sid, seq, ts, value, value - LAG(value) OVER "
        "(PARTITION BY sid ORDER BY ts, seq) AS d FROM series), "
        "flagged AS (SELECT sid, seq, ts, value, COALESCE(ABS(d) <= 25.0, FALSE) "
        "AS cond FROM diffed)",
        having="COUNT(*) >= 2",
    ),
    "extreme_change": _detector_sql(
        "diffed AS (SELECT sid, seq, ts, value, value - LAG(value) OVER "
        "(PARTITION BY sid ORDER BY ts, seq) AS d FROM series), "
        "flagged AS (SELECT sid, seq, ts, value, "
        "COALESCE(d >= 300.0 OR d <= -300.0, FALSE) AS cond FROM diffed)",
        having="COUNT(*) >= 1",
    ),
    "data_gap": f"""
WITH {_SERIES},
flagged AS (SELECT sid, seq, ts, value,
            (value IS NULL OR isnan(value)) AS cond FROM series),
runs AS (SELECT *, {_RUN_WINDOW} AS run_id FROM flagged),
nan_events AS ({_EVENT_AGG}),
lagged AS (SELECT sid, ts, value,
           LAG(ts) OVER (PARTITION BY sid ORDER BY ts, seq) AS prev_ts,
           LAG(value) OVER (PARTITION BY sid ORDER BY ts, seq) AS prev_val
           FROM series),
gap_events AS (
  SELECT sid, prev_ts AS "start", ts AS "stop",
         epoch_us(ts) - epoch_us(prev_ts) AS duration_us,
         CAST(2 AS BIGINT) AS n_points,
         ROUND(CASE WHEN value IS NULL AND prev_val IS NULL THEN NULL
               ELSE COALESCE(value, 0) + COALESCE(prev_val, 0) END, 3) AS total
  FROM lagged WHERE epoch_us(ts) - epoch_us(prev_ts) > 86400000000)
SELECT * FROM (SELECT * FROM nan_events UNION ALL SELECT * FROM gap_events)
WHERE duration_us >= 172800000000
ORDER BY sid, "start"
""",
    "freq_infer": f"""
WITH {_SERIES},
d AS (SELECT sid,
      ROW_NUMBER() OVER (PARTITION BY sid ORDER BY ts, seq) AS rn,
      COUNT(*) OVER (PARTITION BY sid) AS n,
      epoch_us(ts) - epoch_us(LAG(ts) OVER (PARTITION BY sid ORDER BY ts, seq))
        AS delta_us
      FROM series)
SELECT sid, COUNT(delta_us) AS n_deltas,
       COUNT(DISTINCT delta_us) AS n_distinct,
       CASE WHEN COUNT(DISTINCT delta_us) = 1 THEN MIN(delta_us) END AS freq_us
FROM d WHERE rn >= 2 AND rn <= n - 1 GROUP BY sid ORDER BY sid
""",
    "sessionize": f"""
WITH {_SERIES},
lagged AS (SELECT sid, seq, ts, value,
           epoch_us(ts) - epoch_us(LAG(ts) OVER (PARTITION BY sid ORDER BY ts, seq))
             AS delta_us FROM series),
flagged AS (SELECT *, CASE WHEN delta_us IS NULL OR delta_us > 14400000000
            THEN 1 ELSE 0 END AS new_session FROM lagged),
sessions AS (SELECT *, CAST(SUM(new_session) OVER (PARTITION BY sid ORDER BY ts, seq
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS session_id FROM flagged)
SELECT sid, session_id, MIN(ts) AS "start", MAX(ts) AS "stop",
       epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS duration_us,
       COUNT(*) AS n_events, ROUND(SUM(value), 3) AS total
FROM sessions GROUP BY sid, session_id ORDER BY sid, session_id
""",
    "daily_rollup": """
SELECT event_type, date_trunc('day', ts) AS day, COUNT(*) AS n_events,
       ROUND(SUM(value), 3) AS sum_value,
       MIN(value) AS min_value, MAX(value) AS max_value
FROM events GROUP BY event_type, date_trunc('day', ts)
ORDER BY event_type, day
""",
    "pricing_summary": """
WITH cents AS (
  SELECT l_returnflag, l_linestatus,
         CAST(ROUND(l_quantity * 100) AS BIGINT) AS qty,
         CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS price,
         CAST(ROUND(l_discount * 100) AS BIGINT) AS disc,
         CAST(ROUND(l_tax * 100) AS BIGINT) AS tax
  FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00')
SELECT l_returnflag, l_linestatus,
  ROUND(CAST(SUM(qty) AS DOUBLE) / 100.0, 3) AS sum_qty,
  ROUND(CAST(SUM(price) AS DOUBLE) / 100.0, 3) AS sum_base_price,
  ROUND(CAST(SUM(price * (100 - disc)) AS DOUBLE) / 1e4, 3) AS sum_disc_price,
  ROUND(CAST(SUM(price * (100 - disc) * (100 + tax)) AS DOUBLE) / 1e6, 3)
    AS sum_charge,
  ROUND(CAST(SUM(qty) AS DOUBLE) / 100.0 / COUNT(*), 3) AS avg_qty,
  ROUND(CAST(SUM(price) AS DOUBLE) / 100.0 / COUNT(*), 3) AS avg_price,
  ROUND(CAST(SUM(disc) AS DOUBLE) / 100.0 / COUNT(*), 3) AS avg_disc,
  COUNT(*) AS count_order
FROM cents
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""",
    "revenue_topn": """
SELECT l_orderkey, o_orderdate, o_orderpriority,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
       (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
    AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
  AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
""",
    "region_revenue": """
SELECT n_name,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
       (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
    AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n_name ORDER BY revenue DESC, n_name
""",
    "top_customers_per_segment": """
SELECT c_mktsegment, "rank", c_custkey, c_name, c_acctbal FROM (
  SELECT c_mktsegment, c_custkey, c_name, c_acctbal,
         ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                            ORDER BY c_acctbal DESC, c_custkey) AS "rank"
  FROM customer) t
WHERE "rank" <= 3 ORDER BY c_mktsegment, "rank"
""",
    "text_stats": """
WITH t AS (SELECT doc_id, lang, text, string_split(text, ' ') AS toks
           FROM documents)
SELECT doc_id, lang,
  CAST(length(text) AS BIGINT) AS n_chars,
  CAST(len(toks) AS BIGINT) AS n_tokens,
  CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct_tokens,
  CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS distinct_ratio,
  CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','to','in')))
       AS BIGINT) AS n_stopwords,
  CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','to','in')))
       AS DOUBLE) / len(toks) AS stopword_ratio,
  CAST(length(text) - (len(toks) - 1) AS DOUBLE) / len(toks) AS avg_token_len
FROM t ORDER BY doc_id
""",
    "lang_id": """
WITH s AS (
  SELECT doc_id, lang AS labeled_lang,
    CAST(len(list_filter(string_split(text, ' '),
         x -> x IN ('the','a','of','and'))) AS BIGINT) AS score_en,
    CAST(len(list_filter(string_split(text, ' '),
         x -> x IN ('le','la','et','de'))) AS BIGINT) AS score_fr,
    CAST(len(list_filter(string_split(text, ' '),
         x -> x IN ('der','die','und','das'))) AS BIGINT) AS score_de,
    CAST(len(list_filter(string_split(text, ' '),
         x -> x IN ('el','la','y','de'))) AS BIGINT) AS score_es
  FROM documents)
SELECT doc_id, labeled_lang,
  CASE WHEN GREATEST(score_en, score_fr, score_de, score_es) = 0 THEN 'und'
       WHEN score_en = GREATEST(score_en, score_fr, score_de, score_es) THEN 'en'
       WHEN score_fr = GREATEST(score_en, score_fr, score_de, score_es) THEN 'fr'
       WHEN score_de = GREATEST(score_en, score_fr, score_de, score_es) THEN 'de'
       WHEN score_es = GREATEST(score_en, score_fr, score_de, score_es) THEN 'es'
       ELSE 'und' END AS pred_lang,
  score_en, score_fr, score_de, score_es
FROM s ORDER BY doc_id
""",
    "doc_fingerprint": """
SELECT doc_id,
  md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))
    AS fingerprint,
  CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct_tokens
FROM documents ORDER BY doc_id
""",
    "exact_dedup": """
SELECT md5(text) AS text_hash, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
FROM documents GROUP BY md5(text) ORDER BY keep_id
""",
    "prefix_dedup": """
SELECT md5(substr(text, 1, 64)) AS prefix_hash, MIN(doc_id) AS keep_id,
       COUNT(*) AS n_docs
FROM documents GROUP BY md5(substr(text, 1, 64)) ORDER BY keep_id
""",
    "knn_cosine": """
WITH corpus AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                               CAST(embedding AS DOUBLE[]))) AS v_norm
  FROM embeddings),
queries AS (SELECT vec_id AS q_id, v AS q, v_norm AS q_norm
            FROM corpus WHERE vec_id < 5),
scored AS (
  SELECT q_id, vec_id,
         ROUND(list_dot_product(v, q) / (v_norm * q_norm), 6) AS cosine
  FROM corpus, queries WHERE vec_id <> q_id)
SELECT q_id, vec_id, cosine,
       CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id)
            AS BIGINT) AS "rank"
FROM scored
QUALIFY "rank" <= 5
ORDER BY q_id, "rank"
""",
    "embedding_norms": """
WITH n AS (SELECT label,
           sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                 CAST(embedding AS DOUBLE[]))) AS norm
           FROM embeddings)
SELECT label, COUNT(*) AS n, ROUND(AVG(norm), 6) AS avg_norm,
       ROUND(MIN(norm), 6) AS min_norm, ROUND(MAX(norm), 6) AS max_norm
FROM n GROUP BY label ORDER BY label
""",
    "order_priority_check": """
SELECT o_orderpriority, COUNT(*) AS n_orders
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
GROUP BY o_orderpriority ORDER BY o_orderpriority
""",
    "nation_trade_flow": """
SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       CAST(year(l_shipdate) AS BIGINT) AS l_year,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
            (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2))))
         AS DOUBLE) AS revenue
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
WHERE (sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
   OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1')
GROUP BY 1, 2, 3
ORDER BY 1, 2, 3
""",
    "nation_segment_rollup": """
SELECT n_name, c_mktsegment, COUNT(*) AS n_customers,
       ROUND(SUM(c_acctbal), 3) AS sum_acctbal
FROM customer JOIN nation ON c_nationkey = n_nationkey
GROUP BY ROLLUP(n_name, c_mktsegment)
ORDER BY n_name NULLS FIRST, c_mktsegment NULLS FIRST
""",
    "brand_revenue": """
SELECT p_brand,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
       (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
    AS revenue,
  COUNT(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1996-07-01 00:00:00'
GROUP BY p_brand ORDER BY p_brand
""",
    "asof_purchase_before_error": """
WITH e AS (SELECT CAST(user_id AS VARCHAR) AS sid, event_id AS seq, ts, value
           FROM events WHERE event_type = 'error'),
p AS (SELECT CAST(user_id AS VARCHAR) AS sid, ts, value
      FROM events WHERE event_type = 'purchase')
SELECT e.sid, e.seq, e.ts, e.value,
       p.value AS value_right, p.ts AS ts_right
FROM e ASOF LEFT JOIN p ON e.sid = p.sid AND p.ts <= e.ts
ORDER BY e.sid, e.ts, e.seq
""",
    "range_join_error_purchase": """
WITH e AS (SELECT CAST(user_id AS VARCHAR) AS sid, event_id AS seq, ts
           FROM events WHERE event_type = 'error'),
p AS (SELECT CAST(user_id AS VARCHAR) AS sid, event_id AS rseq, ts AS rts
      FROM events WHERE event_type = 'purchase')
SELECT e.sid, e.seq, e.ts, p.rseq, p.rts,
       epoch_us(p.rts) - epoch_us(e.ts) AS delta_us
FROM e JOIN p ON e.sid = p.sid
 AND abs(epoch_us(p.rts) - epoch_us(e.ts)) <= 14400000000
ORDER BY e.sid, e.seq, p.rseq
""",
    "media_features": """
SELECT doc_id,
  CAST(length(text) AS BIGINT) AS n_bytes,
  sha256(text) AS sha256,
  CAST(64 + length(text) % 192 AS BIGINT) AS width,
  CAST(64 + (length(text) * 7) % 192 AS BIGINT) AS height
FROM documents ORDER BY doc_id
""",
    "value_quantiles": """
SELECT event_type, COUNT(*) AS n,
       ROUND(quantile_cont(value, 0.25), 6) AS p25,
       ROUND(quantile_cont(value, 0.50), 6) AS p50,
       ROUND(quantile_cont(value, 0.75), 6) AS p75
FROM events GROUP BY event_type ORDER BY event_type
""",
    "events_pivot": """
SELECT user_id,
  COUNT(*) FILTER (WHERE event_type = 'click') AS click,
  COUNT(*) FILTER (WHERE event_type = 'error') AS error,
  COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
  COUNT(*) FILTER (WHERE event_type = 'signup') AS signup,
  COUNT(*) FILTER (WHERE event_type = 'view') AS view
FROM events GROUP BY user_id ORDER BY user_id
""",
    "top_price_orders": """
SELECT o_orderkey, o_custkey, o_totalprice,
       ROUND((SELECT quantile_cont(o_totalprice, 0.99) FROM orders), 6)
         AS threshold
FROM orders
WHERE o_totalprice > (SELECT quantile_cont(o_totalprice, 0.99) FROM orders)
ORDER BY o_orderkey
""",
    "brand_supplier_stats": """
SELECT p_brand, COUNT(DISTINCT l_suppkey) AS n_suppliers,
       COUNT(DISTINCT l_partkey) AS n_parts, COUNT(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_brand ORDER BY p_brand
""",
    "ngram_jaccard_pairs": """
WITH t AS (SELECT doc_id, md5(substr(text, 1, 64)) AS ph,
           list_distinct(string_split(text, ' ')) AS toks FROM documents)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
  ROUND(CAST(len(list_filter(a.toks, x -> list_contains(b.toks, x)))
             AS DOUBLE)
        / len(list_distinct(list_concat(a.toks, b.toks))), 6) AS jaccard
FROM t a JOIN t b ON a.ph = b.ph AND a.doc_id < b.doc_id
ORDER BY doc_a, doc_b
""",
    "token_count_bpe": r"""
WITH t AS (
  SELECT doc_id,
         len(string_split(text, ' ')) AS n_words,
         regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]') AS pieces
  FROM documents)
SELECT doc_id,
       CAST(n_words AS BIGINT) AS n_words,
       CAST(len(pieces) AS BIGINT) AS n_pieces,
       CAST(len(list_distinct(pieces)) AS BIGINT) AS n_distinct_pieces,
       ROUND(CAST(len(pieces) AS DOUBLE) / n_words, 6) AS pieces_per_word
FROM t ORDER BY doc_id
""",
    "rolling_fingerprint": """
WITH t AS (
  SELECT doc_id,
         list_transform(string_split(text, ' '),
           x -> CAST((length(x) * 131 + ascii(x)) % 1000000007 AS BIGINT))
           AS vals
  FROM documents)
SELECT doc_id,
       list_reduce(list_prepend(CAST(0 AS BIGINT), vals),
         (acc, x) -> (acc * 1000003 + x) % 1000000007) AS rolling_hash,
       CAST(len(vals) AS BIGINT) AS n_tokens
FROM t ORDER BY doc_id
""",
    "embedding_near_dup": """
WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label AS label,
       ROUND(list_cosine_similarity(a.v, b.v), 6) AS cosine
FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE ROUND(list_cosine_similarity(a.v, b.v), 6) >= 0.35
ORDER BY vec_a, vec_b
""",
    "customers_no_order_1996": """
SELECT c_custkey, c_name, c_mktsegment
FROM customer
WHERE NOT EXISTS (
  SELECT 1 FROM orders
  WHERE o_custkey = c_custkey
    AND o_orderdate BETWEEN '1996-01-01' AND '1996-12-31 23:59:59')
ORDER BY c_custkey
""",
    "big_spender_1995": """
SELECT c_custkey, c_name, c_acctbal
FROM customer
WHERE EXISTS (
  SELECT 1 FROM orders
  WHERE o_custkey = c_custkey
    AND o_orderdate BETWEEN '1995-01-01' AND '1995-12-31 23:59:59'
    AND o_totalprice > 40000.0)
ORDER BY c_custkey
""",
    "repeat_customers": """
SELECT o_custkey AS custkey FROM orders WHERE year(o_orderdate) = 1995
INTERSECT
SELECT o_custkey AS custkey FROM orders WHERE year(o_orderdate) = 1996
ORDER BY custkey
""",
    "churned_customers": """
SELECT DISTINCT custkey FROM (
  SELECT o_custkey AS custkey FROM orders WHERE year(o_orderdate) = 1995
  EXCEPT ALL
  SELECT o_custkey AS custkey FROM orders WHERE year(o_orderdate) = 1996)
ORDER BY custkey
""",
    "small_qty_part_revenue": """
SELECT ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) / 7.0
             AS DOUBLE), 3) AS avg_yearly
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE p_brand = 'Brand#13'
  AND l_quantity < (
    SELECT 0.2 * AVG(l_quantity) FROM lineitem l2
    WHERE l2.l_partkey = lineitem.l_partkey)
""",
    "cumulative_revenue": """
SELECT o_custkey, o_orderkey, o_orderdate,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)))
       OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       AS DOUBLE) AS cum_spend
FROM orders WHERE o_custkey < 50
ORDER BY o_custkey, o_orderdate, o_orderkey
""",
    "vocab_top_terms": """
SELECT token, COUNT(*) AS n
FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
GROUP BY token ORDER BY n DESC, token LIMIT 100
""",
    "quality_filter": """
WITH t AS (
  SELECT doc_id,
         len(string_split(text, ' ')) AS n_tokens,
         len(list_distinct(string_split(text, ' '))) AS nd,
         len(list_filter(string_split(text, ' '),
             x -> x IN ('the','a','of','and','to','in'))) AS ns
  FROM documents)
SELECT doc_id,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(nd AS DOUBLE) / n_tokens AS distinct_ratio,
       CAST(ns AS DOUBLE) / n_tokens AS stopword_ratio
FROM t
WHERE n_tokens >= 30
  AND CAST(nd AS DOUBLE) / n_tokens >= 0.30
  AND CAST(ns AS DOUBLE) / n_tokens <= 0.30
ORDER BY doc_id
""",
    "tfidf_top_terms": """
WITH terms AS (
  SELECT doc_id, len(string_split(text, ' ')) AS doc_len,
         unnest(string_split(text, ' ')) AS term
  FROM documents),
per_doc AS (
  SELECT doc_id, doc_len, term, COUNT(*) AS tc FROM terms GROUP BY ALL),
dfreq AS (SELECT term, COUNT(*) AS df FROM per_doc GROUP BY term),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT doc_id, term,
         ROUND((CAST(tc AS DOUBLE) / doc_len)
               * ln((n_docs + 1.0) / (df + 1.0)), 6) AS score
  FROM per_doc JOIN dfreq USING (term) CROSS JOIN n),
ranked AS (
  SELECT doc_id, term, score,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, term) AS rank
  FROM scored)
SELECT doc_id, term, score, rank FROM ranked WHERE rank <= 3
ORDER BY doc_id, rank
""",
    "rolling_mean": f"""
WITH {_SERIES}
SELECT sid, seq, ts,
       ROUND(AVG(value) OVER (PARTITION BY sid ORDER BY ts, seq
             ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 6) AS rmean
FROM series ORDER BY sid, ts, seq
""",
    "trailing_24h_mean": f"""
WITH {_SERIES}
SELECT sid, seq, ts,
       ROUND(AVG(value) OVER (PARTITION BY sid ORDER BY epoch_us(ts)
             RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW), 6)
         AS mean_24h,
       COUNT(value) OVER (PARTITION BY sid ORDER BY epoch_us(ts)
             RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW)
         AS n_24h
FROM series ORDER BY sid, ts, seq
""",
    "robust_zscore": f"""
WITH {_SERIES},
med AS (SELECT sid, MEDIAN(value) AS med FROM series GROUP BY sid),
mad AS (
  SELECT s.sid, MEDIAN(ABS(s.value - m.med)) AS mad
  FROM series s JOIN med m USING (sid) GROUP BY s.sid)
SELECT s.sid, s.seq, s.ts, s.value,
       ROUND(0.6745 * (s.value - med) / NULLIF(mad, 0.0), 6) AS mz
FROM series s JOIN med USING (sid) JOIN mad USING (sid)
WHERE ABS(ROUND(0.6745 * (s.value - med) / NULLIF(mad, 0.0), 6)) > 3.5
ORDER BY s.sid, s.ts, s.seq
""",
    "gap_fill_hourly": f"""
WITH {_SERIES},
hourly AS (
  SELECT sid, date_trunc('hour', ts) AS hr,
         ROUND(AVG(value), 6) AS v_hour, COUNT(value) AS n_hour
  FROM series GROUP BY sid, date_trunc('hour', ts)),
bounds AS (
  SELECT sid, MIN(hr) AS hr_lo, MAX(hr) AS hr_hi FROM hourly GROUP BY sid),
grid AS (
  SELECT sid, unnest(generate_series(hr_lo, hr_hi, INTERVAL 1 HOUR)) AS hr
  FROM bounds),
g AS (
  SELECT grid.sid, grid.hr, hourly.v_hour, COALESCE(hourly.n_hour, 0) AS n_hour
  FROM grid LEFT JOIN hourly ON grid.sid = hourly.sid AND grid.hr = hourly.hr),
filled AS (
  SELECT sid, hr, v_hour, n_hour,
         LAST_VALUE(v_hour IGNORE NULLS) OVER (PARTITION BY sid ORDER BY hr
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_v,
         LAST_VALUE(CASE WHEN v_hour IS NOT NULL THEN hr END IGNORE NULLS)
           OVER (PARTITION BY sid ORDER BY hr
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_t,
         FIRST_VALUE(v_hour IGNORE NULLS) OVER (PARTITION BY sid ORDER BY hr
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_v,
         FIRST_VALUE(CASE WHEN v_hour IS NOT NULL THEN hr END IGNORE NULLS)
           OVER (PARTITION BY sid ORDER BY hr
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_t
  FROM g)
SELECT sid, hr, v_hour, n_hour, prev_v AS v_ffill,
       CASE WHEN v_hour IS NOT NULL THEN v_hour
            WHEN prev_v IS NULL THEN next_v
            WHEN next_v IS NULL THEN prev_v
            ELSE prev_v + (next_v - prev_v)
                 * (CAST(epoch_us(hr) - epoch_us(prev_t) AS DOUBLE)
                    / CAST(epoch_us(next_t) - epoch_us(prev_t) AS DOUBLE))
       END AS v_interp
FROM filled ORDER BY sid, hr
""",
    "zscore_anomaly": f"""
WITH {_SERIES},
stats AS (
  SELECT sid, AVG(value) AS mu, STDDEV_SAMP(value) AS sdev
  FROM series GROUP BY sid)
SELECT s.sid, s.seq, s.ts, s.value,
       ROUND((s.value - mu) / sdev, 6) AS z
FROM series s JOIN stats USING (sid)
WHERE ABS(ROUND((s.value - mu) / sdev, 6)) > 3.0
ORDER BY s.sid, s.ts, s.seq
""",
    "events_cube": """
SELECT event_type, CAST(isodow(ts) AS BIGINT) AS isodow,
       COUNT(*) AS n,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE)
         AS sum_value
FROM events
GROUP BY CUBE (event_type, CAST(isodow(ts) AS BIGINT))
ORDER BY event_type, isodow
""",
    "price_deciles": """
WITH t AS (
  SELECT o_totalprice,
         NTILE(10) OVER (ORDER BY o_totalprice, o_orderkey) AS decile
  FROM orders)
SELECT decile, COUNT(*) AS n,
       ROUND(MIN(o_totalprice), 2) AS lo,
       ROUND(MAX(o_totalprice), 2) AS hi
FROM t GROUP BY decile ORDER BY decile
""",
    "user_reach": """
SELECT event_type, COUNT(DISTINCT user_id) AS users
FROM events GROUP BY event_type ORDER BY event_type
""",
    "value_histogram": """
SELECT event_type, CAST(FLOOR(value / 25.0) AS BIGINT) AS bucket,
       COUNT(*) AS n
FROM events WHERE value IS NOT NULL
GROUP BY event_type, bucket ORDER BY event_type, bucket
""",
    "lineitem_unpivot": """
SELECT metric, COUNT(*) AS n,
       CAST(SUM(CAST(val AS DECIMAL(14,2))) AS DOUBLE) AS total
FROM (
  SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount
  FROM lineitem)
UNPIVOT (val FOR metric IN (l_quantity, l_extendedprice, l_discount))
GROUP BY metric ORDER BY metric
""",
    "shipping_priority": """
SELECT l_orderkey, o_orderdate, o_orderpriority,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
           * (1.00 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
    AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < '1998-01-01'
  AND l_shipdate > '1998-01-01'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
""",
    "shipmode_priority_counts": """
SELECT o_orderstatus,
  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate BETWEEN '1997-01-01' AND '1997-12-31 23:59:59'
GROUP BY o_orderstatus ORDER BY o_orderstatus
""",
    "decontaminate_ngram": """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
grams AS (
  SELECT doc_id, array_to_string(t[i:i+4], ' ') AS gram
  FROM toks, UNNEST(range(1, len(t) - 5 + 2)) AS u(i)
),
eval_grams AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 50 = 0),
train AS (SELECT * FROM grams WHERE doc_id % 50 <> 0)
SELECT train.doc_id, COUNT(DISTINCT train.gram) AS n_shared
FROM train JOIN eval_grams USING (gram)
GROUP BY train.doc_id ORDER BY doc_id
""",
    "sequence_pack": """
WITH d AS (
  SELECT doc_id, source,
         len(string_split(text, ' ')) AS n_tokens FROM documents),
p AS (
  SELECT source, doc_id, n_tokens,
         CAST(FLOOR((SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id)
                     - n_tokens) / 512) AS BIGINT) AS pack_id
  FROM d)
SELECT source, pack_id, COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens,
       CAST(SUM(n_tokens) AS BIGINT) / 512.0 AS fill_ratio
FROM p GROUP BY source, pack_id ORDER BY source, pack_id
""",
    "stratified_sample": """
WITH r AS (
  SELECT lang, doc_id,
         ROW_NUMBER() OVER (PARTITION BY lang
             ORDER BY (doc_id * 1103515245 + 12345) % 2147483648, doc_id
         ) AS rank
  FROM documents)
SELECT lang, doc_id, rank FROM r WHERE rank <= 50 ORDER BY lang, rank
""",
    "source_mix_sample": """
SELECT doc_id, source,
       ROUND(((CAST(substr(source, 4) AS BIGINT) % 4) + 1) / 5.0, 6)
           AS keep_rate
FROM documents
WHERE ((doc_id * 1103515245 + 12345) % 2147483648) % 5
      < (CAST(substr(source, 4) AS BIGINT) % 4) + 1
ORDER BY doc_id
""",
    "repetition_stats": """
WITH g AS (
  SELECT doc_id,
         unnest([t[i] || ' ' || t[i + 1] for i in range(1, len(t))]) AS gram
  FROM (SELECT doc_id, string_split(text, ' ') AS t
        FROM documents WHERE len(string_split(text, ' ')) >= 2)
), c AS (
  SELECT doc_id, gram, COUNT(*) AS n FROM g GROUP BY doc_id, gram
)
SELECT doc_id,
       CAST(SUM(n) AS BIGINT) AS n_grams,
       CAST(MAX(n) AS BIGINT) AS top_gram_count,
       ROUND(CAST(MAX(n) AS DOUBLE) / SUM(n), 6) AS rep2_share
FROM c GROUP BY doc_id ORDER BY doc_id
""",
    "label_centroids": """
WITH e AS (
  SELECT label, unnest(embedding) AS v,
         generate_subscripts(embedding, 1) - 1 AS pos
  FROM embeddings
)
SELECT label, CAST(pos AS BIGINT) AS pos,
       ROUND(AVG(v), 6) AS centroid,
       COUNT(*) AS n_vecs
FROM e GROUP BY label, pos ORDER BY label, pos
""",
    # first-touch funnel: stage k converts iff the user's FIRST stage-k
    # event is at-or-after their qualified stage-(k-1) time (NULLs
    # propagate forward through the CASE chain)
    "funnel_conversion": """
WITH pu AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'signup' THEN ts END) AS t0,
         min(CASE WHEN event_type = 'view' THEN ts END) AS t1,
         min(CASE WHEN event_type = 'click' THEN ts END) AS t2,
         min(CASE WHEN event_type = 'purchase' THEN ts END) AS t3
  FROM events GROUP BY user_id),
a AS (SELECT t2, t3, t0 AS q0,
             CASE WHEN t1 >= t0 THEN t1 END AS q1 FROM pu),
b AS (SELECT t3, q0, q1,
             CASE WHEN t2 >= q1 THEN t2 END AS q2 FROM a),
c AS (SELECT q0, q1, q2,
             CASE WHEN t3 >= q2 THEN t3 END AS q3 FROM b),
n AS (SELECT count(q0) AS n0, count(q1) AS n1,
             count(q2) AS n2, count(q3) AS n3 FROM c)
SELECT * FROM (
  SELECT CAST(1 AS BIGINT) AS stage, 'signup' AS event_type,
         n0 AS n_users,
         ROUND(CAST(n0 AS DOUBLE) / NULLIF(n0, 0), 6) AS conv_from_prev
  FROM n
  UNION ALL
  SELECT 2, 'view', n1, ROUND(CAST(n1 AS DOUBLE) / NULLIF(n0, 0), 6) FROM n
  UNION ALL
  SELECT 3, 'click', n2, ROUND(CAST(n2 AS DOUBLE) / NULLIF(n1, 0), 6) FROM n
  UNION ALL
  SELECT 4, 'purchase', n3, ROUND(CAST(n3 AS DOUBLE) / NULLIF(n2, 0), 6) FROM n
) ORDER BY stage
""",
    "retention_cohorts": """
WITH cohort AS (
  SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
  FROM events GROUP BY user_id),
active AS (
  SELECT DISTINCT user_id, date_trunc('week', ts) AS week
  FROM events)
SELECT cohort_week,
       CAST(date_diff('day', cohort_week, week) / 7 AS BIGINT) AS week_no,
       count(DISTINCT user_id) AS n_active
FROM active JOIN cohort USING (user_id)
GROUP BY cohort_week, week_no
ORDER BY cohort_week, week_no
""",
    "rolling_7d_active": """
WITH pairs AS (
  SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events),
days AS (SELECT DISTINCT day FROM pairs)
SELECT d.day, count(DISTINCT p.user_id) AS active_users
FROM days d JOIN pairs p
  ON p.day BETWEEN d.day - INTERVAL 6 DAY AND d.day
GROUP BY d.day ORDER BY d.day
""",
    "pii_redact": r"""
WITH aug AS (
  SELECT doc_id,
    text || ' user' || doc_id || '@mail' || (doc_id % 7) || '.example.com'
         || CASE WHEN doc_id % 4 <> 0
                 THEN ' +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                 ELSE '' END
         || ' 10.' || (doc_id % 256) || '.' || ((doc_id * 7) % 256) || '.42'
         || CASE WHEN doc_id % 5 = 0
                 THEN ' 192.168.' || (doc_id % 100) || '.7' ELSE '' END
      AS text
  FROM documents),
r1 AS (SELECT doc_id, regexp_replace(text,
         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g')
         AS s1 FROM aug),
r2 AS (SELECT doc_id, s1, regexp_replace(s1,
         '\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS s2 FROM r1),
r3 AS (SELECT doc_id, s1, s2, regexp_replace(s2,
         '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g')
         AS s3 FROM r2)
SELECT doc_id,
  CAST((len(s1) - len(replace(s1, '<EMAIL>', ''))) / 7 AS BIGINT)
    AS n_emails,
  CAST((len(s2) - len(replace(s2, '<PHONE>', ''))) / 7 AS BIGINT)
    AS n_phones,
  CAST((len(s3) - len(replace(s3, '<IP>', ''))) / 4 AS BIGINT) AS n_ips,
  s3 AS redacted
FROM r3 ORDER BY doc_id
""",
    "domain_stats": """
WITH aug AS (
  SELECT doc_id,
    text || ' https://www.site' || (doc_id % 23) || '.example.com/p/' || doc_id
         || CASE WHEN doc_id % 2 = 0
                 THEN ' http://cdn' || (doc_id % 7) || '.example.org/x'
                 ELSE '' END AS text
  FROM documents),
d AS (SELECT doc_id,
             lower(unnest(regexp_extract_all(
                 text, 'https?://([A-Za-z0-9.-]+)', 1))) AS domain
      FROM aug)
SELECT domain, count(*) AS n_urls, count(DISTINCT doc_id) AS n_docs
FROM d GROUP BY domain ORDER BY domain
""",
    "edit_distance_pairs": """
WITH t AS (SELECT doc_id, md5(substr(text, 1, 64)) AS ph,
                  substr(text, 1, 1024) AS text FROM documents)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(levenshtein(a.text, b.text) AS BIGINT) AS edit_dist
FROM t a JOIN t b ON a.ph = b.ph AND a.doc_id < b.doc_id
ORDER BY doc_a, doc_b
""",
    "cross_doc_ngram_share": """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
grams AS (
  SELECT DISTINCT doc_id, md5(array_to_string(t[i:i+7], ' ')) AS g
  FROM toks, UNNEST(range(1, len(t) - 8 + 2)) AS u(i)
),
per AS (SELECT doc_id, COUNT(*) OVER (PARTITION BY g) AS nd FROM grams)
SELECT doc_id, COUNT(*) AS n_grams,
       CAST(SUM(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_grams,
       ROUND(SUM(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) / COUNT(*), 6)
         AS dup_share
FROM per GROUP BY doc_id ORDER BY doc_id
""",
    "unigram_logprob": """
WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
              FROM documents),
tf AS (SELECT term, count(*) AS tf FROM toks GROUP BY term),
tot AS (SELECT count(*) AS t FROM toks),
pd AS (SELECT doc_id, count(*) AS n_tokens, sum(ln(tf)) AS s
       FROM toks JOIN tf USING (term) GROUP BY doc_id)
SELECT doc_id, n_tokens,
       ROUND((s - n_tokens * ln((SELECT t FROM tot))) / n_tokens, 5)
         AS avg_logprob
FROM pd ORDER BY doc_id
""",
    "source_lang_matrix": """
SELECT source,
  CAST(SUM(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS BIGINT) AS de,
  CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS en,
  CAST(SUM(CASE WHEN lang = 'es' THEN 1 ELSE 0 END) AS BIGINT) AS es,
  CAST(SUM(CASE WHEN lang = 'fr' THEN 1 ELSE 0 END) AS BIGINT) AS fr,
  CAST(SUM(CASE WHEN lang = 'zh' THEN 1 ELSE 0 END) AS BIGINT) AS zh
FROM documents GROUP BY source ORDER BY source
""",
    "corpus_summary": """
WITH per_doc AS (
  SELECT source, lang, md5(text) AS digest,
         len(string_split(text, ' ')) AS n_tokens,
         CASE WHEN len(string_split(text, ' ')) >= 30
               AND CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                   / len(string_split(text, ' ')) >= 0.30
               AND CAST(len(list_filter(string_split(text, ' '),
                     x -> x IN ('the', 'a', 'of', 'and', 'to', 'in')))
                     AS DOUBLE)
                   / len(string_split(text, ' ')) <= 0.30
              THEN 1 ELSE 0 END AS q
  FROM documents)
SELECT source,
  COUNT(*) AS n_docs,
  COUNT(DISTINCT digest) AS n_distinct_texts,
  ROUND(1.0 - CAST(COUNT(DISTINCT digest) AS DOUBLE) / COUNT(*), 6)
    AS dup_share,
  ROUND(CAST(SUM(n_tokens) AS DOUBLE) / COUNT(*), 4) AS avg_tokens,
  ROUND(CAST(SUM(q) AS DOUBLE) / COUNT(*), 6) AS quality_pass_share,
  COUNT(DISTINCT lang) AS n_langs
FROM per_doc GROUP BY source ORDER BY source
""",
    "media_dedup": """
WITH d AS (SELECT doc_id, sha256(text) AS digest FROM documents)
SELECT doc_id,
       MIN(doc_id) OVER (PARTITION BY digest) AS rep_id,
       COUNT(*) OVER (PARTITION BY digest) AS n_copies
FROM d ORDER BY doc_id
""",
    "cooccurrence_counts": """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
pos AS (
  SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS i FROM toks
),
pairs AS (
  SELECT t[i] AS center, t[j] AS context
  FROM pos, UNNEST(range(GREATEST(1, i - 2), LEAST(len(t), i + 2) + 1))
       AS u(j)
  WHERE j <> i
)
SELECT center, context, COUNT(*) AS n
FROM pairs GROUP BY center, context
HAVING COUNT(*) >= 5
ORDER BY n DESC, center, context
""",
    "doc_chunking": """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
starts AS (
  SELECT doc_id, t,
         unnest(range(1, GREATEST(len(t), 1) + 1, 48)) AS s
  FROM toks)
SELECT doc_id,
       CAST((s - 1) // 48 AS BIGINT) AS chunk_id,
       CAST(LEAST(64, len(t) - s + 1) AS BIGINT) AS n_tokens,
       md5(array_to_string(t[s:LEAST(s + 63, len(t))], ' ')) AS digest
FROM starts ORDER BY doc_id, chunk_id
""",
    "data_expectations": """
WITH agg AS (
  SELECT COUNT(*) AS n_rows,
    SUM(CASE WHEN event_id IS NOT NULL THEN 0 ELSE 1 END) AS r0,
    SUM(CASE WHEN event_type IN
        ('click','view','purchase','error','signup') THEN 0 ELSE 1 END) AS r1,
    SUM(CASE WHEN ts >= TIMESTAMP '2024-01-01'
         AND ts < TIMESTAMP '2025-01-01' THEN 0 ELSE 1 END) AS r2,
    SUM(CASE WHEN user_id > 0 THEN 0 ELSE 1 END) AS r3,
    SUM(CASE WHEN value IS NOT NULL THEN 0 ELSE 1 END) AS r4,
    SUM(CASE WHEN ABS(value) < 1000000.0 THEN 0 ELSE 1 END) AS r5
  FROM events),
rules AS (
  SELECT 'event_id_nonnull' AS rule, n_rows, CAST(r0 AS BIGINT) AS n_violations FROM agg
  UNION ALL SELECT 'event_type_known', n_rows, CAST(r1 AS BIGINT) FROM agg
  UNION ALL SELECT 'ts_in_2024', n_rows, CAST(r2 AS BIGINT) FROM agg
  UNION ALL SELECT 'user_id_positive', n_rows, CAST(r3 AS BIGINT) FROM agg
  UNION ALL SELECT 'value_nonnull', n_rows, CAST(r4 AS BIGINT) FROM agg
  UNION ALL SELECT 'value_sane', n_rows, CAST(r5 AS BIGINT) FROM agg)
SELECT rule, n_rows, n_violations,
       ROUND(CAST(n_violations AS DOUBLE) / n_rows, 6) AS violation_rate
FROM rules ORDER BY rule
""",
    "bigram_logprob": """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
br AS (
  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
  FROM toks, UNNEST(range(1, len(t))) AS u(i)
  WHERE len(t) >= 2),
bg AS (SELECT w1, w2, COUNT(*) AS c2 FROM br GROUP BY 1, 2),
ug AS (SELECT w1, COUNT(*) AS c1 FROM br GROUP BY 1),
vocab AS (
  SELECT COUNT(DISTINCT w) AS v
  FROM (SELECT unnest(t) AS w FROM toks))
SELECT doc_id, COUNT(*) AS n_bigrams,
       ROUND(AVG(ln((c2 + 1.0) / (c1 + v))), 5) AS avg_logprob
FROM br JOIN bg USING (w1, w2) JOIN ug USING (w1) CROSS JOIN vocab
GROUP BY doc_id ORDER BY doc_id
""",
    "event_pair_lift": """
WITH bt AS (
  SELECT DISTINCT user_id, date_trunc('day', ts) AS d, event_type
  FROM events),
baskets AS (SELECT user_id, d FROM bt GROUP BY user_id, d),
n AS (SELECT COUNT(*) AS n_baskets FROM baskets),
tc AS (SELECT event_type AS t, COUNT(*) AS n_t FROM bt GROUP BY event_type),
pc AS (
  SELECT x.event_type AS a, y.event_type AS b, COUNT(*) AS n_ab
  FROM bt x JOIN bt y
    ON x.user_id = y.user_id AND x.d = y.d AND x.event_type < y.event_type
  GROUP BY 1, 2)
SELECT a, b, n_ab,
       ROUND(CAST(n_ab AS DOUBLE) * n_baskets / (ta.n_t * tb.n_t), 6) AS lift
FROM pc JOIN tc ta ON pc.a = ta.t JOIN tc tb ON pc.b = tb.t CROSS JOIN n
WHERE n_ab >= 5
ORDER BY a, b
""",
    "props_value_stats": """
WITH e AS (
  SELECT event_type,
         CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
  FROM events)
SELECT event_type,
  COUNT(k) AS n_with_k,
  CAST(SUM(k) AS BIGINT) AS sum_k,
  MIN(k) AS min_k,
  MAX(k) AS max_k,
  ROUND(CAST(SUM(k) AS DOUBLE) / COUNT(k), 4) AS avg_k
FROM e GROUP BY event_type ORDER BY event_type
""",
    "session_overlap": """
WITH ser AS (SELECT CAST(user_id AS VARCHAR) AS sid, event_id AS seq, ts,
                    event_type
             FROM events WHERE event_type IN ('error', 'purchase')),
lagged AS (SELECT sid, event_type, seq, ts,
           epoch_us(ts) - epoch_us(LAG(ts) OVER (
             PARTITION BY sid, event_type ORDER BY ts, seq)) AS d
           FROM ser),
flagged AS (SELECT *, CASE WHEN d IS NULL OR d > 14400000000
            THEN 1 ELSE 0 END AS ns FROM lagged),
sess AS (SELECT *, CAST(SUM(ns) OVER (PARTITION BY sid, event_type
         ORDER BY ts, seq ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         AS BIGINT) AS session_id FROM flagged),
agg AS (SELECT sid, event_type, session_id, MIN(ts) AS s, MAX(ts) AS e
        FROM sess GROUP BY sid, event_type, session_id)
SELECT a.sid, a.session_id AS err_session, a.s AS err_start, a.e AS err_stop,
       b.session_id AS pur_session, b.s AS pur_start, b.e AS pur_stop,
       epoch_us(LEAST(a.e, b.e)) - epoch_us(GREATEST(a.s, b.s)) AS overlap_us
FROM agg a JOIN agg b
  ON a.sid = b.sid AND a.event_type = 'error' AND b.event_type = 'purchase'
 AND a.s <= b.e AND b.s <= a.e
ORDER BY a.sid, err_session, pur_session
""",
    "seasonal_anomaly": f"""
WITH {_SERIES},
h AS (SELECT sid, seq, ts, value,
      CAST(FLOOR(EXTRACT(hour FROM ts) / 6) AS BIGINT) AS tod FROM series),
s AS (SELECT sid, seq, ts, value, tod,
      ROUND((value - AVG(value) OVER (PARTITION BY sid, tod))
            / STDDEV_SAMP(value) OVER (PARTITION BY sid, tod), 6) AS z
      FROM h)
SELECT * FROM s WHERE ABS(z) > 1.5 ORDER BY sid, ts, seq
""",
    "quality_bucket_sample": """
WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
              FROM documents),
tf AS (SELECT term, count(*) AS tf FROM toks GROUP BY term),
tot AS (SELECT count(*) AS t FROM toks),
pd AS (SELECT doc_id, count(*) AS n_tokens, sum(ln(tf)) AS s
       FROM toks JOIN tf USING (term) GROUP BY doc_id),
scored AS (SELECT d.doc_id, d.source,
           ROUND((s - n_tokens * ln((SELECT t FROM tot))) / n_tokens, 5)
             AS avg_logprob
           FROM pd JOIN documents d ON pd.doc_id = d.doc_id),
ranked AS (SELECT *,
           ROW_NUMBER() OVER (PARTITION BY source
                              ORDER BY avg_logprob DESC, doc_id) AS rn,
           COUNT(*) OVER (PARTITION BY source) AS n FROM scored)
SELECT doc_id, source, avg_logprob,
       CAST(CEIL(rn * 10.0 / n) AS BIGINT) AS decile
FROM ranked
WHERE (doc_id * 1103515245 + 12345) % 2147483648 % 10
      < 11 - CAST(CEIL(rn * 10.0 / n) AS BIGINT)
ORDER BY doc_id
""",
    "value_drift_psi": """
WITH ev AS (SELECT event_type, value, ts FROM events
            WHERE value IS NOT NULL AND NOT isnan(value)),
hist AS (
  SELECT event_type,
         LEAST(CAST(FLOOR(value / 50.0) AS BIGINT), 9) AS bin,
         SUM(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00' THEN 1 ELSE 0 END) AS n_a,
         SUM(CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00' THEN 1 ELSE 0 END) AS n_b
  FROM ev GROUP BY 1, 2),
tot AS (SELECT *, SUM(n_a) OVER (PARTITION BY event_type) AS ta,
               SUM(n_b) OVER (PARTITION BY event_type) AS tb FROM hist),
c AS (SELECT event_type, n_a, n_b,
      ((n_a + 1.0) / (ta + 10.0) - (n_b + 1.0) / (tb + 10.0))
        * ln(((n_a + 1.0) / (ta + 10.0)) / ((n_b + 1.0) / (tb + 10.0))) AS contrib
      FROM tot)
SELECT event_type, CAST(SUM(n_a) AS BIGINT) AS n_a,
       CAST(SUM(n_b) AS BIGINT) AS n_b,
       ROUND(SUM(contrib), 6) AS psi
FROM c GROUP BY event_type ORDER BY event_type
""",
    "cusum_alarm": f"""
WITH {_SERIES},
clean AS (SELECT * FROM series WHERE value IS NOT NULL AND NOT isnan(value)),
std AS (SELECT sid, seq, ts, value,
        (value - AVG(value) OVER (PARTITION BY sid))
          / STDDEV_SAMP(value) OVER (PARTITION BY sid) AS z
        FROM clean),
cum AS (SELECT sid, seq, ts, value,
        SUM(z - 0.5) OVER (PARTITION BY sid ORDER BY ts, seq
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cp,
        SUM(-z - 0.5) OVER (PARTITION BY sid ORDER BY ts, seq
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cn
        FROM std),
st AS (SELECT sid, seq, ts, value,
       ROUND(cp - MIN(cp) OVER (PARTITION BY sid ORDER BY ts, seq
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS s_pos,
       ROUND(cn - MIN(cn) OVER (PARTITION BY sid ORDER BY ts, seq
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS s_neg
       FROM cum)
SELECT * FROM st WHERE s_pos > 5.0 OR s_neg > 5.0 ORDER BY sid, ts, seq
""",
    "series_trend": f"""
WITH {_SERIES},
clean AS (SELECT sid, value AS y, epoch_us(ts) / 3.6e9 AS x
          FROM series WHERE value IS NOT NULL AND NOT isnan(value)),
fit AS (SELECT sid,
        CAST(regr_count(y, x) AS BIGINT) AS n_points,
        ROUND(regr_slope(y, x), 5) AS slope_per_hour,
        ROUND(regr_intercept(y, x), 4) AS intercept,
        ROUND(regr_r2(y, x), 5) AS r2
        FROM clean GROUP BY sid)
SELECT * FROM fit WHERE n_points >= 2 ORDER BY sid
""",
    "loyal_customers": """
WITH q AS (
  SELECT o_custkey, COUNT(*) AS n_orders
  FROM orders
  WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
    AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
  GROUP BY o_custkey
  HAVING COUNT(DISTINCT year(o_orderdate)) = 3)
SELECT c_custkey, c_name, CAST(n_orders AS BIGINT) AS n_orders
FROM q JOIN customer ON o_custkey = c_custkey
ORDER BY c_custkey
""",
    "nation_revenue_share": """
WITH pn AS (
  SELECT r_name AS region, n_name AS nation,
         SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS cents
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  GROUP BY r_name, n_name)
SELECT region, nation,
  ROUND(CAST(cents AS DOUBLE) / 100.0, 3) AS revenue,
  ROUND(CAST(cents AS DOUBLE)
        / CAST(SUM(cents) OVER (PARTITION BY region) AS DOUBLE), 6)
    AS share_region,
  ROUND(CAST(cents AS DOUBLE) / CAST(SUM(cents) OVER () AS DOUBLE), 6)
    AS share_global
FROM pn ORDER BY region, nation
""",
    "series_quantile_bands": f"""
WITH {_SERIES},
clean AS (SELECT sid, value FROM series
          WHERE value IS NOT NULL AND NOT isnan(value)),
stats AS (SELECT sid, COUNT(*) AS n,
          quantile_cont(value, 0.1) AS q10, quantile_cont(value, 0.25) AS q25,
          quantile_cont(value, 0.5) AS q50, quantile_cont(value, 0.75) AS q75,
          quantile_cont(value, 0.9) AS q90
          FROM clean GROUP BY sid)
SELECT c.sid, MIN(n) AS n,
       ROUND(MIN(q10), 6) AS p10, ROUND(MIN(q50), 6) AS p50,
       ROUND(MIN(q90), 6) AS p90, ROUND(MIN(q75 - q25), 6) AS iqr,
       CAST(SUM(CASE WHEN value < q25 - 1.5 * (q75 - q25)
                       OR value > q75 + 1.5 * (q75 - q25)
                THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM clean c JOIN stats s ON c.sid = s.sid
GROUP BY c.sid ORDER BY c.sid
""",
    "embedding_quantize": """
WITH q AS (
  SELECT vec_id, len(embedding) AS dim,
         list_max(list_transform(embedding,
                  v -> abs(CAST(v AS DOUBLE)))) / 127.0 AS scale
  FROM embeddings),
e AS (
  SELECT m.vec_id, q.dim, q.scale,
         sqrt(list_aggregate(list_transform(m.embedding, v ->
             pow(CAST(v AS DOUBLE)
                 - floor(CAST(v AS DOUBLE) / q.scale + 0.5) * q.scale, 2)),
           'sum') / q.dim) AS rms
  FROM embeddings m JOIN q USING (vec_id))
SELECT vec_id, CAST(dim AS BIGINT) AS dim, ROUND(scale, 9) AS scale,
       CASE WHEN scale = 0.0 THEN 0.0 ELSE ROUND(rms, 9) END AS rms_err
FROM e ORDER BY vec_id
""",
    "duplicate_spans": """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
pg AS (
  SELECT doc_id, CAST(i AS BIGINT) AS pos,
         md5(array_to_string(t[i:i+7], ' ')) AS g
  FROM toks, UNNEST(range(1, len(t) - 8 + 2)) AS u(i)
),
dupg AS (SELECT g FROM pg GROUP BY g HAVING COUNT(DISTINCT doc_id) >= 2),
m AS (SELECT doc_id, pos FROM pg JOIN dupg USING (g)),
runs AS (
  SELECT doc_id, pos,
         pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS rid
  FROM m
)
SELECT doc_id,
       CAST(MIN(pos) AS BIGINT) AS start_pos,
       CAST(MAX(pos) AS BIGINT) AS end_pos,
       CAST(MAX(pos) - MIN(pos) + 8 AS BIGINT) AS span_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_grams
FROM runs GROUP BY doc_id, rid
HAVING COUNT(*) >= 3
ORDER BY doc_id, start_pos
""",
    "remove_duplicate_spans": """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
pg AS (
  SELECT doc_id, CAST(i AS BIGINT) AS pos,
         md5(array_to_string(t[i:i+7], ' ')) AS g
  FROM toks, UNNEST(range(1, len(t) - 8 + 2)) AS u(i)
),
dupg AS (SELECT g FROM pg GROUP BY g HAVING COUNT(DISTINCT doc_id) >= 2),
m AS (SELECT doc_id, pos FROM pg JOIN dupg USING (g)),
runs AS (
  SELECT doc_id, pos,
         pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS rid
  FROM m
),
spans AS (
  SELECT doc_id, MIN(pos) AS a, MAX(pos) + 7 AS b
  FROM runs GROUP BY doc_id, rid HAVING COUNT(*) >= 3
),
tok_pos AS (
  SELECT doc_id, CAST(i AS BIGINT) AS pos, t[i] AS tok
  FROM toks, UNNEST(range(1, len(t) + 1)) AS u(i)
),
removed AS (
  SELECT DISTINCT tp.doc_id, tp.pos
  FROM tok_pos tp JOIN spans s
    ON tp.doc_id = s.doc_id AND tp.pos BETWEEN s.a AND s.b
),
kept AS (
  SELECT tp.doc_id, tp.pos, tp.tok
  FROM tok_pos tp LEFT JOIN removed r
    ON tp.doc_id = r.doc_id AND tp.pos = r.pos
  WHERE r.pos IS NULL
),
agg AS (
  SELECT doc_id, COUNT(*) AS n_kept,
         string_agg(tok, ' ' ORDER BY pos) AS clean_text
  FROM kept GROUP BY doc_id
)
SELECT t.doc_id, CAST(len(t.t) AS BIGINT) AS n_tokens,
       CAST(len(t.t) - COALESCE(a.n_kept, 0) AS BIGINT) AS n_removed,
       CASE WHEN t.t IS NOT NULL THEN COALESCE(a.clean_text, '') END
         AS clean_text
FROM toks t LEFT JOIN agg a USING (doc_id)
ORDER BY t.doc_id
""",
    "min_cost_supplier": """
WITH priced AS (
  SELECT l_partkey, p_name, l_suppkey,
         ROUND(l_extendedprice / l_quantity, 6) AS unit_price
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_type = 'PROMO'
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (
      PARTITION BY l_partkey ORDER BY unit_price, l_suppkey) AS rk
  FROM priced
)
SELECT l_partkey AS p_partkey, p_name, s_name, s_acctbal, unit_price
FROM ranked JOIN supplier ON l_suppkey = s_suppkey
WHERE rk = 1
ORDER BY p_partkey
""",
    "important_parts": """
WITH per_part AS (
  SELECT l_partkey, SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS cents
  FROM lineitem GROUP BY l_partkey
), tot AS (
  SELECT *, SUM(cents) OVER () AS total_cents FROM per_part
)
SELECT l_partkey AS p_partkey,
       ROUND(cents / 100.0, 2) AS part_value,
       ROUND(CAST(cents AS DOUBLE) / total_cents, 8) AS value_share
FROM tot
WHERE cents > total_cents / 2000.0
ORDER BY part_value DESC, p_partkey
""",
    "top_supplier": """
WITH per_supp AS (
  SELECT l_suppkey,
         SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
             (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2))))
           AS total_rev
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY l_suppkey
), m AS (SELECT *, MAX(total_rev) OVER () AS max_rev FROM per_supp)
SELECT s_suppkey, s_name, CAST(total_rev AS DOUBLE) AS total_revenue
FROM m JOIN supplier ON l_suppkey = s_suppkey
WHERE total_rev = max_rev
ORDER BY s_suppkey
""",
    "large_volume_customers": """
WITH big AS (
  SELECT l_orderkey, ROUND(SUM(l_quantity), 2) AS sum_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING ROUND(SUM(l_quantity), 2) > 300.0
)
SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice, sum_qty
FROM orders
JOIN big ON o_orderkey = l_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY o_totalprice DESC, o_orderkey
""",
    "sole_return_supplier": """
WITH per_order AS (
  SELECT l_orderkey,
         COUNT(DISTINCT l_suppkey) AS n_supp,
         COUNT(DISTINCT CASE WHEN l_returnflag = 'R' THEN l_suppkey END)
           AS n_ret,
         MIN(CASE WHEN l_returnflag = 'R' THEN l_suppkey END) AS ret_suppkey
  FROM lineitem
  WHERE l_orderkey IN (SELECT o_orderkey FROM orders
                       WHERE o_orderstatus = 'F')
  GROUP BY l_orderkey
)
SELECT s_suppkey, s_name, COUNT(*) AS numwait
FROM per_order JOIN supplier ON ret_suppkey = s_suppkey
WHERE n_supp >= 2 AND n_ret = 1
GROUP BY s_suppkey, s_name
ORDER BY numwait DESC, s_suppkey
""",
    "rich_idle_customers": """
SELECT n_name,
       COUNT(*) AS n_custs,
       ROUND(SUM(c_acctbal), 2) AS total_acctbal
FROM customer JOIN nation ON c_nationkey = n_nationkey
WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                  AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
GROUP BY n_name ORDER BY n_name
""",
    "discounted_revenue": """
SELECT ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                      * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE), 3)
       AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1997-01-01'
  AND l_discount >= 0.05 AND l_discount <= 0.07
  AND l_quantity < 24
""",
    "returned_item_customers": """
WITH rev AS (
  SELECT o_custkey,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                  * (CAST(1 AS DECIMAL(12,2))
                     - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS _rev
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE l_returnflag = 'R'
    AND o_orderdate >= TIMESTAMP '1996-01-01'
    AND o_orderdate <  TIMESTAMP '1996-04-01'
  GROUP BY o_custkey
  ORDER BY _rev DESC, o_custkey LIMIT 20)
SELECT c_custkey, c_name, n_name,
       ROUND(_rev, 3) AS revenue,
       ROUND(c_acctbal, 2) AS c_acctbal
FROM rev JOIN customer ON c_custkey = o_custkey
         JOIN nation ON c_nationkey = n_nationkey
ORDER BY revenue DESC, c_custkey
""",
    "customer_order_distribution": """
WITH per_cust AS (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey)
SELECT c_count, COUNT(*) AS custdist
FROM per_cust GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
""",
    "promo_revenue_pct": """
SELECT ROUND(
  100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
      THEN CAST(l_extendedprice AS DECIMAL(12,2))
           * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(4,2)))
      ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
  / CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
             * (CAST(1 AS DECIMAL(12,2))
                - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE),
  4) AS promo_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-03-01'
  AND l_shipdate <  TIMESTAMP '1996-04-01'
""",
    "disjunctive_part_revenue": """
SELECT ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                      * (CAST(1 AS DECIMAL(12,2))
                         - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE), 3)
       AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#12' AND l_quantity BETWEEN 1 AND 11
       AND p_size BETWEEN 1 AND 5)
   OR (p_brand = 'Brand#23' AND l_quantity BETWEEN 10 AND 20
       AND p_size BETWEEN 1 AND 10)
   OR (p_brand = 'Brand#34' AND l_quantity BETWEEN 20 AND 30
       AND p_size BETWEEN 1 AND 15)
""",
    "heavy_shippers": """
SELECT s_suppkey, s_name FROM supplier
WHERE s_suppkey IN (
  SELECT l_suppkey FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_name LIKE 'large%'
    AND l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate <  TIMESTAMP '1997-01-01'
  GROUP BY l_suppkey, l_partkey HAVING SUM(l_quantity) > 50)
ORDER BY s_suppkey
""",
    "hash_sample": """
SELECT doc_id, source, md5(CAST(doc_id AS VARCHAR)) AS sample_key
FROM documents ORDER BY sample_key, doc_id LIMIT 200
""",
    "part_supplier_counts": """
SELECT p_brand, p_type, CAST(p_size AS BIGINT) AS p_size,
       COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#5' AND p_type <> 'PROMO'
  AND p_size IN (1,4,9,14,19,24,29,34,39,44,49)
  AND l_suppkey IN (SELECT s_suppkey FROM supplier WHERE s_acctbal >= 1000.0)
GROUP BY 1, 2, 3
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
""",
    "bm25_rank": """
WITH q(q_id, term) AS (VALUES
    ('q0','hash'),('q0','join'),
    ('q1','window'),('q1','agg'),('q1','stream'),
    ('q2','vector'),('q2','scan')),
st AS (SELECT COUNT(*) AS n_docs,
              AVG(len(string_split(text,' '))) AS avgdl FROM documents),
tok AS (SELECT doc_id, len(string_split(text,' ')) AS dl,
               unnest(string_split(text,' ')) AS term FROM documents),
tf AS (SELECT q_id, t.term, doc_id, dl, COUNT(*) AS tf
       FROM tok t JOIN q USING (term) GROUP BY 1,2,3,4),
dfs AS (SELECT q_id, term, COUNT(DISTINCT doc_id) AS df
        FROM tf GROUP BY 1,2),
sc AS (
  SELECT tf.q_id, tf.doc_id,
    ROUND(SUM(ln((n_docs - df + 0.5)/(df + 0.5) + 1.0)
              * (tf * (1.5+1.0))
              / (tf + 1.5*(1.0-0.75+0.75*dl/avgdl))), 5) AS score
  FROM tf JOIN dfs USING (q_id, term), st
  GROUP BY 1,2)
SELECT q_id,
       CAST(row_number() OVER (PARTITION BY q_id
            ORDER BY score DESC, doc_id) AS BIGINT) AS rank,
       doc_id, score
FROM sc QUALIFY rank <= 10 ORDER BY q_id, rank
""",
    "random_projection": """
SELECT vec_id, CAST(j AS BIGINT) AS j,
  CAST(list_sum(list_transform(range(64), i ->
     CAST(ROUND(CAST(embedding[i+1] AS DOUBLE)*1e6) AS BIGINT) *
     (CASE WHEN (i*73856093 + j*19349663) % 97 < 48 THEN 1 ELSE -1 END)))
   AS DOUBLE) / 4e6 AS proj
FROM embeddings, range(16) t(j)
ORDER BY vec_id, j
""",
    "nation_market_share": """
WITH vol AS (
  SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year, sn.n_name AS supp_nation,
         CAST(ROUND(l_extendedprice * 100) AS BIGINT) *
         (100 - CAST(ROUND(l_discount * 100) AS BIGINT)) AS volume
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation sn ON s_nationkey = sn.n_nationkey
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation cn ON c_nationkey = cn.n_nationkey
  JOIN region ON cn.n_regionkey = r_regionkey
  WHERE p_type = 'ECONOMY' AND r_name = 'ASIA'
    AND o_orderdate >= TIMESTAMP '1995-01-01'
    AND o_orderdate <  TIMESTAMP '1997-01-01')
SELECT o_year,
  ROUND(CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN volume ELSE 0 END)
        AS DOUBLE) / 1e4, 3) AS target_volume,
  ROUND(CAST(SUM(volume) AS DOUBLE) / 1e4, 3) AS total_volume,
  ROUND(CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN volume ELSE 0 END)
        AS DOUBLE) / CAST(SUM(volume) AS DOUBLE), 6) AS mkt_share
FROM vol GROUP BY o_year ORDER BY o_year
""",
    "product_type_profit": """
WITH amt AS (
  SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
         CAST(ROUND(l_extendedprice * 100) AS BIGINT) *
           (100 - CAST(ROUND(l_discount * 100) AS BIGINT))
         - CAST(ROUND(p_retailprice * 100) AS BIGINT) *
           CAST(ROUND(l_quantity) AS BIGINT) * 50 AS profit
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  JOIN orders ON l_orderkey = o_orderkey
  WHERE p_name LIKE '%blue%')
SELECT nation, o_year,
  ROUND(CAST(SUM(profit) AS DOUBLE) / 1e4, 3) AS sum_profit
FROM amt GROUP BY nation, o_year ORDER BY nation, o_year
""",
    "anomaly_consensus": f"""
WITH {_SERIES},
h AS (SELECT sid, seq, ts, value,
      CAST(FLOOR(EXTRACT(hour FROM ts) / 6) AS BIGINT) AS tod FROM series),
med AS (SELECT sid, MEDIAN(value) AS med FROM series GROUP BY sid),
mad AS (
  SELECT s.sid, MEDIAN(ABS(s.value - m.med)) AS mad
  FROM series s JOIN med m USING (sid) GROUP BY s.sid),
scored AS (
  SELECT h.sid, h.seq, h.ts, h.value,
         ROUND((h.value - AVG(h.value) OVER (PARTITION BY h.sid))
               / STDDEV_SAMP(h.value) OVER (PARTITION BY h.sid), 6) AS z_global,
         ROUND(0.6745 * (h.value - med) / NULLIF(mad, 0.0), 6) AS z_robust,
         ROUND((h.value - AVG(h.value) OVER (PARTITION BY h.sid, h.tod))
               / STDDEV_SAMP(h.value) OVER (PARTITION BY h.sid, h.tod), 6)
           AS z_seasonal
  FROM h JOIN med USING (sid) JOIN mad USING (sid)),
voted AS (
  SELECT *,
         CAST((CASE WHEN ABS(z_global) > 3.0 THEN 1 ELSE 0 END)
            + (CASE WHEN ABS(z_robust) > 3.5 THEN 1 ELSE 0 END)
            + (CASE WHEN ABS(z_seasonal) > 1.5 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_flags
  FROM scored)
SELECT sid, seq, ts, value, n_flags, z_global, z_robust, z_seasonal
FROM voted WHERE n_flags >= 2 ORDER BY sid, ts, seq
""",
    "downsample_ohlc": """
WITH s AS (
  SELECT CAST(user_id AS VARCHAR) AS sid, event_id AS seq, ts, value
  FROM events WHERE value IS NOT NULL AND NOT isnan(value)
), r AS (
  SELECT sid, date_trunc('day', ts) AS day, value,
         row_number() OVER (PARTITION BY sid, date_trunc('day', ts)
                            ORDER BY ts, seq) AS rn_a,
         row_number() OVER (PARTITION BY sid, date_trunc('day', ts)
                            ORDER BY ts DESC, seq DESC) AS rn_d
  FROM s)
SELECT sid, day,
       MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
       MAX(value) AS high,
       MIN(value) AS low,
       MAX(CASE WHEN rn_d = 1 THEN value END) AS close,
       COUNT(*) AS n_obs
FROM r GROUP BY sid, day ORDER BY sid, day
""",
    "corpus_yield": """
WITH t AS (
  SELECT source,
         len(string_split(text, ' ')) AS n_tokens,
         len(list_distinct(string_split(text, ' '))) AS nd,
         len(list_filter(string_split(text, ' '),
             x -> x IN ('the','a','of','and','to','in'))) AS ns
  FROM documents),
g AS (
  SELECT source,
         (n_tokens >= 30) AS g_len,
         (n_tokens >= 30 AND CAST(nd AS DOUBLE)/n_tokens >= 0.30) AS g_len_div,
         (n_tokens >= 30 AND CAST(nd AS DOUBLE)/n_tokens >= 0.30
          AND CAST(ns AS DOUBLE)/n_tokens <= 0.30) AS g_all
  FROM t)
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN g_len THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_len,
       CAST(SUM(CASE WHEN g_len_div THEN 1 ELSE 0 END) AS BIGINT)
         AS n_pass_len_div,
       CAST(SUM(CASE WHEN g_all THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_all,
       ROUND(SUM(CASE WHEN g_all THEN 1 ELSE 0 END) * 100.0 / COUNT(*), 4)
         AS yield_pct
FROM g GROUP BY source ORDER BY source
""",
    "event_type_corr": """
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS hr, event_type,
         ROUND(AVG(value), 6) AS v
  FROM events WHERE value IS NOT NULL AND NOT isnan(value)
  GROUP BY date_trunc('hour', ts), event_type)
SELECT a.event_type AS type_a, b.event_type AS type_b,
       COUNT(*) AS n_hours,
       ROUND(corr(a.v, b.v), 5) AS corr
FROM hourly a JOIN hourly b ON a.hr = b.hr
WHERE a.event_type < b.event_type
GROUP BY a.event_type, b.event_type
HAVING COUNT(*) >= 24
ORDER BY type_a, type_b
""",
    "series_acf": """
WITH s AS (
  SELECT CAST(user_id AS VARCHAR) AS sid, event_id AS seq, ts, value
  FROM events WHERE value IS NOT NULL AND NOT isnan(value)
), l AS (
  SELECT sid, value,
         lag(value, 1) OVER (PARTITION BY sid ORDER BY ts, seq) AS _lag1,
         lag(value, 2) OVER (PARTITION BY sid ORDER BY ts, seq) AS _lag2,
         lag(value, 3) OVER (PARTITION BY sid ORDER BY ts, seq) AS _lag3
  FROM s)
SELECT sid, COUNT(value) AS n_points,
       ROUND(corr(value, _lag1), 5) AS acf_lag1,
       ROUND(corr(value, _lag2), 5) AS acf_lag2,
       ROUND(corr(value, _lag3), 5) AS acf_lag3
FROM l GROUP BY sid HAVING COUNT(value) > 3 ORDER BY sid
""",
    "classifier_score": """
WITH t AS (
  SELECT doc_id, list_transform(string_split(text, ' '),
    x -> (((length(x) * 131 + ascii(x) * 7919 + ascii(reverse(x)) * 104729)
           % 4093) * 2654435761) % 1000003) AS ws
  FROM documents
), m AS (
  SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tokens,
         ROUND(CAST(list_sum(ws) AS DOUBLE) / (len(ws) * 1000003.0) - 0.5, 6)
           AS margin
  FROM t)
SELECT doc_id, n_tokens, margin, margin > 0 AS keep
FROM m ORDER BY doc_id
""",
    "seasonal_decompose": """
WITH s AS (
  SELECT CAST(user_id AS VARCHAR) AS sid, event_id AS seq, ts, value,
         CAST(ROUND(value * 1e6) AS BIGINT) AS _vu
  FROM events WHERE value IS NOT NULL AND NOT isnan(value)
), t AS (
  SELECT sid, seq, ts, value, _vu,
         CAST(FLOOR(
           CAST(SUM(_vu) OVER w AS DOUBLE) / COUNT(*) OVER w + 0.5
         ) AS BIGINT) AS _tu,
         CAST(hour(ts) AS BIGINT) AS _hod
  FROM s
  WINDOW w AS (PARTITION BY sid ORDER BY ts, seq
               ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)
), se AS (
  SELECT sid, seq, ts, value, _vu, _tu,
         CAST(FLOOR(
           CAST(SUM(_vu - _tu) OVER ws AS DOUBLE)
           / COUNT(*) OVER ws + 0.5
         ) AS BIGINT) AS _su
  FROM t
  WINDOW ws AS (PARTITION BY sid, _hod)
)
SELECT sid, seq, ts, value,
       _tu / 1e6 AS trend,
       _su / 1e6 AS seasonal,
       (_vu - _tu - _su) / 1e6 AS resid
FROM se ORDER BY sid, ts, seq
""",
    "winsorize_series": """
WITH s AS (
  SELECT CAST(user_id AS VARCHAR) AS sid, event_id AS seq, ts, value
  FROM events WHERE value IS NOT NULL AND NOT isnan(value)
), st AS (
  SELECT sid, quantile_cont(value, 0.05) AS p_lo,
         quantile_cont(value, 0.95) AS p_hi
  FROM s GROUP BY sid)
SELECT s.sid, s.seq, s.ts, s.value,
       ROUND(LEAST(GREATEST(s.value, st.p_lo), st.p_hi), 6) AS winsorized,
       (s.value < st.p_lo OR s.value > st.p_hi) AS was_clipped
FROM s JOIN st USING (sid)
ORDER BY sid, ts, seq
""",
    "holdout_split": """
WITH b AS (
  SELECT doc_id, source,
         ((doc_id * 1103515245 + 12345) % 2147483648) % 100 AS bucket
  FROM documents)
SELECT doc_id, source, CAST(bucket AS BIGINT) AS bucket,
       CASE WHEN bucket < 5 THEN 'test'
            WHEN bucket < 10 THEN 'val'
            ELSE 'train' END AS split
FROM b ORDER BY doc_id
""",
    "normalize_text": """
WITH c AS (
  SELECT doc_id, text,
         TRIM(regexp_replace(
           regexp_replace(LOWER(text), '[^a-z0-9 ]', ' ', 'g'),
           ' +', ' ', 'g')) AS canon
  FROM documents)
SELECT doc_id, md5(canon) AS canon_hash,
       CAST(length(text) AS BIGINT) AS n_chars,
       CAST(length(canon) AS BIGINT) AS n_chars_canon,
       canon <> text AS changed
FROM c ORDER BY doc_id
""",
    "latest_event_per_user": """
WITH ranked AS (
  SELECT user_id, ts, event_id, event_type, value,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rk,
         COUNT(*) OVER (PARTITION BY user_id) AS n_events
  FROM events)
SELECT user_id, ts AS last_ts, event_id AS last_seq,
       event_type AS last_type, value AS last_value, n_events
FROM ranked WHERE rk = 1 ORDER BY user_id
""",
    "bpe_pair_counts": """
WITH toks AS (
  SELECT unnest(string_split(text, ' ')) AS t FROM documents
), pairs AS (
  SELECT unnest(list_transform(range(1, length(t)),
                i -> substring(t, CAST(i AS INTEGER), 2))) AS pair
  FROM toks WHERE length(t) >= 2
)
SELECT pair, COUNT(*) AS n FROM pairs
GROUP BY pair ORDER BY n DESC, pair LIMIT 50
""",
    "gopher_quality": """
WITH w AS (
  SELECT doc_id,
         string_split(text, ' ') AS words,
         string_split(text, chr(10)) AS lines
  FROM documents
), m AS (
  SELECT doc_id,
    len(words) AS n_words,
    round(list_sum(list_transform(words, x -> length(x))) * 1.0
          / len(words), 6) AS mean_word_len,
    round((len(list_filter(words, x -> contains(x, '#')))
           + len(list_filter(words, x -> contains(x, '...')))) * 1.0
          / len(words), 6) AS symbol_ratio,
    round(len(list_filter(lines, l -> regexp_matches(l, '^\\s*[-*•]')))
          * 1.0 / len(lines), 6) AS bullet_line_frac,
    round(len(list_filter(lines, l -> l LIKE '%...')) * 1.0
          / len(lines), 6) AS ellipsis_line_frac,
    round(len(list_filter(words, x -> regexp_matches(x, '[a-zA-Z]')))
          * 1.0 / len(words), 6) AS alpha_word_frac,
    len(list_intersect(list_distinct(words),
        ['the', 'a', 'of', 'and', 'to', 'in'])) AS stopword_hits
  FROM w
)
SELECT *,
  (n_words BETWEEN 5 AND 100000
   AND mean_word_len BETWEEN 3.0 AND 10.0
   AND symbol_ratio <= 0.1
   AND bullet_line_frac <= 0.9
   AND ellipsis_line_frac <= 0.3
   AND alpha_word_frac >= 0.8
   AND stopword_hits >= 2) AS keep
FROM m ORDER BY doc_id
""",
    "url_canonicalize": """
WITH raw AS (
  SELECT 'HTTPS://Site' || (doc_id % 13) || '.Example.COM:443/p/'
         || (doc_id % 29)
         || CASE WHEN doc_id % 2 = 0 THEN '?utm_source=x&b=2&a=1'
                 ELSE '?b=2&a=1' END AS url
  FROM documents
), parts AS (
  SELECT
    lower(regexp_extract(url, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1)) AS scheme,
    lower(regexp_extract(url, '^[^:]+://([^/?:]+)', 1)) AS host,
    regexp_extract(url, '^[^:]+://[^/?:]+:(\\d+)', 1) AS port,
    regexp_extract(url, '^[^:]+://[^/?]+(/[^?]*)?', 1) AS path,
    regexp_extract(url, '\\?(.*)$', 1) AS query
  FROM raw
), canon AS (
  SELECT scheme || '://' || host
    || CASE WHEN port = '' OR (scheme = 'http' AND port = '80')
              OR (scheme = 'https' AND port = '443') THEN ''
            ELSE ':' || port END
    || path
    || CASE WHEN len(kept) > 0 THEN '?' || list_aggregate(kept, 'string_agg', '&')
            ELSE '' END AS canonical
  FROM (
    SELECT *,
      list_sort(list_filter(string_split(query, '&'),
        p -> p <> '' AND NOT regexp_matches(p,
          '^(utm_[a-z]+|fbclid|gclid|msclkid|ref|mc_cid|mc_eid)='))) AS kept
    FROM parts
  )
)
SELECT canonical, COUNT(*) AS n_raw FROM canon
GROUP BY canonical ORDER BY canonical
""",
    "paragraph_dedup": """
WITH paras AS (
  SELECT doc_id, u.pos, u.para FROM (
    SELECT doc_id,
      unnest(list_transform(string_split(text, '. '),
        (p, i) -> struct_pack(pos := i - 1, para := p))) AS u
    FROM documents
  )
), flagged AS (
  SELECT doc_id, pos, para,
    (length(para) < 16 OR
     row_number() OVER (PARTITION BY md5(para) ORDER BY doc_id, pos) = 1
    ) AS keep
  FROM paras
)
SELECT doc_id,
  coalesce(string_agg(para, '. ' ORDER BY pos) FILTER (WHERE keep), '')
    AS text,
  COUNT(*) AS n_paragraphs,
  CAST(SUM(CASE WHEN NOT keep THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
FROM flagged GROUP BY doc_id ORDER BY doc_id
""",
    "mixture_plan": """
WITH per AS (
  SELECT source, COUNT(*) AS n_docs,
         CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
), k AS (
  SELECT *, CAST(substring(source, 4) AS BIGINT) % 4 + 1 AS kk FROM per
), tot AS (SELECT SUM(kk) AS sk FROM k)
SELECT source, n_docs, n_tokens,
  round(kk * 1.0 / sk, 6) AS weight,
  CAST(round(kk * 1.0 / sk * 1000000) AS BIGINT) AS target_tokens,
  round(round(kk * 1.0 / sk * 1000000) / n_tokens, 6) AS sampling_rate,
  CAST(ceil(round(kk * 1.0 / sk * 1000000) / n_tokens) AS BIGINT) AS epochs
FROM k, tot ORDER BY source
""",
    # ewma/holt: the recursion is linear, so DuckDB's recursive CTE can
    # replay it exactly — one iteration per within-series row index
    # (depth = longest series, <100 at every committed SF). The
    # arithmetic mirrors the engine's evaluation order term-for-term
    # (pandas' ewm C kernel computes ((1-a)*prev + a*x) / ((1-a)+a);
    # the Holt kernel computes the level before the trend), which makes
    # the float64 results bit-identical, not merely close — verified at
    # sf0.001/0.01/0.1.
    "ewma_smooth": """
WITH RECURSIVE s AS (
  SELECT CAST(user_id AS VARCHAR) AS sid, ts, CAST(value AS DOUBLE) AS value,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
), rec AS (
  SELECT sid, rn, ts, value, value AS state FROM s WHERE rn = 1
  UNION ALL
  SELECT s.sid, s.rn, s.ts, s.value,
         CASE WHEN s.value IS NULL THEN rec.state
              WHEN rec.state IS NULL THEN s.value
              ELSE ((1.0 - 0.2) * rec.state + 0.2 * s.value)
                   / ((1.0 - 0.2) + 0.2) END AS state
  FROM rec JOIN s ON s.sid = rec.sid AND s.rn = rec.rn + 1
)
SELECT sid, ts, value, round(state, 6) AS ewma FROM rec ORDER BY sid, rn
""",
    "holt_smooth": """
WITH RECURSIVE s AS (
  SELECT CAST(user_id AS VARCHAR) AS sid, ts, CAST(value AS DOUBLE) AS value,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
), rec AS (
  SELECT sid, rn, ts, value, value AS l, CAST(0.0 AS DOUBLE) AS b
  FROM s WHERE rn = 1
  UNION ALL
  SELECT s.sid, s.rn, s.ts, s.value,
         CASE WHEN s.value IS NULL THEN rec.l
              WHEN rec.l IS NULL THEN s.value
              ELSE 0.2 * s.value + (1.0 - 0.2) * (rec.l + rec.b) END AS l,
         CASE WHEN s.value IS NULL THEN rec.b
              WHEN rec.l IS NULL THEN 0.0
              ELSE 0.1 * ((0.2 * s.value + (1.0 - 0.2) * (rec.l + rec.b))
                          - rec.l) + (1.0 - 0.1) * rec.b END AS b
  FROM rec JOIN s ON s.sid = rec.sid AND s.rn = rec.rn + 1
)
SELECT sid, ts, value, round(l, 6) AS level, round(b, 6) AS trend
FROM rec ORDER BY sid, rn
""",
    "temperature_mixture": """
WITH per AS (
  SELECT source, COUNT(*) AS n_docs,
         CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
), tot AS (SELECT SUM(n_tokens) AS t FROM per),
sh AS (
  SELECT *, n_tokens * 1.0 / t AS share,
         pow(n_tokens * 1.0 / t, 0.3) AS w_raw
  FROM per, tot
), z AS (SELECT SUM(w_raw) AS z FROM sh)
SELECT source, n_docs, n_tokens,
  round(share, 6) AS share,
  round(w_raw / z, 6) AS weight,
  CAST(round(w_raw / z * 1000000.0) AS BIGINT) AS target_tokens,
  round(round(w_raw / z * 1000000.0) / n_tokens, 6) AS sampling_rate,
  CAST(ceil(round(w_raw / z * 1000000.0) / n_tokens) AS BIGINT) AS epochs
FROM sh, z ORDER BY source
""",
    "shuffle_shards": """
WITH keyed AS (
  SELECT doc_id, source, md5(CAST(doc_id AS VARCHAR)) AS shuffle_key
  FROM documents
), sharded AS (
  SELECT *,
    CAST((strpos('0123456789abcdef', substring(shuffle_key, 1, 1)) - 1) * 16
       + (strpos('0123456789abcdef', substring(shuffle_key, 2, 1)) - 1)
       AS INTEGER) % 16 AS shard
  FROM keyed
)
SELECT doc_id, source, shuffle_key, shard,
  CAST(row_number() OVER (PARTITION BY shard ORDER BY shuffle_key, doc_id)
       - 1 AS BIGINT) AS "offset"
FROM sharded ORDER BY shard, "offset"
""",
    "zipf_fit": """
WITH toks AS (
  SELECT source, unnest(string_split(text, ' ')) AS term FROM documents
), counts AS (
  SELECT source, term, COUNT(*) AS tf FROM toks GROUP BY source, term
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY source
                               ORDER BY tf DESC, term) AS rank
  FROM counts
), xy AS (
  SELECT source, ln(rank) AS x, ln(tf) AS y FROM ranked WHERE rank <= 200
), agg AS (
  SELECT source, COUNT(*) AS n_terms, SUM(x) AS sx, SUM(y) AS sy,
         SUM(x * y) AS sxy, SUM(x * x) AS sxx
  FROM xy GROUP BY source
)
SELECT source, n_terms,
  round((n_terms * sxy - sx * sy) / (n_terms * sxx - sx * sx), 5)
    AS zipf_slope,
  round((sy - (n_terms * sxy - sx * sy) / (n_terms * sxx - sx * sx) * sx)
        / n_terms, 5) AS zipf_intercept
FROM agg ORDER BY source
""",
    # lttb_downsample: the bucket selection is sequential (each pick
    # depends on the previous), but there are only n_out-2 = 18 steps
    # per series, so a recursive CTE replays it exactly: per-sid
    # ordered (x, y) lists aggregate once, then each iteration slices
    # the candidate bucket, mirrors the kernel's arithmetic (sequential
    # bucket-centroid mean == numpy's sequential path at these bucket
    # sizes, first-occurrence argmax == list_position), and carries the
    # chosen index. Exact at sf0.001/0.01/0.1 (verified bit-for-bit).
    "lttb_downsample": """
WITH RECURSIVE pts AS (
  -- value IS NOT NULL mirrors the kernel's up-front NaN exclusion
  -- (lttb_numpy drops NaN before bucketing); without it, parity held
  -- only because committed corpora have zero NULL event values
  SELECT CAST(user_id AS VARCHAR) AS sid, ts, CAST(value AS DOUBLE) AS value,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1
           AS rn
  FROM events WHERE value IS NOT NULL
), agg AS (
  SELECT sid, COUNT(*) AS n,
         list(CAST(epoch_us(ts) AS DOUBLE) ORDER BY rn) AS xs,
         list(value ORDER BY rn) AS ys
  FROM pts GROUP BY sid
), rec AS (
  SELECT sid, n, xs, ys, CAST(-1 AS BIGINT) AS b, CAST(0 AS BIGINT) AS prev
  FROM agg WHERE n > 20
  UNION ALL
  SELECT sid, n, xs, ys, b,
         s + list_position(areas, list_aggregate(areas, 'max')) - 1 AS prev
  FROM (
    SELECT sid, n, xs, ys, b, s,
      list_transform(range(s, e), i ->
        abs((ax - cx) * (ys[CAST(i AS INTEGER) + 1] - ay)
            - (ax - xs[CAST(i AS INTEGER) + 1]) * (cy - ay))) AS areas
    FROM (
      SELECT sid, n, xs, ys, b, s, e,
        xs[CAST(prev AS INTEGER) + 1] AS ax,
        ys[CAST(prev AS INTEGER) + 1] AS ay,
        list_aggregate(
          xs[CAST(nxts AS INTEGER) + 1 : CAST(nxte AS INTEGER)], 'sum')
          / (nxte - nxts) AS cx,
        list_aggregate(
          ys[CAST(nxts AS INTEGER) + 1 : CAST(nxte AS INTEGER)], 'sum')
          / (nxte - nxts) AS cy
      FROM (
        SELECT sid, n, xs, ys, prev, b + 1 AS b,
          (CASE WHEN b + 1 = 18 THEN n - 1
                ELSE CAST(trunc((b + 1) * ((n - 2.0) / 18.0) + 1.0)
                     AS BIGINT) END) AS s,
          (CASE WHEN b + 2 = 18 THEN n - 1
                ELSE CAST(trunc((b + 2) * ((n - 2.0) / 18.0) + 1.0)
                     AS BIGINT) END) AS e,
          (CASE WHEN b + 2 = 18 THEN n - 1
                ELSE CAST(trunc((b + 2) * ((n - 2.0) / 18.0) + 1.0)
                     AS BIGINT) END) AS nxts,
          CASE WHEN b + 1 = 17 THEN n
               ELSE (CASE WHEN b + 3 = 18 THEN n - 1
                          ELSE CAST(trunc((b + 3) * ((n - 2.0) / 18.0)
                               + 1.0) AS BIGINT) END) END AS nxte
        FROM rec WHERE b + 1 <= 17
      )
    )
  )
), sel AS (
  SELECT sid, prev AS rn FROM rec
  UNION ALL
  SELECT sid, n - 1 AS rn FROM agg WHERE n > 20
  UNION ALL
  SELECT p.sid, p.rn FROM pts p JOIN agg a ON p.sid = a.sid AND a.n <= 20
)
SELECT p.sid, p.ts, p.value
FROM pts p JOIN sel s ON p.sid = s.sid AND p.rn = s.rn
ORDER BY p.sid, p.ts
""",
    # frame_sample / media_resize: payloads are UTF-8 text bytes and
    # the corpus is ASCII (octet_length == length for every doc at all
    # committed SFs), so VARCHAR substring == byte slicing; hex() is
    # uppercase in both engines. DuckDB v1.0.0 has no BLOB substring,
    # hence the string-side formulation.
    "frame_sample": """
WITH m AS (
  SELECT doc_id, text, length(text) AS n FROM documents WHERE length(text) > 0
), f AS (
  SELECT doc_id, text, n, greatest(n // 4, 1) AS step,
         unnest(range(least(4, n))) AS k
  FROM m
)
SELECT doc_id, k AS frame_idx,
       hex(encode(substring(text, CAST(k * step + 1 AS INTEGER), 16)))
         AS frame_hex
FROM f ORDER BY doc_id, frame_idx
""",
    "media_resize": """
SELECT doc_id, CAST(32 AS BIGINT) AS width, CAST(32 AS BIGINT) AS height,
  hex(encode(array_to_string(list_transform(range(0, 1024),
    k -> substring(text, CAST((k * length(text)) // 1024 + 1 AS INTEGER), 1)),
    ''))) AS thumb_hex
FROM documents ORDER BY doc_id
""",
    # ---- round-8 upgrades: the dedup fingerprint family moved from
    # xxhash64 (absent in DuckDB) to md5-derived hex-parsed base hashes
    # (h1 = 60-bit hex[1..15], h2 = 32-bit hex[17..24]; verified
    # '0x'||substr(...)::BIGINT == Spark conv(substr(md5,...),16,10)),
    # which makes signatures, band buckets, SimHash votes, pair
    # estimates, and cluster labels replayable as ANSI SQL end to end.
    # The hot-bucket cap is not modeled: committed corpora produce no
    # over-cap buckets (guard returns the frame untouched), which
    # tests/test_hot_bucket.py pins.
    "simhash_fingerprints": """
WITH t AS (
  SELECT doc_id,
         list_transform(string_split(text, ' '),
           x -> ('0x' || substr(md5(x), 1, 15))::BIGINT) AS hs
  FROM documents
), bts AS (
  SELECT doc_id, unnest(hs) AS h FROM t
), v AS (
  SELECT doc_id, bit,
         SUM(CASE WHEN (h >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS vote
  FROM bts CROSS JOIN (SELECT unnest(range(60)) AS bit) bits
  GROUP BY doc_id, bit
), fp AS (
  SELECT doc_id,
         CAST(COALESCE(SUM(CASE WHEN vote > 0
                           THEN (CAST(1 AS BIGINT) << bit) END), 0) AS BIGINT)
           AS simhash
  FROM v GROUP BY doc_id
)
SELECT doc_id, simhash FROM fp ORDER BY doc_id
""",
    "simhash_near_dup": """
WITH grp AS (
  SELECT doc_id, text,
         MIN(doc_id) OVER (PARTITION BY md5(text)) AS rep_id
  FROM documents
), member_rep AS (
  SELECT doc_id, rep_id FROM grp
), reps AS (
  SELECT doc_id, text FROM grp WHERE doc_id = rep_id
), t AS (
  SELECT doc_id,
         list_transform(string_split(text, ' '),
           x -> ('0x' || substr(md5(x), 1, 15))::BIGINT) AS hs
  FROM reps
), bts AS (
  SELECT doc_id, unnest(hs) AS h FROM t
), v AS (
  SELECT doc_id, bit,
         SUM(CASE WHEN (h >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS vote
  FROM bts CROSS JOIN (SELECT unnest(range(60)) AS bit) bits
  GROUP BY doc_id, bit
), fp AS (
  SELECT doc_id,
         CAST(COALESCE(SUM(CASE WHEN vote > 0
                           THEN (CAST(1 AS BIGINT) << bit) END), 0) AS BIGINT)
           AS simhash
  FROM v GROUP BY doc_id
), banded AS (
  SELECT doc_id, simhash, band,
         (simhash >> (band * 16)) & 65535 AS bucket
  FROM fp CROSS JOIN (SELECT unnest(range(4)) AS band) bands
), rp AS (
  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b,
         CAST(bit_count(xor(l.simhash, r.simhash)) AS BIGINT) AS hamming
  FROM banded l JOIN banded r
    ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id
  WHERE bit_count(xor(l.simhash, r.simhash)) <= 3
), expanded AS (
  SELECT least(a.doc_id, b.doc_id) AS doc_a,
         greatest(a.doc_id, b.doc_id) AS doc_b, rp.hamming
  FROM rp
  JOIN member_rep a ON a.rep_id = rp.doc_a
  JOIN member_rep b ON b.rep_id = rp.doc_b
  UNION ALL
  SELECT m1.doc_id, m2.doc_id, CAST(0 AS BIGINT)
  FROM member_rep m1 JOIN member_rep m2
    ON m1.rep_id = m2.rep_id AND m1.doc_id < m2.doc_id
)
SELECT doc_a, doc_b, hamming FROM expanded ORDER BY doc_a, doc_b
""",
    "minhash_near_dup": f"""
WITH grp AS (
  SELECT doc_id, text,
         MIN(doc_id) OVER (PARTITION BY md5(text)) AS rep_id
  FROM documents
), member_rep AS (
  SELECT doc_id, rep_id FROM grp
), reps AS (
  SELECT doc_id, text FROM grp WHERE doc_id = rep_id
), tok AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM reps
), sh AS (
  SELECT doc_id,
         unnest(list_transform(range(1, greatest(len(toks) - 2, 1) + 1),
           i -> array_to_string(list_slice(toks, i, i + 2), ' '))) AS s
  FROM tok
), h AS (
  SELECT doc_id,
         ('0x' || substr(md5(s), 1, 15))::BIGINT AS h1,
         ('0x' || substr(md5(s), 17, 8))::BIGINT AS h2
  FROM sh
), sig AS (
  SELECT doc_id,
         [{_SIG_MINS}] AS sig
  FROM h GROUP BY doc_id
), banded AS (
  SELECT doc_id, sig, band,
         ('0x' || substr(md5(array_to_string(list_transform(
            list_slice(sig, band * 4 + 1, band * 4 + 4),
            x -> CAST(x AS VARCHAR)), ',')), 1, 15))::BIGINT AS bucket
  FROM sig CROSS JOIN (SELECT unnest(range(8)) AS band) bands
), rp AS (
  SELECT doc_a, doc_b, MAX(est) AS est_jaccard FROM (
    SELECT l.doc_id AS doc_a, r.doc_id AS doc_b,
           len(list_filter(range(1, 33), i -> l.sig[i] = r.sig[i])) / 32.0 AS est
    FROM banded l JOIN banded r
      ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id
  ) GROUP BY doc_a, doc_b HAVING MAX(est) >= 0.5
), expanded AS (
  SELECT least(a.doc_id, b.doc_id) AS doc_a,
         greatest(a.doc_id, b.doc_id) AS doc_b, rp.est_jaccard
  FROM rp
  JOIN member_rep a ON a.rep_id = rp.doc_a
  JOIN member_rep b ON b.rep_id = rp.doc_b
  UNION ALL
  SELECT m1.doc_id, m2.doc_id, 1.0
  FROM member_rep m1 JOIN member_rep m2
    ON m1.rep_id = m2.rep_id AND m1.doc_id < m2.doc_id
)
SELECT doc_a, doc_b, est_jaccard FROM expanded ORDER BY doc_a, doc_b
""",
    # min-label propagation == connected components == min reachable
    # label; the recursive CTE enumerates (node, reachable label) pairs
    # (UNION dedup bounds the recursion; near-dup components are tiny)
    # and the outer GROUP BY takes the min — the same fixpoint the
    # iterative Spark propagation converges to.
    "dedup_clusters": f"""
WITH RECURSIVE grp AS (
  SELECT doc_id, text,
         MIN(doc_id) OVER (PARTITION BY md5(text)) AS rep_id
  FROM documents
), member_rep AS (
  SELECT doc_id, rep_id FROM grp
), reps AS (
  SELECT doc_id, text FROM grp WHERE doc_id = rep_id
), tok AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM reps
), sh AS (
  SELECT doc_id,
         unnest(list_transform(range(1, greatest(len(toks) - 2, 1) + 1),
           i -> array_to_string(list_slice(toks, i, i + 2), ' '))) AS s
  FROM tok
), h AS (
  SELECT doc_id,
         ('0x' || substr(md5(s), 1, 15))::BIGINT AS h1,
         ('0x' || substr(md5(s), 17, 8))::BIGINT AS h2
  FROM sh
), sig AS (
  SELECT doc_id,
         [{_SIG_MINS}] AS sig
  FROM h GROUP BY doc_id
), banded AS (
  SELECT doc_id, sig, band,
         ('0x' || substr(md5(array_to_string(list_transform(
            list_slice(sig, band * 4 + 1, band * 4 + 4),
            x -> CAST(x AS VARCHAR)), ',')), 1, 15))::BIGINT AS bucket
  FROM sig CROSS JOIN (SELECT unnest(range(8)) AS band) bands
), rp AS (
  SELECT doc_a, doc_b, MAX(est) AS est_jaccard FROM (
    SELECT l.doc_id AS doc_a, r.doc_id AS doc_b,
           len(list_filter(range(1, 33), i -> l.sig[i] = r.sig[i])) / 32.0 AS est
    FROM banded l JOIN banded r
      ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id
  ) GROUP BY doc_a, doc_b HAVING MAX(est) >= 0.5
), edges AS (
  SELECT doc_a AS s, doc_b AS d FROM rp
  UNION ALL
  SELECT doc_b, doc_a FROM rp
), nodes AS (
  SELECT DISTINCT s AS doc_id FROM edges
), reach AS (
  SELECT doc_id, doc_id AS lbl FROM nodes
  UNION
  SELECT e.s AS doc_id, r.lbl FROM edges e JOIN reach r ON e.d = r.doc_id
), lab AS (
  SELECT doc_id, MIN(lbl) AS cluster FROM reach GROUP BY doc_id
)
SELECT m.doc_id, COALESCE(l.cluster, m.rep_id) AS cluster
FROM member_rep m LEFT JOIN lab l ON l.doc_id = m.rep_id
ORDER BY m.doc_id
""",
    # storm_find (round-8 upgrade from rows-only): the reference's
    # flagship stateful detector (metevents/events.py:54-121) replayed
    # as SQL — bursts via gaps-and-islands, the sequential
    # merge-and-close fold as a per-sid recursive CTE over bursts
    # (state = candidate start position), frequency inference incl.
    # the resolution-unit quirk (operators/storms.py:_reference_tstep_us)
    # as a CASE chain, the one-timestep start extension via a
    # searchsorted MIN(rn) join. Constants mirror q_storm_find:
    # instant_mass 100, min_total 500, dry 24h = 86400000000 us,
    # max 336h = 1209600000000 us.
    "storm_find": """
WITH RECURSIVE pts AS (
  SELECT CAST(user_id AS VARCHAR) AS sid, ts,
         epoch_us(ts) AS tus, CAST(value AS DOUBLE) AS value,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
), c AS (
  SELECT sid, rn, ts, tus, value,
         SUM(COALESCE(value, 0)) OVER (
           PARTITION BY sid ORDER BY rn
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS csum,
         COUNT(*) OVER (PARTITION BY sid) AS n,
         MIN(tus) OVER (PARTITION BY sid) AS first_tus
  FROM pts
), cp AS (
  SELECT *, csum - COALESCE(value, 0) AS cprev FROM c
), dl AS (
  SELECT sid, rn, n, tus - lag(tus) OVER (PARTITION BY sid ORDER BY rn) AS d
  FROM c
), tstat AS (
  SELECT sid,
         COUNT(DISTINCT d) FILTER (WHERE rn BETWEEN 2 AND n - 1) AS nu,
         MIN(d) FILTER (WHERE rn BETWEEN 2 AND n - 1) AS ud,
         CAST(floor(median(d) FILTER (WHERE d > 0)) AS BIGINT) AS med,
         MAX(n) AS n
  FROM dl GROUP BY sid
), tstep AS (
  SELECT sid,
    CASE WHEN n >= 3 AND nu = 1 THEN
      CASE WHEN ud % 86400000000 = 0 THEN 86400000000
           WHEN ud % 3600000000 = 0 THEN 3600000000
           WHEN ud % 60000000 = 0 THEN 60000000
           WHEN ud % 1000000 = 0 THEN 1000000
           WHEN ud % 1000 = 0 THEN 1000
           ELSE 1 END
    ELSE COALESCE(med, 0) END AS tstep_us
  FROM tstat
), flags AS (
  SELECT *, CASE WHEN value >= 100.0 THEN 1 ELSE 0 END AS ind FROM cp
), runid AS (
  SELECT *, SUM(1 - ind) OVER (
    PARTITION BY sid ORDER BY rn
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS gid
  FROM flags
), runs0 AS (
  SELECT sid, gid, MIN(rn) AS rs, MAX(rn) AS re
  FROM runid WHERE ind = 1 GROUP BY sid, gid
), runx AS (
  SELECT r.sid,
         row_number() OVER (PARTITION BY r.sid ORDER BY r.rs) - 1 AS i,
         COUNT(*) OVER (PARTITION BY r.sid) AS n_runs,
         r.rs, r.re,
         cs.tus AS run_start_tus,
         ce.tus AS stop_tus,
         ce.csum AS csum_re,
         lead(cs.tus) OVER (PARTITION BY r.sid ORDER BY r.rs) AS next_start_tus,
         lead(r.rs) OVER (PARTITION BY r.sid ORDER BY r.rs) AS next_rs
  FROM runs0 r
  JOIN c cs ON cs.sid = r.sid AND cs.rn = r.rs
  JOIN c ce ON ce.sid = r.sid AND ce.rn = r.re
), st AS (
  SELECT sid, 0 AS i, rs AS start_pos FROM runx WHERE i = 0
  UNION ALL
  SELECT s.sid, s.i + 1,
         CASE WHEN
           (((COALESCE(r.next_start_tus, r.stop_tus) - r.stop_tus) > 86400000000
             OR (r.stop_tus - sp.tus) > 1209600000000)
            AND (r.csum_re - sp.cprev) >= 500.0)
           OR s.i + 1 = r.n_runs
         THEN r.next_rs ELSE s.start_pos END
  FROM st s
  JOIN runx r ON r.sid = s.sid AND r.i = s.i
  JOIN cp sp ON sp.sid = s.sid AND sp.rn = s.start_pos
  WHERE s.i + 1 < r.n_runs
), closed AS (
  SELECT s.sid, s.i, r.re, r.stop_tus,
         CASE WHEN sp.tus <> sp.first_tus THEN sp.tus - t.tstep_us
              ELSE sp.tus END AS adj_tus
  FROM st s
  JOIN runx r ON r.sid = s.sid AND r.i = s.i
  JOIN cp sp ON sp.sid = s.sid AND sp.rn = s.start_pos
  JOIN tstep t ON t.sid = s.sid
  WHERE (((COALESCE(r.next_start_tus, r.stop_tus) - r.stop_tus) > 86400000000
          OR (r.stop_tus - sp.tus) > 1209600000000)
         AND (r.csum_re - sp.cprev) >= 500.0)
        OR s.i + 1 = r.n_runs
), evp AS (
  SELECT e.sid, e.i, e.re, e.stop_tus, MIN(p.rn) AS p1
  FROM closed e JOIN c p ON p.sid = e.sid AND p.tus >= e.adj_tus
  GROUP BY e.sid, e.i, e.re, e.stop_tus
)
SELECT e.sid,
       p.ts AS "start",
       q.ts AS "stop",
       e.stop_tus - p.tus AS duration_us,
       CAST(e.re - e.p1 + 1 AS BIGINT) AS n_points,
       ROUND(q.csum - p.cprev, 3) AS total
FROM evp e
JOIN cp p ON p.sid = e.sid AND p.rn = e.p1
JOIN cp q ON q.sid = e.sid AND q.rn = e.re
ORDER BY e.sid, "start"
""",
    # incremental_dedup: cross-corpus dedup of an incoming batch
    # (doc_id % 5 = 0) against the reference corpus — exact tier via
    # content-hash groups, near tier via the same md5-derived MinHash
    # family as minhash_near_dup but joined batch-side x ref-side
    # instead of self-joined; best match = highest signature agreement,
    # ties to smallest reference doc_id. Sentinels (-1 / 0.0) instead
    # of NULLs keep the long/double dtypes identical across engines.
    # The group joins are null-safe: NULL texts are one exact group.
    "incremental_dedup": f"""
WITH g AS (
  SELECT doc_id, text, md5(text) AS gid, (doc_id % 5 = 0) AS is_batch
  FROM documents
), grp AS (
  SELECT gid,
         MIN(CASE WHEN NOT is_batch THEN doc_id END) AS ref_match,
         MIN(CASE WHEN is_batch THEN doc_id END) AS batch_rep
  FROM g GROUP BY gid
), exact AS (
  SELECT g.doc_id, 'exact' AS status, grp.ref_match AS match_id, 1.0 AS est
  FROM g JOIN grp ON grp.gid IS NOT DISTINCT FROM g.gid
  WHERE g.is_batch AND grp.ref_match IS NOT NULL
), reps AS (
  SELECT grp.batch_rep AS doc_id, dg.text, 'b' AS side
  FROM grp JOIN g dg ON dg.doc_id = grp.batch_rep
  WHERE grp.ref_match IS NULL AND grp.batch_rep IS NOT NULL
  UNION ALL
  SELECT grp.ref_match AS doc_id, dg.text, 'r' AS side
  FROM grp JOIN g dg ON dg.doc_id = grp.ref_match
  WHERE grp.ref_match IS NOT NULL
), tok AS (
  SELECT doc_id, side, string_split(text, ' ') AS toks FROM reps
), sh AS (
  SELECT doc_id, side,
         unnest(list_transform(range(1, greatest(len(toks) - 2, 1) + 1),
           i -> array_to_string(list_slice(toks, i, i + 2), ' '))) AS s
  FROM tok
), h AS (
  SELECT doc_id, side,
         ('0x' || substr(md5(s), 1, 15))::BIGINT AS h1,
         ('0x' || substr(md5(s), 17, 8))::BIGINT AS h2
  FROM sh
), sig AS (
  SELECT doc_id, side,
         [{_SIG_MINS}] AS sig
  FROM h GROUP BY doc_id, side
), banded AS (
  SELECT doc_id, side, sig, band,
         ('0x' || substr(md5(array_to_string(list_transform(
            list_slice(sig, band * 4 + 1, band * 4 + 4),
            x -> CAST(x AS VARCHAR)), ',')), 1, 15))::BIGINT AS bucket
  FROM sig CROSS JOIN (SELECT unnest(range(8)) AS band) bands
), cand AS (
  SELECT b_rep, m_id, MAX(est) AS est FROM (
    SELECT l.doc_id AS b_rep, r.doc_id AS m_id,
           len(list_filter(range(1, 33), i -> l.sig[i] = r.sig[i])) / 32.0
             AS est
    FROM banded l JOIN banded r
      ON l.side = 'b' AND r.side = 'r'
     AND l.band = r.band AND l.bucket = r.bucket
  ) GROUP BY b_rep, m_id HAVING MAX(est) >= 0.5
), best AS (
  SELECT b_rep, m_id, est,
         row_number() OVER (PARTITION BY b_rep ORDER BY est DESC, m_id) AS rn
  FROM cand
), nearx AS (
  SELECT g.doc_id, 'near' AS status, best.m_id AS match_id, best.est
  FROM g JOIN grp ON grp.gid IS NOT DISTINCT FROM g.gid
  JOIN best ON best.b_rep = grp.batch_rep AND best.rn = 1
  WHERE g.is_batch AND grp.ref_match IS NULL
), newx AS (
  SELECT g.doc_id, 'new' AS status, -1 AS match_id, 0.0 AS est
  FROM g JOIN grp ON grp.gid IS NOT DISTINCT FROM g.gid
  WHERE g.is_batch AND grp.ref_match IS NULL
    AND NOT EXISTS (SELECT 1 FROM best WHERE best.b_rep = grp.batch_rep)
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, status,
       CAST(match_id AS BIGINT) AS match_id, CAST(est AS DOUBLE) AS est
FROM (SELECT * FROM exact UNION ALL SELECT * FROM nearx
      UNION ALL SELECT * FROM newx)
ORDER BY doc_id
""",
    # importance_resample: DSIR-style domain-targeted selection —
    # md5-hashed unigram buckets, Laplace-smoothed target/candidate
    # distributions, length-normalized mean log importance ratio
    # (ROUND 5 per the unigram_logprob ln-parity convention), Gumbel
    # top-k with md5-derandomized uniforms. Mirrors
    # text/pipeline.py:importance_resample (src0 target, 1024 buckets,
    # top 20).
    "importance_resample": """
WITH toks AS (
  SELECT doc_id, source = 'src0' AS is_tgt,
         unnest(string_split(text, ' ')) AS term
  FROM documents
), bt AS (
  SELECT doc_id, is_tgt,
         ('0x' || substr(md5(term), 1, 15))::BIGINT % 1024 AS b
  FROM toks
), counts AS (
  SELECT b,
         SUM(CASE WHEN is_tgt THEN 1 ELSE 0 END) AS ct,
         SUM(CASE WHEN NOT is_tgt THEN 1 ELSE 0 END) AS cr
  FROM bt GROUP BY b
), tot AS (SELECT SUM(ct) AS tt, SUM(cr) AS tr FROM counts),
ratios AS (
  SELECT b,
         ln((ct + 1) / (tt + 1024.0)) - ln((cr + 1) / (tr + 1024.0)) AS lr
  FROM counts CROSS JOIN tot
), per_doc AS (
  SELECT doc_id, COUNT(*) AS n_tokens,
         ROUND(SUM(lr) / COUNT(*), 5) AS log_ratio
  FROM bt JOIN ratios USING (b)
  WHERE NOT is_tgt
  GROUP BY doc_id
), keyed AS (
  SELECT doc_id, n_tokens, log_ratio,
         ROUND(log_ratio - ln(-ln(LEAST(
           (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
            + 1) / 1152921504606846978.0, 1 - pow(2, -53)))), 5)
           AS sel_key
  FROM per_doc
)
SELECT CAST(row_number() OVER (ORDER BY sel_key DESC, doc_id) AS BIGINT)
         AS "rank",
       doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, log_ratio
FROM keyed
ORDER BY sel_key DESC, doc_id
LIMIT 20
""",
    # boilerplate_phrases: per-source top-10 bigrams by distinct-doc
    # frequency (df >= 2), tie-broken lexicographically. Mirrors
    # text/pipeline.py:boilerplate_phrases (n=2, k=10, min_df=2).
    "boilerplate_phrases": """
WITH toks AS (SELECT doc_id, source, string_split(text, ' ') AS t
              FROM documents),
grams AS (
  SELECT doc_id, source, array_to_string(t[i:i+1], ' ') AS gram
  FROM toks, UNNEST(range(1, len(t) - 2 + 2)) AS u(i)
),
df_tbl AS (
  SELECT source, gram, COUNT(DISTINCT doc_id) AS df
  FROM grams GROUP BY source, gram
  HAVING COUNT(DISTINCT doc_id) >= 2
),
nd AS (SELECT source, COUNT(*) AS source_docs FROM documents
       GROUP BY source),
ranked AS (
  SELECT source, gram, df,
         row_number() OVER (PARTITION BY source
                            ORDER BY df DESC, gram) AS rnk
  FROM df_tbl
)
SELECT source, CAST(rnk AS BIGINT) AS rnk, gram,
       CAST(df AS BIGINT) AS df,
       ROUND(df / source_docs, 5) AS df_frac
FROM ranked JOIN nd USING (source)
WHERE rnk <= 10
ORDER BY source, rnk
""",
    # ngram_novelty: per-shard (50 docs, doc_id order) distinct trigram
    # count, corpus-first-seen count, their ratio, and the running
    # distinct total. Mirrors text/pipeline.py:ngram_novelty (n=3).
    "ngram_novelty": """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
grams AS (
  SELECT doc_id // 50 AS shard, array_to_string(t[i:i+2], ' ') AS gram
  FROM toks, UNNEST(range(1, len(t) - 3 + 2)) AS u(i)
),
per_shard AS (
  SELECT shard, COUNT(*) AS n_grams
  FROM (SELECT DISTINCT shard, gram FROM grams) GROUP BY shard
),
novel AS (
  SELECT shard, COUNT(*) AS n_novel
  FROM (SELECT gram, MIN(shard) AS shard FROM grams GROUP BY gram)
  GROUP BY shard
)
SELECT p.shard,
       CAST(p.n_grams AS BIGINT) AS n_grams,
       CAST(COALESCE(nv.n_novel, 0) AS BIGINT) AS n_novel,
       ROUND(COALESCE(nv.n_novel, 0) / p.n_grams, 5) AS novelty_ratio,
       CAST(SUM(COALESCE(nv.n_novel, 0)) OVER (ORDER BY p.shard)
            AS BIGINT) AS cum_distinct
FROM per_shard p LEFT JOIN novel nv ON p.shard = nv.shard
ORDER BY p.shard
""",
    # contamination_fraction: graded eval-overlap share per training
    # doc over distinct 5-grams; zero-overlap docs keep a row. Mirrors
    # text/pipeline.py:contamination_fraction (n=5, eval_mod=50).
    "contamination_fraction": """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
grams AS (
  SELECT DISTINCT doc_id, array_to_string(t[i:i+4], ' ') AS gram
  FROM toks, UNNEST(range(1, len(t) - 5 + 2)) AS u(i)
),
eval_grams AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 50 = 0),
train AS (SELECT * FROM grams WHERE doc_id % 50 <> 0)
SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
       CAST(COUNT(e.gram) AS BIGINT) AS n_shared,
       ROUND(COUNT(e.gram) / COUNT(*), 5) AS contaminated_frac
FROM train t LEFT JOIN eval_grams e ON t.gram = e.gram
GROUP BY t.doc_id ORDER BY doc_id
""",
    # event_transitions: first-order Markov matrix over each user's
    # time-ordered stream (event_id tiebreak); p row-normalizes per
    # current type. Mirrors relational/product.py:transition_frame.
    "event_transitions": """
WITH nxt AS (
  SELECT event_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS next_type
  FROM events
), c AS (
  SELECT event_type, next_type, COUNT(*) AS n
  FROM nxt WHERE next_type IS NOT NULL
  GROUP BY event_type, next_type
)
SELECT event_type, next_type, CAST(n AS BIGINT) AS n,
       ROUND(n / SUM(n) OVER (PARTITION BY event_type), 5) AS p
FROM c ORDER BY event_type, next_type
""",
    # top_paths: top-20 opening 3-event paths across users ('>'
    # joined, shorter prefixes kept). Mirrors
    # relational/product.py:path_frame (depth=3, k=20).
    "top_paths": """
WITH r AS (
  SELECT user_id, event_type,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn
  FROM events
), p AS (
  SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
  FROM r WHERE rn <= 3 GROUP BY user_id
), c AS (SELECT path, COUNT(*) AS n_users FROM p GROUP BY path)
SELECT CAST(row_number() OVER (ORDER BY n_users DESC, path)
            AS BIGINT) AS rnk,
       path, CAST(n_users AS BIGINT) AS n_users
FROM c ORDER BY n_users DESC, path LIMIT 20
""",
}

# decontaminate_bloom: identical SEMANTICS to decontaminate_ngram — the
# Bloom stage is a lossless prefilter (no false negatives) and the
# confirm join removes every false positive — so the oracle is
# literally the exact-join SQL. What the Bloom variant changes is the
# physical plan, not the answer; the hash-match here is precisely the
# claim that the prefilter is invisible to results.
ORACLE_SQL["decontaminate_bloom"] = ORACLE_SQL["decontaminate_ngram"]

# TSDB pair: both are one LAG window + one grouped aggregate on the
# canonical series frame; the oracles replay the identical trapezoid /
# reset-delta algebra so only engine window/agg machinery differs.
ORACLE_SQL["time_weighted_avg"] = f"""
WITH {_SERIES},
clean AS (SELECT * FROM series WHERE value IS NOT NULL AND NOT isnan(value)),
seg AS (SELECT sid, ts, value,
        LAG(ts) OVER (PARTITION BY sid ORDER BY ts, seq) AS pts,
        LAG(value) OVER (PARTITION BY sid ORDER BY ts, seq) AS pv
        FROM clean),
s2 AS (SELECT sid, date_trunc('day', ts) AS bucket_day,
       CAST(epoch_us(ts) - epoch_us(pts) AS DOUBLE) AS dt, value, pv
       FROM seg WHERE pts IS NOT NULL)
SELECT sid, bucket_day, CAST(COUNT(*) AS BIGINT) AS n_segments,
       ROUND(SUM((pv + value) / 2 * dt) / SUM(dt), 6) AS twa,
       ROUND(AVG(value), 6) AS simple_avg
FROM s2 GROUP BY sid, bucket_day HAVING SUM(dt) > 0
ORDER BY sid, bucket_day
"""

ORACLE_SQL["counter_rate"] = f"""
WITH {_SERIES},
clean AS (SELECT * FROM series WHERE value IS NOT NULL AND NOT isnan(value)),
lagged AS (SELECT sid, ts, value,
           LAG(value) OVER (PARTITION BY sid ORDER BY ts, seq) AS pv
           FROM clean),
agg AS (SELECT sid, COUNT(*) AS n_points,
        CAST(SUM(CASE WHEN pv IS NOT NULL AND value < pv THEN 1 ELSE 0 END)
             AS BIGINT) AS resets,
        ROUND(SUM(CASE WHEN pv IS NULL THEN NULL
                       WHEN value >= pv THEN value - pv
                       ELSE value END), 6) AS increase,
        (epoch_us(MAX(ts)) - epoch_us(MIN(ts))) / 3.6e9 AS span_h
        FROM lagged GROUP BY sid)
SELECT sid, n_points, resets, increase,
       ROUND(increase / span_h, 6) AS rate_per_hour
FROM agg WHERE n_points >= 2 AND span_h > 0 ORDER BY sid
"""

# Skyline: the oracle is the TEXTBOOK O(n^2) NOT EXISTS dominance
# definition, deliberately a different algorithm from the Spark
# sort-based frontier (relational/skyline.py) — the hash match is a
# genuine differential check of the window algebra.
ORACLE_SQL["pareto_parts"] = """
SELECT a.p_partkey, a.p_name, a.p_retailprice, a.p_size
FROM part a
WHERE NOT EXISTS (
  SELECT 1 FROM part b
  WHERE b.p_retailprice <= a.p_retailprice AND b.p_size >= a.p_size
    AND (b.p_retailprice < a.p_retailprice OR b.p_size > a.p_size))
ORDER BY a.p_partkey
"""

# Covariance: the oracle expands every (i, j) pair per vector via a
# generated index cross join — O(rows x dim^2), fine at oracle scale,
# exactly what the Spark kernel's O(rows x dim) partial-sum pass
# avoids at real scale (similarity/pca.py). Engine-exact contract:
# both sides quantize to the 1e-6 integer grid, sum EXACT integers
# (DuckDB HUGEINT / Spark DECIMAL(38,0)), and round to 6 dp in PURE
# INTEGER arithmetic — half-away-from-zero on num = sp*n - si*sj over
# den = n^2*1e6 — so the only float op is the final exact-int cast
# divided once by 1e6. The previous ROUND((..)/1e12, 6) double
# rounding differed across engine versions at 6-dp half-boundaries
# (the r08/r09 driver-red); no float ROUND remains anywhere.
ORACLE_SQL["embedding_covariance"] = """
WITH q AS (SELECT list_transform(embedding,
             x -> CAST(ROUND(CAST(x AS DOUBLE)*1e6) AS BIGINT)) AS qe
           FROM embeddings),
idx AS (SELECT CAST(i AS INT) AS i FROM generate_series(1, 64) AS t(i)),
pairs AS (SELECT a.i AS i, b.i AS j FROM idx a JOIN idx b ON b.i >= a.i),
stats AS (SELECT p.i, p.j,
          SUM(CAST(qe[p.i] AS HUGEINT) * qe[p.j]) AS sp,
          SUM(CAST(qe[p.i] AS HUGEINT)) AS si,
          SUM(CAST(qe[p.j] AS HUGEINT)) AS sj,
          CAST(COUNT(*) AS HUGEINT) AS n
          FROM q, pairs p GROUP BY p.i, p.j),
mic AS (SELECT i, j, sp * n - si * sj AS num,
               n * n * 1000000 AS den FROM stats)
SELECT i - 1 AS i, j - 1 AS j,
       CAST(CASE WHEN num >= 0 THEN (2 * num + den) // (2 * den)
                 ELSE -((-2 * num + den) // (2 * den)) END AS DOUBLE)
         / 1e6 AS cov
FROM mic ORDER BY i, j
"""

# Entropy: the oracle materializes per-(doc, term) counts the textbook
# way (unnest + two GROUP BYs); the Spark kernel gets the same
# sum(c*ln(c)) from a sorted-array run fold WITHOUT any shuffle — a
# genuine differential check of the map-side algebra.
ORACLE_SQL["token_entropy"] = """
WITH toks AS (SELECT doc_id, source, unnest(string_split(text, ' ')) AS term
              FROM documents),
cnt AS (SELECT doc_id, ANY_VALUE(source) AS source, term, COUNT(*) AS c
        FROM toks GROUP BY doc_id, term),
agg AS (SELECT doc_id, ANY_VALUE(source) AS source,
        CAST(SUM(c) AS BIGINT) AS n_tokens,
        CAST(COUNT(*) AS BIGINT) AS n_distinct,
        SUM(c * ln(c)) AS s
        FROM cnt GROUP BY doc_id)
SELECT doc_id, source, n_tokens, n_distinct,
       ROUND(ln(n_tokens) - s / n_tokens, 6) AS entropy_nats,
       CASE WHEN n_distinct > 1
            THEN ROUND((ln(n_tokens) - s / n_tokens) / ln(n_distinct), 6)
       END AS evenness
FROM agg ORDER BY doc_id
"""

ORACLE_SQL["source_token_kl"] = """
WITH toks AS (SELECT source, unnest(string_split(text, ' ')) AS term
              FROM documents),
st AS (SELECT source, term, COUNT(*) AS c_st FROM toks GROUP BY source, term),
ct AS (SELECT term, SUM(c_st) AS c_t FROM st GROUP BY term),
ns AS (SELECT source, SUM(c_st) AS n_s FROM st GROUP BY source),
nt AS (SELECT SUM(c_st) AS n_t FROM st)
SELECT st.source,
       CAST(MAX(n_s) AS BIGINT) AS n_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_terms,
       ROUND(SUM((c_st / n_s) * ln((c_st / n_s) / (c_t / n_t))), 6)
         AS kl_nats
FROM st JOIN ct USING (term) JOIN ns USING (source), nt
GROUP BY st.source ORDER BY st.source
"""

# Q20's correlated ratio predicate: the oracle states it as the
# textbook correlated scalar subquery; the Spark plan is the two-level
# aggregate + rejoin that actually scales.
ORACLE_SQL["dominant_part_suppliers"] = """
WITH l95 AS (SELECT l_partkey, l_suppkey, l_quantity FROM lineitem
             WHERE l_shipdate >= TIMESTAMP '1995-01-01'
               AND l_shipdate < TIMESTAMP '1996-01-01'),
ps AS (SELECT l_partkey, l_suppkey, SUM(l_quantity) AS qty
       FROM l95 GROUP BY l_partkey, l_suppkey),
dom AS (SELECT l_suppkey, COUNT(*) AS n_dominant_parts,
        CAST(SUM(qty) AS DOUBLE) AS dominated_qty
        FROM ps a
        WHERE (SELECT COUNT(*) FROM ps b WHERE b.l_partkey = a.l_partkey) >= 2
          AND qty > 0.5 * (SELECT SUM(qty) FROM ps b
                           WHERE b.l_partkey = a.l_partkey)
        GROUP BY l_suppkey)
SELECT s_suppkey, s_name, n_dominant_parts, dominated_qty
FROM dom JOIN supplier ON l_suppkey = s_suppkey
ORDER BY n_dominant_parts DESC, s_suppkey
"""

# Exact two-sample KS: cumulative integer counts over distinct values,
# so both engines evaluate the identical IEEE divisions — the sup is
# bit-stable before the round.
ORACLE_SQL["ks_drift"] = """
WITH ev AS (SELECT event_type, value, ts < TIMESTAMP '2024-01-16' AS wa
            FROM events WHERE value IS NOT NULL AND NOT isnan(value)),
per_v AS (SELECT event_type, value,
          SUM(CASE WHEN wa THEN 1 ELSE 0 END) AS ca,
          SUM(CASE WHEN NOT wa THEN 1 ELSE 0 END) AS cb
          FROM ev GROUP BY event_type, value),
cum AS (SELECT event_type,
        SUM(ca) OVER (PARTITION BY event_type ORDER BY value
                      ROWS UNBOUNDED PRECEDING) AS cuma,
        SUM(cb) OVER (PARTITION BY event_type ORDER BY value
                      ROWS UNBOUNDED PRECEDING) AS cumb,
        SUM(ca) OVER (PARTITION BY event_type) AS na,
        SUM(cb) OVER (PARTITION BY event_type) AS nb
        FROM per_v)
SELECT event_type, CAST(MAX(na) AS BIGINT) AS n_a,
       CAST(MAX(nb) AS BIGINT) AS n_b,
       ROUND(MAX(ABS(CAST(cuma AS DOUBLE) / na
                     - CAST(cumb AS DOUBLE) / nb)), 6) AS ks_stat,
       ROUND(MAX(1.358 * sqrt((na + nb)
                 / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)))), 6)
         AS crit_95
FROM cum GROUP BY event_type ORDER BY event_type
"""

# YoY growth: exact DECIMAL yearly revenue, LAG over the dimension-
# sized aggregate, final ratio in identical double ops.
ORACLE_SQL["nation_yoy_growth"] = """
WITH yearly AS (
  SELECT n_name, EXTRACT(year FROM o_orderdate) AS o_year,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
              (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2))))
              AS DOUBLE) AS revenue
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  GROUP BY n_name, EXTRACT(year FROM o_orderdate)),
lagged AS (
  SELECT n_name, CAST(o_year AS BIGINT) AS o_year,
         ROUND(revenue, 3) AS revenue,
         ROUND((revenue - LAG(revenue) OVER w) / LAG(revenue) OVER w, 6)
           AS yoy_growth
  FROM yearly WINDOW w AS (PARTITION BY n_name ORDER BY o_year))
SELECT * FROM lagged WHERE yoy_growth IS NOT NULL
ORDER BY n_name, o_year
"""

# MAD drift: same two-pass median/abs-dev algebra; quantile_cont is
# DuckDB's exact interpolated percentile, matching Spark's percentile
# (the value_quantiles-proven pairing).
ORACLE_SQL["mad_drift"] = """
WITH ev AS (SELECT event_type, value,
            CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 'a' ELSE 'b' END AS w
            FROM events WHERE value IS NOT NULL AND NOT isnan(value)),
med AS (SELECT event_type, w, quantile_cont(value, 0.5) AS med,
        COUNT(*) AS n FROM ev GROUP BY event_type, w),
mad AS (SELECT ev.event_type, ev.w,
        quantile_cont(ABS(value - med), 0.5) AS mad
        FROM ev JOIN med ON ev.event_type = med.event_type AND ev.w = med.w
        GROUP BY ev.event_type, ev.w),
b AS (SELECT * FROM med JOIN mad USING (event_type, w))
SELECT event_type,
  CAST(MAX(CASE WHEN w = 'a' THEN n END) AS BIGINT) AS n_a,
  CAST(MAX(CASE WHEN w = 'b' THEN n END) AS BIGINT) AS n_b,
  ROUND(MAX(CASE WHEN w = 'a' THEN med END), 6) AS med_a,
  ROUND(MAX(CASE WHEN w = 'b' THEN med END), 6) AS med_b,
  ROUND(MAX(CASE WHEN w = 'a' THEN mad END), 6) AS mad_a,
  ROUND(MAX(CASE WHEN w = 'b' THEN mad END), 6) AS mad_b,
  ROUND((MAX(CASE WHEN w = 'b' THEN med END)
         - MAX(CASE WHEN w = 'a' THEN med END))
        / (1.4826 * MAX(CASE WHEN w = 'a' THEN mad END)), 6)
    AS robust_shift
FROM b GROUP BY event_type
HAVING MAX(CASE WHEN w = 'a' THEN n END) IS NOT NULL
   AND MAX(CASE WHEN w = 'b' THEN n END) IS NOT NULL
ORDER BY event_type
"""


# Holt backtest: the SAME recursive-CTE replay as the hash-green
# holt_smooth oracle (identical expression trees -> bit-identical
# unrounded state), with each one-step-ahead error quantized to EXACT
# integer micro-units before the fold — the repo's integer-cents
# convention, so the per-series MAE/bias/RMSE cannot drift with fold
# order (SQRT is IEEE correctly-rounded, so even RMSE is stable).
ORACLE_SQL["holt_backtest"] = """
WITH RECURSIVE s AS (
  SELECT CAST(user_id AS VARCHAR) AS sid, ts, CAST(value AS DOUBLE) AS value,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
), rec AS (
  SELECT sid, rn, ts, value, value AS l, CAST(0.0 AS DOUBLE) AS b
  FROM s WHERE rn = 1
  UNION ALL
  SELECT s.sid, s.rn, s.ts, s.value,
         CASE WHEN s.value IS NULL THEN rec.l
              WHEN rec.l IS NULL THEN s.value
              ELSE 0.2 * s.value + (1.0 - 0.2) * (rec.l + rec.b) END AS l,
         CASE WHEN s.value IS NULL THEN rec.b
              WHEN rec.l IS NULL THEN 0.0
              ELSE 0.1 * ((0.2 * s.value + (1.0 - 0.2) * (rec.l + rec.b))
                          - rec.l) + (1.0 - 0.1) * rec.b END AS b
  FROM rec JOIN s ON s.sid = rec.sid AND s.rn = rec.rn + 1
), err AS (
  SELECT r.sid,
         CAST(ROUND((s2.value - (r.l + r.b)) * 1e6) AS BIGINT) AS e_us
  FROM rec r JOIN s s2 ON s2.sid = r.sid AND s2.rn = r.rn + 1
  WHERE s2.value IS NOT NULL AND r.l IS NOT NULL
)
SELECT sid, COUNT(*) AS n_forecasts,
  ROUND(CAST(SUM(ABS(e_us)) AS DOUBLE) / COUNT(*)) / 1e6 AS mae,
  ROUND(CAST(SUM(e_us) AS DOUBLE) / COUNT(*)) / 1e6 AS bias,
  ROUND(SQRT(CAST(SUM(e_us * e_us) AS DOUBLE) / COUNT(*))) / 1e6 AS rmse
FROM err GROUP BY sid ORDER BY sid
"""

# Model selection: both recursions replayed as recursive CTEs over the
# SAME forecast points; the champion test compares the two micro-unit
# absolute-error SUMS as exact integers (same n on both sides), MAEs
# round via the holt_backtest integer micro-unit pattern.
ORACLE_SQL["model_select_backtest"] = """
WITH RECURSIVE s AS (
  SELECT CAST(user_id AS VARCHAR) AS sid, ts, CAST(value AS DOUBLE) AS value,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
), rec AS (
  SELECT sid, rn, value, value AS sm, value AS l, CAST(0.0 AS DOUBLE) AS b
  FROM s WHERE rn = 1
  UNION ALL
  SELECT s.sid, s.rn, s.value,
         CASE WHEN s.value IS NULL THEN rec.sm
              WHEN rec.sm IS NULL THEN s.value
              ELSE 0.2 * s.value + (1.0 - 0.2) * rec.sm END AS sm,
         CASE WHEN s.value IS NULL THEN rec.l
              WHEN rec.l IS NULL THEN s.value
              ELSE 0.2 * s.value + (1.0 - 0.2) * (rec.l + rec.b) END AS l,
         CASE WHEN s.value IS NULL THEN rec.b
              WHEN rec.l IS NULL THEN 0.0
              ELSE 0.1 * ((0.2 * s.value + (1.0 - 0.2) * (rec.l + rec.b))
                          - rec.l) + (1.0 - 0.1) * rec.b END AS b
  FROM rec JOIN s ON s.sid = rec.sid AND s.rn = rec.rn + 1
), err AS (
  SELECT r.sid,
         ABS(CAST(ROUND((s2.value - r.sm) * 1e6) AS BIGINT)) AS ae_us,
         ABS(CAST(ROUND((s2.value - (r.l + r.b)) * 1e6) AS BIGINT)) AS ah_us
  FROM rec r JOIN s s2 ON s2.sid = r.sid AND s2.rn = r.rn + 1
  WHERE s2.value IS NOT NULL AND r.l IS NOT NULL
)
SELECT sid, COUNT(*) AS n_forecasts,
  ROUND(CAST(SUM(ae_us) AS DOUBLE) / COUNT(*)) / 1e6 AS mae_ewma,
  ROUND(CAST(SUM(ah_us) AS DOUBLE) / COUNT(*)) / 1e6 AS mae_holt,
  CASE WHEN SUM(ae_us) <= SUM(ah_us) THEN 'ewma' ELSE 'holt' END AS champion
FROM err GROUP BY sid ORDER BY sid
"""

# A/B readout: exact integer counts and ppm rates (sign-split floor
# division); the z statistic is one fixed float tree over integers.
ORACLE_SQL["ab_test_report"] = """
WITH pu AS (SELECT user_id,
            CASE WHEN SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                 >= 14 THEN 1 ELSE 0 END AS conv
            FROM events GROUP BY user_id),
arms AS (SELECT CAST(user_id % 2 AS INT) AS arm, COUNT(*) AS n,
         CAST(SUM(conv) AS BIGINT) AS c FROM pu GROUP BY 1),
wide AS (SELECT
  MAX(CASE WHEN arm = 0 THEN n END) AS n0,
  MAX(CASE WHEN arm = 1 THEN n END) AS n1,
  MAX(CASE WHEN arm = 0 THEN c END) AS c0,
  MAX(CASE WHEN arm = 1 THEN c END) AS c1
  FROM arms)
SELECT n0 AS n_control, n1 AS n_treatment,
  c0 AS conv_control, c1 AS conv_treatment,
  c0 * 1000000 // n0 AS rate_control_ppm,
  c1 * 1000000 // n1 AS rate_treatment_ppm,
  CASE WHEN c0 = 0 THEN NULL
       WHEN c1 * n0 >= c0 * n1
       THEN (c1 * n0 - c0 * n1) * 1000000 // (c0 * n1)
       ELSE -((c0 * n1 - c1 * n0) * 1000000 // (c0 * n1)) END AS lift_ppm,
  CASE WHEN c0 + c1 > 0 AND c0 + c1 < n0 + n1 THEN
    ROUND((CAST(c1 AS DOUBLE) / n1 - CAST(c0 AS DOUBLE) / n0)
          / SQRT((CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
                 * (1.0 - CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
                 * (1.0 / n0 + 1.0 / n1)), 6) END AS z_score
FROM wide
"""

# Kaplan-Meier: integer risk/event cumulatives; the product-limit fold
# is exp(cumsum(ln)) over the ORDERED duration window — sequential and
# identical in both engines (ln ulp noise absorbed by ROUND(...,6)).
ORACLE_SQL["survival_retention"] = """
WITH pu AS (SELECT user_id, MIN(ts) AS first_ts, MAX(ts) AS last_ts
            FROM events GROUP BY 1),
oe AS (SELECT MAX(ts) AS obs_end FROM events),
lt AS (SELECT
        CAST(FLOOR((epoch_us(last_ts) - epoch_us(first_ts))
                   / 86400000000) AS BIGINT) AS t_days,
        CASE WHEN epoch_us(last_ts)
                  < epoch_us(obs_end) - 1 * 86400000000
             THEN 1 ELSE 0 END AS churned
       FROM pu, oe),
bt AS (SELECT t_days, COUNT(*) AS n_leaving,
       CAST(SUM(churned) AS BIGINT) AS n_events FROM lt GROUP BY 1),
rk AS (SELECT *, CAST(SUM(n_leaving) OVER (ORDER BY t_days DESC
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        AS n_risk FROM bt)
SELECT t_days, n_risk, n_events,
  ROUND(EXP(SUM(LN(1.0 - CAST(n_events AS DOUBLE)
                        / CAST(n_risk AS DOUBLE)))
        OVER (ORDER BY t_days
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 6)
    AS survival
FROM rk WHERE n_events > 0 ORDER BY t_days
"""

# Mutual information: exact integer cell/marginal counts; the final
# sums over ~60 float terms follow the source_token_kl precedent.
ORACLE_SQL["mutual_information"] = """
WITH ev AS (SELECT event_type,
            LEAST(CAST(FLOOR(value / 50.0) AS BIGINT), 9) AS bin
            FROM events WHERE value IS NOT NULL AND NOT isnan(value)),
cells AS (SELECT event_type, bin, COUNT(*) AS c_xy FROM ev GROUP BY 1, 2),
enr AS (SELECT *,
        SUM(c_xy) OVER (PARTITION BY event_type) AS c_x,
        SUM(c_xy) OVER (PARTITION BY bin) AS c_y,
        SUM(c_xy) OVER () AS n,
        MIN(bin) OVER (PARTITION BY event_type) AS min_bin,
        MIN(event_type) OVER (PARTITION BY bin) AS min_type
        FROM cells),
terms AS (SELECT CAST(n AS BIGINT) AS n,
  (CAST(c_xy AS DOUBLE) / CAST(n AS DOUBLE))
    * LN(CAST(c_xy AS DOUBLE) * CAST(n AS DOUBLE)
         / (CAST(c_x AS DOUBLE) * CAST(c_y AS DOUBLE))) AS mi_term,
  CASE WHEN bin = min_bin
       THEN -(CAST(c_x AS DOUBLE) / CAST(n AS DOUBLE))
            * LN(CAST(c_x AS DOUBLE) / CAST(n AS DOUBLE))
       ELSE 0.0 END AS hx_term,
  CASE WHEN event_type = min_type
       THEN -(CAST(c_y AS DOUBLE) / CAST(n AS DOUBLE))
            * LN(CAST(c_y AS DOUBLE) / CAST(n AS DOUBLE))
       ELSE 0.0 END AS hy_term
  FROM enr)
SELECT n, COUNT(*) AS n_cells,
  ROUND(SUM(hx_term), 6) AS h_type,
  ROUND(SUM(hy_term), 6) AS h_bin,
  ROUND(SUM(mi_term), 6) AS mi_nats,
  ROUND(SUM(mi_term) / LEAST(SUM(hx_term), SUM(hy_term)), 6) AS redundancy
FROM terms GROUP BY n
"""

# Benford screen: exact integer digit counts on the densified
# (source x 1..9) grid; shares/expectations/TVD are fixed float
# expressions under ROUND(...,6).
ORACLE_SQL["benford_deviation"] = """
WITH d0 AS (SELECT source,
            CAST(substr(CAST(n_chars AS VARCHAR), 1, 1) AS BIGINT) AS digit
            FROM documents WHERE n_chars > 0),
c0 AS (SELECT source, digit, COUNT(*) AS n FROM d0 GROUP BY 1, 2),
grid AS (SELECT DISTINCT source FROM c0),
dg AS (SELECT CAST(i AS BIGINT) AS digit FROM generate_series(1, 9) t(i)),
cc AS (SELECT g.source, dg.digit, COALESCE(c0.n, 0) AS n
       FROM grid g CROSS JOIN dg
       LEFT JOIN c0 ON c0.source = g.source AND c0.digit = dg.digit),
b AS (SELECT source, digit, n,
      CAST(n AS DOUBLE)
        / CAST(SUM(n) OVER (PARTITION BY source) AS DOUBLE) AS obs,
      LN(1.0 + 1.0 / CAST(digit AS DOUBLE)) / LN(10.0) AS exp_
      FROM cc)
SELECT source, digit, n,
  ROUND(obs, 6) AS observed,
  ROUND(exp_, 6) AS benford,
  ROUND(obs - exp_, 6) AS deviation,
  ROUND(SUM(ABS(obs - exp_)) OVER (PARTITION BY source) / 2.0, 6)
    AS source_tvd
FROM b ORDER BY source, digit
"""

# Quantile normalization: percent_rank is the exact rational
# (rank-1)/(n-1) with a doc_id tiebreak — identical total order, no
# float accumulation at all.
ORACLE_SQL["score_percentile_by_source"] = """
SELECT doc_id, source, n_chars,
  ROUND(percent_rank() OVER (PARTITION BY source
        ORDER BY n_chars, doc_id), 6) AS pct_in_source,
  ROUND(percent_rank() OVER (ORDER BY n_chars, doc_id), 6) AS pct_global,
  ROUND(percent_rank() OVER (PARTITION BY source
        ORDER BY n_chars, doc_id)
        - percent_rank() OVER (ORDER BY n_chars, doc_id), 6)
    AS calibration_gap
FROM documents ORDER BY doc_id
"""

# ROLLUP + GROUPING: standard-SQL bitmask semantics agree between
# engines (detail 0, region subtotal 1, grand total 3); revenue is the
# exact-DECIMAL convention.
ORACLE_SQL["region_nation_rollup"] = """
SELECT r_name, n_name,
  CAST(GROUPING(r_name, n_name) AS BIGINT) AS level,
  COUNT(*) AS n_items,
  ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
        (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2))))
        AS DOUBLE), 2) AS revenue
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
ORDER BY level, r_name, n_name
"""

# Ordered string aggregation (LISTAGG surface): ordering is explicit
# on both sides, never collect order.
ORACLE_SQL["region_nations_csv"] = """
SELECT r_name, COUNT(*) AS n_nations,
  STRING_AGG(n_name, ',' ORDER BY n_name) AS nations_csv
FROM nation JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name ORDER BY r_name
"""

# Stratified weighted sampling: the per-source dual of weighted_sample
# — same engine-replayable A-ES key, row_number per source.
ORACLE_SQL["source_weighted_sample"] = """
WITH k AS (SELECT doc_id, source, n_chars,
  ROUND(-ln(((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
        + 1) / 1152921504606846976.0)) / CAST(n_chars AS DOUBLE), 12)
    AS sample_key
  FROM documents)
SELECT doc_id, source, n_chars, sample_key,
  CAST(ROW_NUMBER() OVER (PARTITION BY source
       ORDER BY sample_key, doc_id) AS BIGINT) AS rank_in_source
FROM k QUALIFY rank_in_source <= 20 ORDER BY source, rank_in_source
"""

# Inter-arrival stats: gaps quantize to integer seconds (FLOOR, exact
# both engines), moment sums are exact int64, the mean/var/σ formulas
# are one fixed float expression tree (IEEE sqrt).
ORACLE_SQL["interarrival_stats"] = f"""
WITH {_SERIES},
g0 AS (SELECT sid, CAST(FLOOR((epoch_us(ts) - epoch_us(LAG(ts) OVER (
        PARTITION BY sid ORDER BY ts, seq))) / 1000000) AS BIGINT) AS g
       FROM series),
agg AS (SELECT sid, COUNT(*) AS n_gaps, CAST(SUM(g) AS BIGINT) AS s1,
        CAST(SUM(g * g) AS BIGINT) AS s2, MAX(g) AS max_gap_s
        FROM g0 WHERE g IS NOT NULL GROUP BY sid),
m AS (SELECT sid, n_gaps, max_gap_s,
      CAST(s1 AS DOUBLE) / CAST(n_gaps AS DOUBLE) AS mean,
      (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
        / CAST(n_gaps AS DOUBLE)) / CAST(n_gaps AS DOUBLE) AS var
      FROM agg WHERE n_gaps >= 2)
SELECT sid, n_gaps, ROUND(mean, 6) AS mean_gap_s, max_gap_s,
  ROUND(var / (mean * mean), 6) AS cv2,
  ROUND((SQRT(var) - mean) / (SQRT(var) + mean), 6) AS burstiness
FROM m ORDER BY sid
"""

# Burst collapse (telemetry debounce): gaps-and-islands per
# (user, type) in pure integer microsecond window algebra.
ORACLE_SQL["burst_collapse"] = """
WITH ev AS (SELECT CAST(user_id AS VARCHAR) AS sid, event_id AS seq,
            event_type, ts FROM events),
l AS (SELECT *, LAG(epoch_us(ts)) OVER (
       PARTITION BY sid, event_type ORDER BY ts, seq) AS prev_us FROM ev),
i AS (SELECT *, CASE WHEN prev_us IS NULL
       OR epoch_us(ts) - prev_us > 1800000000 THEN 1 ELSE 0 END AS nb
      FROM l),
b AS (SELECT *, SUM(nb) OVER (PARTITION BY sid, event_type
       ORDER BY ts, seq
       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS burst FROM i)
SELECT sid, event_type, MIN(ts) AS first_ts, MIN(seq) AS first_seq,
  COUNT(*) AS n_collapsed,
  epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS span_us
FROM b GROUP BY sid, event_type, burst
ORDER BY sid, event_type, first_ts, first_seq
"""

# Market basket: the oracle is the same algebra stated as plain joins;
# exact integer counts, fixed float expression tree for the ratios,
# rounded-lift ordering with key tiebreak so the LIMIT cut is
# deterministic in both engines.
ORACLE_SQL["market_basket_lift"] = """
WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pairs AS (SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
          COUNT(*) AS n_ab
          FROM items a JOIN items b ON a.l_orderkey = b.l_orderkey
           AND a.l_partkey < b.l_partkey
          GROUP BY 1, 2 HAVING COUNT(*) >= 2),
ic AS (SELECT l_partkey, COUNT(*) AS n_item FROM items GROUP BY 1),
tot AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM items)
SELECT part_a, part_b, n_ab, na.n_item AS n_a, nb.n_item AS n_b,
 ROUND(CAST(n_ab AS DOUBLE) / CAST(n_orders AS DOUBLE), 6) AS support,
 ROUND(CAST(n_ab AS DOUBLE) / CAST(na.n_item AS DOUBLE), 6) AS confidence,
 ROUND(CAST(n_ab AS DOUBLE) * CAST(n_orders AS DOUBLE) /
       (CAST(na.n_item AS DOUBLE) * CAST(nb.n_item AS DOUBLE)), 6) AS lift
FROM pairs JOIN ic na ON na.l_partkey = part_a
JOIN ic nb ON nb.l_partkey = part_b, tot
ORDER BY lift DESC, part_a, part_b LIMIT 100
"""

# Rolling median: QUANTILE_CONT over a ROWS frame is the identical
# type-7 interpolation Spark's percentile uses; inputs are on the 0.01
# grid so the p=0.5 half-grid result rounds stably at 6 decimals.
ORACLE_SQL["rolling_median"] = f"""
WITH {_SERIES}
SELECT sid, seq, ts, value,
  ROUND(QUANTILE_CONT(value, 0.5) OVER (PARTITION BY sid ORDER BY ts, seq
        ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 6) AS med7
FROM series ORDER BY sid, ts, seq
"""

# Interval coverage (gaps-and-islands): pure integer microsecond
# window algebra — running max of previous stops, running island
# count, one aggregate. Engine-exact by construction.
ORACLE_SQL["interval_coverage"] = f"""
WITH {_SERIES},
base AS (SELECT sid, ts, seq, epoch_us(ts) AS start_us,
         epoch_us(ts) + 900000000 AS stop_us FROM series),
isl AS (SELECT *, CASE WHEN MAX(stop_us) OVER w IS NULL
         OR start_us > MAX(stop_us) OVER w THEN 1 ELSE 0 END AS new_island
        FROM base WINDOW w AS (PARTITION BY sid ORDER BY ts, seq
         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
isl2 AS (SELECT *, SUM(new_island) OVER (PARTITION BY sid ORDER BY ts, seq
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
         FROM isl),
agg AS (SELECT sid, island, COUNT(*) AS n_events,
        MAX(stop_us) - MIN(start_us) AS span_us FROM isl2 GROUP BY 1, 2)
SELECT sid, CAST(SUM(n_events) AS BIGINT) AS n_events,
  COUNT(*) AS n_intervals,
  CAST(SUM(span_us) AS BIGINT) AS covered_us,
  MAX(span_us) AS longest_us,
  ROUND(CAST(SUM(span_us) AS DOUBLE) / 3.6e9, 6) AS covered_hours
FROM agg GROUP BY sid ORDER BY sid
"""

# Weighted sampling (Efraimidis-Spirakis): md5-derived uniform, one
# ln() per row; the 1e-12 key rounding absorbs libm ulp differences
# between engines (keys of distinct docs are never within 1e-12).
ORACLE_SQL["weighted_sample"] = """
WITH k AS (SELECT doc_id, source, n_chars,
  ROUND(-ln(((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
        + 1) / 1152921504606846976.0)) / CAST(n_chars AS DOUBLE), 12)
    AS sample_key
  FROM documents)
SELECT * FROM k ORDER BY sample_key, doc_id LIMIT 100
"""

# KMV distinct sketch: the estimate is a pure function of the k-th
# smallest distinct 60-bit hash — exact integers until one final
# float expression, so the sketch itself hash-matches (unlike HLL,
# whose estimate is implementation-defined and only bound-checkable).
ORACLE_SQL["user_reach_kmv"] = """
WITH du AS (SELECT DISTINCT date_trunc('day', ts) AS day,
  ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
  FROM events),
r AS (SELECT day, h, ROW_NUMBER() OVER (PARTITION BY day ORDER BY h) AS rk,
      COUNT(*) OVER (PARTITION BY day) AS nd FROM du),
kth AS (SELECT day, h, nd FROM r WHERE rk = 64 OR (nd < 64 AND rk = 1)),
ex AS (SELECT date_trunc('day', ts) AS day,
       COUNT(DISTINCT user_id) AS n_exact FROM events GROUP BY 1)
SELECT ex.day, n_exact,
  ROUND(CASE WHEN nd >= 64
        THEN 63.0 * 1152921504606846976.0 / CAST(h + 1 AS DOUBLE)
        ELSE CAST(nd AS DOUBLE) END, 4) AS kmv_est,
  ROUND(ABS(CASE WHEN nd >= 64
        THEN 63.0 * 1152921504606846976.0 / CAST(h + 1 AS DOUBLE)
        ELSE CAST(nd AS DOUBLE) END - CAST(n_exact AS DOUBLE))
        / CAST(n_exact AS DOUBLE), 4) AS rel_err
FROM ex JOIN kth ON ex.day = kth.day ORDER BY ex.day
"""

# Key-skew diagnostics: exact integer counts; the cumulative share is
# a sequential window over <= 20 rows in a fixed total order.
ORACLE_SQL["key_skew_report"] = """
WITH c AS (SELECT l_partkey, COUNT(*) AS cnt FROM lineitem GROUP BY 1),
t AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_rows, COUNT(*) AS n_keys FROM c),
k AS (SELECT l_partkey, cnt FROM c ORDER BY cnt DESC, l_partkey LIMIT 20)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, l_partkey) AS BIGINT)
         AS rank,
  l_partkey AS key, cnt,
  ROUND(CAST(cnt AS DOUBLE) / CAST(n_rows AS DOUBLE), 6) AS share,
  ROUND(SUM(CAST(cnt AS DOUBLE)) OVER (ORDER BY cnt DESC, l_partkey
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        / CAST(n_rows AS DOUBLE), 6) AS cum_share,
  ROUND(CAST(cnt AS DOUBLE) * CAST(n_keys AS DOUBLE)
        / CAST(n_rows AS DOUBLE), 4) AS x_mean
FROM k, t ORDER BY rank
"""

# Salted-join demo: the oracle IS the plain join the salted plan must
# be indistinguishable from. Exact integers only — the above-average
# test cross-multiplies (value_us * n_type > sum_us), never divides.
ORACLE_SQL["events_above_type_avg"] = """
WITH ev AS (SELECT user_id, event_type,
                   CAST(ROUND(value * 1e6) AS BIGINT) AS value_us
            FROM events),
ts AS (SELECT event_type, COUNT(*) AS n_type,
              CAST(SUM(value_us) AS BIGINT) AS sum_us
       FROM ev GROUP BY event_type)
SELECT user_id, COUNT(*) AS n_events,
       CAST(SUM(CASE WHEN value_us * n_type > sum_us THEN 1 ELSE 0 END)
            AS BIGINT) AS n_above_type_avg
FROM ev JOIN ts USING (event_type)
GROUP BY user_id ORDER BY user_id
"""

# Reciprocal-rank fusion: integer-quantized per-term scores
# (1e6 div (k + rank)) — exact integers end to end, ties on doc_id.
ORACLE_SQL["rrf_fusion"] = """
WITH d AS (SELECT doc_id, n_chars,
                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
           FROM documents),
r AS (SELECT doc_id,
             CAST(ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id)
                  AS BIGINT) AS rank_chars,
             CAST(ROW_NUMBER() OVER (ORDER BY n_tokens DESC, doc_id)
                  AS BIGINT) AS rank_tokens
      FROM d)
SELECT doc_id, rank_chars, rank_tokens,
       CAST((1000000 // (60 + rank_chars))
            + (1000000 // (60 + rank_tokens)) AS BIGINT) AS rrf_ppm
FROM r ORDER BY rrf_ppm DESC, doc_id LIMIT 100
"""

# Chi-squared term selection: all-integer contingency arithmetic in
# HUGEINT (Spark side: DECIMAL(38,0)); chi2 emitted in integer
# micro-units via floor division — no float op on either side.
ORACLE_SQL["chi2_terms"] = """
WITH toks AS (SELECT source, unnest(string_split(text, ' ')) AS term
              FROM documents),
st AS (SELECT source, term, COUNT(*) AS a_cnt FROM toks GROUP BY source, term),
tt AS (SELECT term, SUM(a_cnt) AS t_cnt FROM st GROUP BY term),
sc AS (SELECT source, SUM(a_cnt) AS s_cnt FROM st GROUP BY source),
nt AS (SELECT SUM(a_cnt) AS n_tot FROM st),
cand AS (SELECT st.source, st.term,
                CAST(a_cnt AS HUGEINT) AS a,
                CAST(s_cnt - a_cnt AS HUGEINT) AS b,
                CAST(t_cnt - a_cnt AS HUGEINT) AS c,
                CAST(n_tot - s_cnt - t_cnt + a_cnt AS HUGEINT) AS d
         FROM st JOIN tt USING (term) JOIN sc USING (source), nt
         WHERE a_cnt >= 5),
scored AS (SELECT source, term, a,
                  (1000000 * (a + b + c + d) * (a*d - b*c) * (a*d - b*c)) //
                  ((a + b) * (c + d) * (a + c) * (b + d)) AS chi2_micro
           FROM cand),
rk AS (SELECT source, term, a, chi2_micro,
              ROW_NUMBER() OVER (PARTITION BY source
                                 ORDER BY chi2_micro DESC, term) AS rank
       FROM scored)
SELECT source, CAST(rank AS BIGINT) AS rank, term,
       CAST(a AS BIGINT) AS a, CAST(chi2_micro AS BIGINT) AS chi2_micro
FROM rk WHERE rank <= 10 ORDER BY source, rank
"""

# Calibration: integer-ppm probabilities, bins, per-bin means,
# empirical frequencies and the ECE fold — all floor division on
# exact integers, no float op on either side.
ORACLE_SQL["classifier_calibration"] = """
WITH scored AS (
  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS label,
    (list_sum(list_transform(string_split(text, ' '),
       x -> (((length(x) * 131 + ascii(x) * 7919
               + ascii(reverse(x)) * 104729) % 4093)
             * 2654435761) % 1000003)) * 1000000)
      // (len(string_split(text, ' ')) * 1000003) AS prob_ppm
  FROM documents),
binned AS (SELECT label, prob_ppm,
           LEAST(prob_ppm // 100000, 9) AS bin FROM scored),
per_bin AS (SELECT bin, COUNT(*) AS n_docs,
            CAST(SUM(label) AS BIGINT) AS n_pos,
            SUM(prob_ppm) AS sum_ppm
            FROM binned GROUP BY bin),
g AS (SELECT bin, n_docs, n_pos,
      sum_ppm // n_docs AS conf_ppm,
      (n_pos * 1000000) // n_docs AS freq_ppm,
      ABS(sum_ppm // n_docs - (n_pos * 1000000) // n_docs) AS gap_ppm
      FROM per_bin)
SELECT CAST(bin AS BIGINT) AS bin, n_docs, n_pos,
       CAST(conf_ppm AS BIGINT) AS conf_ppm,
       CAST(freq_ppm AS BIGINT) AS freq_ppm,
       CAST(gap_ppm AS BIGINT) AS gap_ppm,
       CAST(SUM(gap_ppm * n_docs) OVER () // SUM(n_docs) OVER ()
            AS BIGINT) AS ece_ppm
FROM g ORDER BY bin
"""

# Containment: inverted-index join on distinct 5-gram digests with the
# max_df posting cap, shared counts and set sizes exact integers,
# containment in integer ppm — the oracle replays the same algebra.
ORACLE_SQL["doc_containment"] = """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
pos AS (SELECT doc_id, t,
               unnest(generate_series(1, len(t) - 4)) AS i FROM toks),
sh AS (SELECT DISTINCT doc_id,
              md5(array_to_string(t[i:i+4], ' ')) AS sh FROM pos),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
dfc AS (SELECT sh, COUNT(*) AS df FROM sh GROUP BY sh),
rare AS (SELECT s.doc_id, s.sh FROM sh s JOIN dfc USING (sh)
         WHERE df <= 10),
shared AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           COUNT(*) AS n_shared
           FROM rare a JOIN rare b
             ON a.sh = b.sh AND a.doc_id <> b.doc_id
           GROUP BY 1, 2 HAVING COUNT(*) >= 3)
SELECT doc_a, doc_b, n_shared, n_sh AS n_a,
       CAST(n_shared * 1000000 // n_sh AS BIGINT) AS containment_ppm
FROM shared JOIN sizes ON sizes.doc_id = shared.doc_a
WHERE n_shared * 1000000 // n_sh >= 500000
ORDER BY doc_a, doc_b
"""

# Last-touch attribution: IGNORE NULLS carry-forward per user; the
# three carried fields share one NULL pattern so separate LAST_VALUEs
# pick the same row. Lookback test in exact integer microseconds.
ORACLE_SQL["purchase_attribution"] = """
WITH ev AS (SELECT user_id, event_id, event_type, ts, epoch_us(ts) AS ts_us
            FROM events),
carried AS (SELECT *,
  LAST_VALUE(CASE WHEN event_type <> 'purchase' THEN ts_us END IGNORE NULLS)
    OVER w AS t_us,
  LAST_VALUE(CASE WHEN event_type <> 'purchase' THEN event_id END IGNORE NULLS)
    OVER w AS t_id,
  LAST_VALUE(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS)
    OVER w AS t_type
  FROM ev
  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
SELECT event_id AS purchase_id, user_id, ts AS purchase_ts,
  CASE WHEN t_us IS NOT NULL AND ts_us - t_us <= 604800000000
       THEN t_id END AS touch_id,
  CASE WHEN t_us IS NOT NULL AND ts_us - t_us <= 604800000000
       THEN t_type END AS touch_type,
  CASE WHEN t_us IS NOT NULL AND ts_us - t_us <= 604800000000
       THEN ts_us - t_us END AS gap_us
FROM carried WHERE event_type = 'purchase' ORDER BY purchase_id
"""

# spike_valley (reference events.py:199-248): a FULL relational replay
# of the find_peaks pipeline the kernel implements (operators/peaks.py)
# — plateau-midpoint local maxima (runs of equal values with strictly
# smaller neighbours), prominence via the nearest strictly-higher-or-
# NULL border and the scan-order base argmin (downward scan keeps the
# LARGEST index at the left min, upward the SMALLEST at the right),
# interpolated width at vp - prom/2, the int() truncation and Python
# negative-slice-start semantics of the mask expansion (events.py:240-247),
# run grouping. Everything is MIN/MAX/argmin over ranges — order-
# independent, so no float-fold drift; the only SUM is the final
# 2-decimal-grid total, rounded to 3 like every detector. NaN values
# act as scan borders exactly as in numpy (NULL comparisons are false).
ORACLE_SQL["spike_valley"] = r"""
WITH series AS (SELECT CAST(user_id AS VARCHAR) AS sid, event_id AS seq, ts, value
                FROM events),
pts AS (SELECT sid, ts, seq, value,
        CAST(ROW_NUMBER() OVER (PARTITION BY sid ORDER BY ts, seq) - 1 AS BIGINT) AS i,
        COUNT(*) OVER (PARTITION BY sid) AS n
        FROM series),
sgns AS (SELECT 1.0 AS sgn UNION ALL SELECT -1.0),
sp AS (SELECT sid, i, n, sgn, value * sgn AS v FROM pts, sgns),
r0 AS (SELECT *, CASE WHEN v IS NOT NULL AND LAG(v) OVER w = v THEN 0 ELSE 1 END AS brk
       FROM sp WINDOW w AS (PARTITION BY sid, sgn ORDER BY i)),
r1 AS (SELECT *, SUM(brk) OVER (PARTITION BY sid, sgn ORDER BY i) AS rid FROM r0),
runs AS (SELECT sid, sgn, rid, MIN(i) AS le, MAX(i) AS re,
         ANY_VALUE(v) AS v, ANY_VALUE(n) AS n
         FROM r1 GROUP BY sid, sgn, rid),
cand AS (SELECT r.sid, r.sgn, (r.le + r.re) // 2 AS p, r.v AS vp, r.n
         FROM runs r
         JOIN sp pl ON pl.sid = r.sid AND pl.sgn = r.sgn AND pl.i = r.le - 1
         JOIN sp pr ON pr.sid = r.sid AND pr.sgn = r.sgn AND pr.i = r.re + 1
         WHERE pl.v < r.v AND pr.v < r.v),
bl AS (SELECT c.sid, c.sgn, c.p, MAX(s.i) AS b
       FROM cand c JOIN sp s ON s.sid = c.sid AND s.sgn = c.sgn
        AND s.i < c.p AND (s.v > c.vp OR s.v IS NULL)
       GROUP BY 1, 2, 3),
br AS (SELECT c.sid, c.sgn, c.p, MIN(s.i) AS b
       FROM cand c JOIN sp s ON s.sid = c.sid AND s.sgn = c.sgn
        AND s.i > c.p AND (s.v > c.vp OR s.v IS NULL)
       GROUP BY 1, 2, 3),
lmin AS (SELECT c.sid, c.sgn, c.p, MIN(s.v) AS lmin
         FROM cand c LEFT JOIN bl ON bl.sid = c.sid AND bl.sgn = c.sgn AND bl.p = c.p
         JOIN sp s ON s.sid = c.sid AND s.sgn = c.sgn
          AND s.i BETWEEN COALESCE(bl.b, -1) + 1 AND c.p
         GROUP BY 1, 2, 3),
rmin AS (SELECT c.sid, c.sgn, c.p, MIN(s.v) AS rmin
         FROM cand c LEFT JOIN br ON br.sid = c.sid AND br.sgn = c.sgn AND br.p = c.p
         JOIN sp s ON s.sid = c.sid AND s.sgn = c.sgn
          AND s.i BETWEEN c.p AND COALESCE(br.b, c.n) - 1
         GROUP BY 1, 2, 3),
lbase AS (SELECT l.sid, l.sgn, l.p, MAX(s.i) AS lb
          FROM lmin l
          LEFT JOIN bl ON bl.sid = l.sid AND bl.sgn = l.sgn AND bl.p = l.p
          JOIN sp s ON s.sid = l.sid AND s.sgn = l.sgn
           AND s.i BETWEEN COALESCE(bl.b, -1) + 1 AND l.p AND s.v = l.lmin
          GROUP BY 1, 2, 3),
rbase AS (SELECT r.sid, r.sgn, r.p, MIN(s.i) AS rb
          FROM rmin r
          JOIN cand c ON c.sid = r.sid AND c.sgn = r.sgn AND c.p = r.p
          LEFT JOIN br ON br.sid = r.sid AND br.sgn = r.sgn AND br.p = r.p
          JOIN sp s ON s.sid = r.sid AND s.sgn = r.sgn
           AND s.i BETWEEN r.p AND COALESCE(br.b, c.n) - 1 AND s.v = r.rmin
          GROUP BY 1, 2, 3),
prom AS (SELECT c.sid, c.sgn, c.p, c.vp, c.n, lbase.lb, rbase.rb,
         c.vp - GREATEST(lmin.lmin, rmin.rmin) AS prom
         FROM cand c
         JOIN lmin  ON lmin.sid = c.sid AND lmin.sgn = c.sgn AND lmin.p = c.p
         JOIN rmin  ON rmin.sid = c.sid AND rmin.sgn = c.sgn AND rmin.p = c.p
         JOIN lbase ON lbase.sid = c.sid AND lbase.sgn = c.sgn AND lbase.p = c.p
         JOIN rbase ON rbase.sid = c.sid AND rbase.sgn = c.sgn AND rbase.p = c.p
         WHERE c.vp - GREATEST(lmin.lmin, rmin.rmin) >= 300.0),
hw AS (SELECT *, vp - prom * 0.5 AS height FROM prom),
sl AS (SELECT h.sid, h.sgn, h.p,
       COALESCE(MAX(s.i) FILTER (s.v <= h.height), h.lb) AS s_l
       FROM hw h JOIN sp s ON s.sid = h.sid AND s.sgn = h.sgn
        AND s.i BETWEEN h.lb AND h.p
       GROUP BY h.sid, h.sgn, h.p, h.lb),
sr AS (SELECT h.sid, h.sgn, h.p,
       COALESCE(MIN(s.i) FILTER (s.v <= h.height), h.rb) AS s_r
       FROM hw h JOIN sp s ON s.sid = h.sid AND s.sgn = h.sgn
        AND s.i BETWEEN h.p AND h.rb
       GROUP BY h.sid, h.sgn, h.p, h.rb),
wid AS (SELECT h.sid, h.sgn, h.p,
        (CAST(sr.s_r AS DOUBLE) -
         CASE WHEN vr.v < h.height
              THEN (h.height - vr.v) / (vr1.v - vr.v) ELSE 0 END)
        -
        (CAST(sl.s_l AS DOUBLE) +
         CASE WHEN vl.v < h.height
              THEN (h.height - vl.v) / (vl1.v - vl.v) ELSE 0 END) AS w
        FROM hw h
        JOIN sl ON sl.sid = h.sid AND sl.sgn = h.sgn AND sl.p = h.p
        JOIN sr ON sr.sid = h.sid AND sr.sgn = h.sgn AND sr.p = h.p
        JOIN sp vl  ON vl.sid = h.sid AND vl.sgn = h.sgn AND vl.i = sl.s_l
        JOIN sp vl1 ON vl1.sid = h.sid AND vl1.sgn = h.sgn AND vl1.i = sl.s_l + 1
        JOIN sp vr  ON vr.sid = h.sid AND vr.sgn = h.sgn AND vr.i = sr.s_r
        JOIN sp vr1 ON vr1.sid = h.sid AND vr1.sgn = h.sgn AND vr1.i = sr.s_r - 1),
marks AS (SELECT sid, CAST(TRUNC(p - w) AS BIGINT) AS m1,
                 CAST(TRUNC(p + w) AS BIGINT) AS m2
          FROM wid WHERE w >= 0 AND w <= 3 AND TRUNC(p - w) >= 0),
flagged AS (SELECT pts.*,
            EXISTS (SELECT 1 FROM marks m
                    WHERE m.sid = pts.sid
                      AND pts.i BETWEEN m.m1 AND m.m2) AS cond
            FROM pts),
fruns AS (SELECT *, SUM(CASE WHEN cond THEN 0 ELSE 1 END) OVER (
          PARTITION BY sid ORDER BY ts, seq
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
          FROM flagged)
SELECT sid, MIN(ts) AS "start", MAX(ts) AS "stop",
       epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS duration_us,
       COUNT(*) AS n_points, ROUND(SUM(value), 3) AS total
FROM fruns WHERE cond GROUP BY sid, run_id ORDER BY sid, "start"
"""

ORACLE_SQL["theilsen_trend"] = f"""
WITH {_SERIES},
clean AS (SELECT sid, seq, ts, value AS y FROM series
          WHERE value IS NOT NULL AND NOT isnan(value)),
pts AS (SELECT sid,
        ROW_NUMBER() OVER (PARTITION BY sid ORDER BY ts, seq) AS rn,
        epoch_us(ts) AS us, y FROM clean),
pairs AS (SELECT a.sid,
          (b.y - a.y) * 3.6e9 / CAST(b.us - a.us AS DOUBLE) AS slope
          FROM pts a JOIN pts b
          ON a.sid = b.sid AND a.rn < b.rn AND b.us > a.us)
SELECT sid, COUNT(*) AS n_pairs,
       ROUND(MEDIAN(slope), 6) AS theil_slope_per_hour
FROM pairs GROUP BY sid ORDER BY sid
"""

ORACLE_SQL["spearman_trend"] = f"""
WITH {_SERIES},
clean AS (SELECT sid, seq, ts, value AS y FROM series
          WHERE value IS NOT NULL AND NOT isnan(value)),
ranked AS (SELECT sid,
    CAST(ROW_NUMBER() OVER (PARTITION BY sid ORDER BY ts, seq) AS BIGINT)
      AS x,
    CAST(2 * RANK() OVER (PARTITION BY sid ORDER BY y)
         + COUNT(*) OVER (PARTITION BY sid, y) - 1 AS BIGINT) AS y2
    FROM clean),
agg AS (SELECT sid, COUNT(*) AS n_points,
        SUM(x) AS sx, SUM(x * x) AS sxx, SUM(y2) AS sy,
        SUM(y2 * y2) AS syy, SUM(x * y2) AS sxy
        FROM ranked GROUP BY sid)
SELECT sid, CAST(n_points AS BIGINT) AS n_points,
  ROUND(CAST(n_points * sxy - sx * sy AS DOUBLE)
        / NULLIF(sqrt(CAST(n_points * sxx - sx * sx AS DOUBLE)
                      * CAST(n_points * syy - sy * sy AS DOUBLE)), 0), 6)
    AS spearman_rho
FROM agg WHERE n_points >= 2 ORDER BY sid
"""

ORACLE_SQL["mann_whitney_u"] = """
WITH ev AS (SELECT event_type, value FROM events
            WHERE value IS NOT NULL AND NOT isnan(value)),
grps AS (SELECT DISTINCT event_type AS grp FROM ev
         WHERE event_type <> 'view'),
samp AS (SELECT g.grp, e.event_type, e.value FROM grps g
         JOIN ev e ON e.event_type = g.grp OR e.event_type = 'view'),
ranked AS (SELECT grp, event_type,
    CAST(RANK() OVER (PARTITION BY grp ORDER BY value) AS DOUBLE)
      + CAST(COUNT(*) OVER (PARTITION BY grp, value) - 1 AS DOUBLE) / 2.0
      AS avg_rank,
    CAST(COUNT(*) OVER (PARTITION BY grp, value) AS BIGINT) AS t
    FROM samp),
agg AS (SELECT grp,
    SUM(CASE WHEN event_type = grp THEN 1 ELSE 0 END) AS n_a,
    SUM(CASE WHEN event_type <> grp THEN 1 ELSE 0 END) AS n_b,
    SUM(CASE WHEN event_type = grp THEN avg_rank ELSE 0.0 END) AS r_a,
    SUM(t * t - 1) AS ties3
    FROM ranked GROUP BY grp)
SELECT grp, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
  r_a - CAST(n_a * (n_a + 1) AS DOUBLE) / 2.0 AS u_a,
  ROUND((r_a - CAST(n_a * (n_a + 1) AS DOUBLE) / 2.0
         - CAST(n_a * n_b AS DOUBLE) / 2.0)
    / NULLIF(sqrt(CAST(n_a * n_b AS DOUBLE) / 12.0
        * (CAST(n_a + n_b + 1 AS DOUBLE)
           - CAST(ties3 AS DOUBLE)
             / CAST((n_a + n_b) * (n_a + n_b - 1) AS DOUBLE))), 0), 6) AS z
FROM agg ORDER BY grp
"""

ORACLE_SQL["revenue_gini"] = """
WITH rev AS (SELECT o_custkey,
             SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS cents
             FROM orders GROUP BY o_custkey),
tagged AS (SELECT n_name AS nation, c_custkey, cents
           FROM rev JOIN customer ON o_custkey = c_custkey
           JOIN nation ON c_nationkey = n_nationkey),
ranked AS (SELECT nation, cents,
           CAST(ROW_NUMBER() OVER (PARTITION BY nation
                ORDER BY cents, c_custkey) AS BIGINT) AS i
           FROM tagged),
agg AS (SELECT nation, COUNT(*) AS n_customers, SUM(cents) AS tot,
        SUM(i * cents) AS icents FROM ranked GROUP BY nation)
SELECT nation, CAST(n_customers AS BIGINT) AS n_customers,
  ROUND(CAST(tot AS DOUBLE) / 100.0, 2) AS revenue,
  ROUND((2.0 * CAST(icents AS DOUBLE)
         - CAST(n_customers + 1 AS DOUBLE) * CAST(tot AS DOUBLE))
        / (CAST(n_customers AS DOUBLE) * CAST(tot AS DOUBLE)), 6) AS gini
FROM agg ORDER BY nation
"""

ORACLE_SQL["conversion_lag"] = """
WITH s AS (SELECT user_id, MIN(ts) AS signup_ts FROM events
           WHERE event_type = 'signup' GROUP BY user_id),
p AS (SELECT e.user_id, MIN(e.ts) AS purchase_ts
      FROM events e JOIN s ON e.user_id = s.user_id
      WHERE e.event_type = 'purchase' AND e.ts >= s.signup_ts
      GROUP BY e.user_id)
SELECT CAST(s.user_id AS BIGINT) AS user_id, s.signup_ts, p.purchase_ts,
       epoch_us(p.purchase_ts) - epoch_us(s.signup_ts) AS lag_us
FROM s JOIN p ON s.user_id = p.user_id ORDER BY user_id
"""

ORACLE_SQL["copurchase_triangles"] = """
WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
edges AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
          FROM items a JOIN items b ON a.l_orderkey = b.l_orderkey
          WHERE a.l_partkey < b.l_partkey),
tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
        FROM edges e1 JOIN edges e2 ON e2.u = e1.v
        JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v),
nodes AS (SELECT a AS p_partkey FROM tri
          UNION ALL SELECT b FROM tri
          UNION ALL SELECT c FROM tri)
SELECT p_partkey, COUNT(*) AS n_triangles
FROM nodes GROUP BY p_partkey
ORDER BY n_triangles DESC, p_partkey LIMIT 50
"""

ORACLE_SQL["oov_rate"] = """
WITH toks AS (SELECT source, unnest(string_split(text, ' ')) AS token
              FROM documents),
vocab AS (SELECT token, 1 AS in_vocab FROM
          (SELECT token, COUNT(*) AS n FROM toks GROUP BY token
           ORDER BY n DESC, token LIMIT 25)),
flagged AS (SELECT t.source, v.in_vocab FROM toks t
            LEFT JOIN vocab v ON t.token = v.token)
SELECT source, COUNT(*) AS n_tokens,
       CAST(SUM(CASE WHEN in_vocab IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_oov,
       ROUND(CAST(SUM(CASE WHEN in_vocab IS NULL THEN 1 ELSE 0 END)
                  AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS oov_rate
FROM flagged GROUP BY source ORDER BY source
"""

# survivor election reuses the full dedup_clusters replay as a
# subquery (DuckDB allows WITH RECURSIVE inside a derived table), then
# ranks members by (n_chars DESC, doc_id) inside each component
ORACLE_SQL["dedup_survivor_pick"] = f"""
WITH clusters AS (SELECT * FROM ({ORACLE_SQL["dedup_clusters"]}) t),
j AS (SELECT c.doc_id, c.cluster, d.n_chars FROM clusters c
      JOIN documents d ON c.doc_id = d.doc_id),
surv AS (SELECT cluster, doc_id AS survivor_id FROM
         (SELECT doc_id, cluster,
          ROW_NUMBER() OVER (PARTITION BY cluster
               ORDER BY n_chars DESC, doc_id) AS rk FROM j)
         WHERE rk = 1)
SELECT j.doc_id, j.cluster, s.survivor_id,
       CAST(CASE WHEN j.doc_id = s.survivor_id THEN 1 ELSE 0 END AS BIGINT)
         AS is_survivor
FROM j JOIN surv s ON j.cluster = s.cluster ORDER BY j.doc_id
"""

ORACLE_SQL["hard_negative_mining"] = """
WITH corpus AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                               CAST(embedding AS DOUBLE[]))) AS v_norm
  FROM embeddings),
anchors AS (SELECT vec_id AS q_id, label AS q_label, v AS q,
            v_norm AS q_norm FROM corpus WHERE vec_id < 20),
scored AS (
  SELECT q_id, vec_id, label AS neg_label,
         ROUND(list_dot_product(v, q) / (v_norm * q_norm), 6) AS cosine
  FROM corpus, anchors WHERE label <> q_label)
SELECT q_id, vec_id, neg_label, cosine,
       CAST(ROW_NUMBER() OVER (PARTITION BY q_id
            ORDER BY cosine DESC, vec_id) AS BIGINT) AS "rank"
FROM scored
QUALIFY "rank" <= 5
ORDER BY q_id, "rank"
"""

ORACLE_SQL["kendall_trend"] = f"""
WITH {_SERIES},
clean AS (SELECT sid, seq, ts, value AS y FROM series
          WHERE value IS NOT NULL AND NOT isnan(value)),
pts AS (SELECT sid,
        ROW_NUMBER() OVER (PARTITION BY sid ORDER BY ts, seq) AS rn, y
        FROM clean),
pairs AS (SELECT a.sid,
          CASE WHEN b.y > a.y THEN 1 ELSE 0 END AS c,
          CASE WHEN b.y < a.y THEN 1 ELSE 0 END AS d,
          CASE WHEN b.y = a.y THEN 1 ELSE 0 END AS t
          FROM pts a JOIN pts b ON a.sid = b.sid AND a.rn < b.rn),
agg AS (SELECT sid, COUNT(*) AS n0, SUM(c) AS nc, SUM(d) AS nd,
        SUM(t) AS nt FROM pairs GROUP BY sid)
SELECT sid, CAST(n0 AS BIGINT) AS n_pairs,
  CAST(nc AS BIGINT) AS concordant, CAST(nd AS BIGINT) AS discordant,
  ROUND(CAST(nc - nd AS DOUBLE)
        / NULLIF(sqrt(CAST((n0 - nt) * n0 AS DOUBLE)), 0), 6)
    AS kendall_tau
FROM agg ORDER BY sid
"""

# the Poisson(1) CDF CASE is GENERATED from the same constant tuple
# the Spark operator classifies with (relational/product.py
# _POISSON1_CUM60) — one source of truth, so an edit to the thresholds
# cannot silently desync the two engines
_POISSON1_CASE = "CASE " + " ".join(
    f"WHEN h60 < {t} THEN {k}" for k, t in enumerate(_POISSON1_CUM60)
) + " ELSE 9 END"

ORACLE_SQL["skew_join_compare"] = """
WITH ev AS (SELECT user_id,
            CAST(ROUND(value * 1e6) AS BIGINT) AS value_us,
            CASE WHEN user_id % 10 < 3 THEN 0 ELSE user_id END AS skew_key
            FROM events WHERE user_id IS NOT NULL),
build AS (SELECT skew_key, COUNT(*) AS n_k, SUM(value_us) AS sum_us
          FROM ev GROUP BY skew_key),
truth AS (SELECT CASE WHEN e.skew_key = 0 THEN 'hot' ELSE 'cold' END
            AS key_class,
          CAST(COUNT(*) AS BIGINT) AS n_rows,
          CAST(SUM(CASE WHEN e.value_us * b.n_k > b.sum_us
                   THEN 1 ELSE 0 END) AS BIGINT) AS n_above
          FROM ev e JOIN build b ON e.skew_key = b.skew_key
          GROUP BY 1)
SELECT key_class, n_rows AS n_rows_plain, n_rows AS n_rows_salted,
       n_above AS n_above_plain, n_above AS n_above_salted,
       CAST(1 AS BIGINT) AS paths_agree
FROM truth ORDER BY key_class
"""

# knn_lsh is a FULL SQL replay of the ANN query (r11): the md5-derived
# integer hyperplanes, micro-unit sign sketches, per-table bucket
# packing, Hamming<=2 multi-probe, candidate dedup, and cosine ranking
# are all regenerated from the same constants the Spark operator uses
# (similarity/knn.py _md5_planes: seed 42, 8 tables x 8 bits, dim 64,
# scale 2^20) — the user_reach_kmv trick applied to the ANN tier, so a
# sketch-based approximate query still earns a hash-green driver row.
ORACLE_SQL["knn_lsh"] = """
WITH dims AS (SELECT unnest(range(64)) AS d),
prows AS (SELECT unnest(range(64)) AS r),
planes AS (SELECT r, d,
    ((('0x' || substr(md5('42:' || r::VARCHAR || ':' || d::VARCHAR),
        1, 15))::BIGINT) % 2097153) - 1048576 AS p
  FROM prows CROSS JOIN dims),
vq AS (SELECT vec_id, d,
       CAST(ROUND(CAST(embedding AS DOUBLE[])[d + 1] * 1e6) AS BIGINT)
         AS vi
       FROM embeddings CROSS JOIN dims),
dots AS (SELECT vec_id, r, SUM(vi * p) AS dot
         FROM vq JOIN planes USING (d) GROUP BY vec_id, r),
buckets AS (SELECT vec_id, r // 8 AS tbl,
            SUM(CASE WHEN dot > 0
                THEN 1 << CAST(r % 8 AS INT) ELSE 0 END) AS bucket
            FROM dots GROUP BY vec_id, r // 8),
bits8 AS (SELECT unnest(range(8)) AS i),
masks AS (SELECT CAST(0 AS BIGINT) AS mask
          UNION ALL
          SELECT CAST(1 << CAST(i AS INT) AS BIGINT) FROM bits8
          UNION ALL
          SELECT CAST((1 << CAST(a.i AS INT)) | (1 << CAST(b.i AS INT))
                 AS BIGINT)
          FROM bits8 a CROSS JOIN bits8 b WHERE a.i < b.i),
cands AS (SELECT DISTINCT q.vec_id AS q_id, c.vec_id
          FROM buckets q CROSS JOIN masks m
          JOIN buckets c
            ON c.tbl = q.tbl AND c.bucket = xor(q.bucket, m.mask)
          WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id),
corpus AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
           sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                 CAST(embedding AS DOUBLE[]))) AS v_norm
           FROM embeddings),
scored AS (SELECT cd.q_id, cd.vec_id,
           ROUND(list_dot_product(cv.v, qv.v) / (cv.v_norm * qv.v_norm),
                 6) AS cosine
           FROM cands cd
           JOIN corpus cv ON cd.vec_id = cv.vec_id
           JOIN corpus qv ON cd.q_id = qv.vec_id)
SELECT q_id, vec_id, cosine,
       CAST(ROW_NUMBER() OVER (PARTITION BY q_id
            ORDER BY cosine DESC, vec_id) AS BIGINT) AS "rank"
FROM scored QUALIFY "rank" <= 5 ORDER BY q_id, "rank"
"""

def _lloyd_ctes(
    n_cells: int, iters: int, dim: int = 64, with_counts: bool = False
) -> list[str]:
    """CTE chain replaying semdedup.lloyd_state: integer-exact Lloyd
    rounds (int64 micro-unit member sums, score =
    CAST(dot)/sqrt(CAST(|s|²)), ties to the lowest cell) ending in
    ``scores_f`` / ``assign_f`` for the final state. With
    ``with_counts`` a parallel ``cnts_f`` chain carries the member
    counts through the same empty-cell keep-previous rule, so a
    consumer can rebuild the FLOAT centroids (svec/(cnt*1e6)) the
    Spark side hands to kmeans_embeddings / knn_ivf_pq."""
    ctes = [
        f"dims AS (SELECT unnest(range({dim})) AS d)",
        "vq AS (SELECT vec_id, d, CAST(ROUND(CAST(embedding AS "
        "DOUBLE[])[d + 1] * 1e6) AS BIGINT) AS vi "
        "FROM embeddings CROSS JOIN dims)",
        f"cents_0 AS (SELECT vec_id AS cell, d, vi AS s FROM vq "
        f"WHERE vec_id < {n_cells})",
    ]
    if with_counts:
        ctes.append(
            "cnts_0 AS (SELECT vec_id AS cell, CAST(1 AS BIGINT) AS cnt "
            f"FROM embeddings WHERE vec_id < {n_cells})"
        )
    prev, prevn = "cents_0", "cnts_0"
    for i in range(1, iters + 1):
        ctes += [
            # HUGEINT products: BIGINT s*s would raise on overflow
            # once a per-dim member sum passes ~3e9 — the same scale
            # where the Spark side now widens (semdedup._int_scores)
            f"s2_{i} AS (SELECT cell, SUM(CAST(s AS HUGEINT) * s) "
            f"AS s2 FROM {prev} GROUP BY cell)",
            f"dots_{i} AS (SELECT vq.vec_id, c.cell, "
            f"SUM(CAST(vq.vi AS HUGEINT) * c.s) AS dot FROM vq "
            f"JOIN {prev} c USING (d) "
            "GROUP BY vq.vec_id, c.cell)",
            f"assign_{i} AS (SELECT vec_id, cell FROM ("
            "SELECT dt.vec_id, dt.cell, ROW_NUMBER() OVER ("
            "PARTITION BY dt.vec_id ORDER BY "
            "CAST(dt.dot AS DOUBLE) / sqrt(CAST(t.s2 AS DOUBLE)) DESC, "
            f"dt.cell) AS rn FROM dots_{i} dt JOIN s2_{i} t USING (cell)"
            ") WHERE rn = 1)",
            f"newc_{i} AS (SELECT a.cell, vq.d, SUM(vq.vi) AS s "
            f"FROM assign_{i} a JOIN vq USING (vec_id) "
            "GROUP BY a.cell, vq.d)",
            f"cents_{i} AS (SELECT cell, d, s FROM newc_{i} UNION ALL "
            f"SELECT c.cell, c.d, c.s FROM {prev} c WHERE c.cell NOT IN "
            f"(SELECT DISTINCT cell FROM newc_{i}))",
        ]
        if with_counts:
            ctes += [
                f"newn_{i} AS (SELECT cell, COUNT(*) AS cnt "
                f"FROM assign_{i} GROUP BY cell)",
                f"cnts_{i} AS (SELECT cell, cnt FROM newn_{i} UNION ALL "
                f"SELECT c.cell, c.cnt FROM {prevn} c WHERE c.cell NOT IN "
                f"(SELECT cell FROM newn_{i}))",
            ]
            prevn = f"cnts_{i}"
        prev = f"cents_{i}"
    ctes += [
        f"s2_f AS (SELECT cell, SUM(CAST(s AS HUGEINT) * s) AS s2 "
        f"FROM {prev} GROUP BY cell)",
        f"dots_f AS (SELECT vq.vec_id, c.cell, "
        f"SUM(CAST(vq.vi AS HUGEINT) * c.s) AS dot "
        f"FROM vq JOIN {prev} c USING (d) GROUP BY vq.vec_id, c.cell)",
        "scores_f AS (SELECT dt.vec_id, dt.cell, "
        "CAST(dt.dot AS DOUBLE) / sqrt(CAST(t.s2 AS DOUBLE)) AS score "
        "FROM dots_f dt JOIN s2_f t USING (cell))",
        "assign_f AS (SELECT vec_id, cell FROM (SELECT vec_id, cell, "
        "ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY score DESC, "
        "cell) AS rn FROM scores_f) WHERE rn = 1)",
    ]
    if with_counts:
        # float centroids as ordered lists: the exact integer mean
        # svec/(cnt*1e6), entry-identical to the Spark division
        ctes.append(
            f"centroids AS (SELECT c.cell, list(CAST(c.s AS DOUBLE) "
            f"/ (CAST(n.cnt AS DOUBLE) * 1e6) ORDER BY c.d) AS cv "
            f"FROM {prev} c JOIN {prevn} n USING (cell) GROUP BY c.cell)"
        )
    return ctes


def _ivf_oracle_sql(
    n_cells: int = 16,
    nprobe: int = 4,
    iters: int = 2,
    n_queries: int = 5,
    k: int = 5,
    dim: int = 64,
) -> str:
    """Full SQL replay of knn_ivf (r11): the integer-exact Lloyd
    training chain (:func:`_lloyd_ctes`), final cell assignment,
    nprobe probing, and in-cell cosine ranking, generated from the
    SAME constants the Spark operator uses. A trained vector index
    with a hash-green oracle — possible only because every training
    aggregate is an exact integer."""
    ctes = _lloyd_ctes(n_cells, iters, dim)
    ctes += [
        "probes AS (SELECT vec_id AS q_id, cell FROM ("
        "SELECT vec_id, cell, ROW_NUMBER() OVER (PARTITION BY vec_id "
        "ORDER BY score DESC, cell) AS rn FROM scores_f "
        f"WHERE vec_id < {n_queries}) WHERE rn <= {nprobe})",
        "cands AS (SELECT DISTINCT p.q_id, a.vec_id FROM probes p "
        "JOIN assign_f a USING (cell) WHERE a.vec_id <> p.q_id)",
        "corpus AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, "
        "sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), "
        "CAST(embedding AS DOUBLE[]))) AS v_norm FROM embeddings)",
        "scored AS (SELECT cd.q_id, cd.vec_id, "
        "ROUND(list_dot_product(cv.v, qv.v) / (cv.v_norm * qv.v_norm), "
        "6) AS cosine FROM cands cd "
        "JOIN corpus cv ON cd.vec_id = cv.vec_id "
        "JOIN corpus qv ON cd.q_id = qv.vec_id)",
    ]
    return (
        "WITH "
        + ",\n".join(ctes)
        + "\nSELECT q_id, vec_id, cosine, CAST(ROW_NUMBER() OVER ("
        'PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS BIGINT) AS "rank"'
        + f'\nFROM scored QUALIFY "rank" <= {k} ORDER BY q_id, "rank"'
    )


ORACLE_SQL["knn_ivf"] = _ivf_oracle_sql()

# r12: the recall METERS go oracle-green by composition — the exact /
# LSH / IVF replays embed verbatim as derived tables and only the
# confusion aggregate is new SQL. The ivf side regenerates the Lloyd
# chain at the report's SHARED coarse-quantizer size (IVF_PQ_N_CELLS
# = 8 cells — ann_recall_report trains one quantizer for ivf AND pq),
# not knn_ivf's standalone 16.
ORACLE_SQL["ann_recall_lsh_ivf"] = f"""
WITH exact AS (SELECT q_id, vec_id FROM ({ORACLE_SQL["knn_cosine"]})),
lsh AS (SELECT q_id, vec_id FROM ({ORACLE_SQL["knn_lsh"]})),
ivf AS (SELECT q_id, vec_id FROM ({_ivf_oracle_sql(n_cells=8)})),
tagged AS (SELECT 'lsh' AS method, q_id, vec_id FROM lsh
           UNION ALL SELECT 'ivf', q_id, vec_id FROM ivf),
nq AS (SELECT COUNT(DISTINCT q_id) AS n_q FROM exact),
stats AS (SELECT method, COUNT(*) AS retrieved,
          SUM(CASE WHEN e.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS hits
          FROM tagged t LEFT JOIN exact e
            ON t.q_id = e.q_id AND t.vec_id = e.vec_id
          GROUP BY method)
SELECT m.method, CAST(n_q AS BIGINT) AS n_queries,
  CAST(5 AS BIGINT) AS k,
  CAST(COALESCE(s.hits, 0) AS BIGINT) AS n_hits,
  ROUND(COALESCE(s.hits, 0) / CAST(n_q * 5 AS DOUBLE), 6) AS recall_at_k,
  ROUND(COALESCE(s.retrieved, 0) / CAST(n_q AS DOUBLE), 6)
    AS mean_retrieved
FROM (SELECT 'ivf' AS method UNION ALL SELECT 'lsh') m
CROSS JOIN nq LEFT JOIN stats s ON s.method = m.method
ORDER BY m.method
"""

# semantic_dedup / kmeans_embeddings (r12, rows-only -> oracle): the
# integer Lloyd chain replays exactly (knn_ivf precedent); the only
# float steps are list_cosine_similarity vs numpy dot/(|a||b|)
# (embedding_near_dup's hash-green precedent, ROUND(.,6) absorbs the
# summation-order ulps) and kmeans' AVG fold.
ORACLE_SQL["semantic_dedup"] = (
    "WITH "
    + ",\n".join(_lloyd_ctes(8, 3))
    + """,
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
assigned AS (SELECT a.vec_id, a.cell, e.v
             FROM assign_f a JOIN e USING (vec_id)),
cand AS (SELECT b.vec_id AS vid, a.vec_id AS did,
         ROUND(list_cosine_similarity(a.v, b.v), 6) AS cos
         FROM assigned a JOIN assigned b
           ON a.cell = b.cell AND a.vec_id < b.vec_id
         WHERE ROUND(list_cosine_similarity(a.v, b.v), 6) >= 0.35),
firstdup AS (SELECT vid, did, cos FROM (SELECT vid, did, cos,
        ROW_NUMBER() OVER (PARTITION BY vid ORDER BY did) AS rn
        FROM cand) WHERE rn = 1)
SELECT a.vec_id, CAST(a.cell AS INT) AS cluster,
       f.did IS NULL AS keep, f.did AS dup_of, f.cos AS cos_to_dup
FROM assigned a LEFT JOIN firstdup f ON a.vec_id = f.vid
ORDER BY a.vec_id
"""
)

ORACLE_SQL["kmeans_embeddings"] = (
    "WITH "
    + ",\n".join(_lloyd_ctes(8, 3, with_counts=True))
    + """,
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
coh AS (SELECT a.cell,
        CAST(ROUND(list_cosine_similarity(e.v, c.cv) * 1e6) AS BIGINT)
          AS mc
        FROM assign_f a JOIN e USING (vec_id)
        JOIN centroids c USING (cell))
SELECT CAST(cell AS INT) AS cluster, COUNT(*) AS n_vecs,
       ROUND(SUM(mc) / (COUNT(*) * 1e6), 6) AS mean_cohesion
FROM coh GROUP BY cell ORDER BY cluster
"""
)

def _bpe_train_ctes(n_merges: int = 12) -> list[str]:
    """SQL replay of text/bpe.py's ``learn_merges`` as chained CTEs
    (r12, rows-only -> oracle; the knn_ivf chained-training
    precedent). Faithfulness rests on two exact correspondences:

    - Merge application: Spark's ``_merge_fold`` is a greedy
      left-to-right NON-OVERLAPPING replacement over the symbol
      array. The string encoding joins symbols with TWO spaces and
      pads one sentinel space at each end, so a pair occurrence is
      the 1-space-padded pattern ``' l  r '`` and two ADJACENT
      occurrences (``... l r l r ...`` in the array) never share a
      character — each match owns its own boundary spaces. The
      r12 single-space encoding was wrong exactly here: back-to-back
      occurrences shared the boundary space, so global ``replace``
      merged only the first (advisor-verified on 'banana'/'aaaa');
      the fold merges both. The replacement ``' lr '`` restores the
      invariant (its edge spaces concatenate with the neighbours'
      into the 2-space separator), symbols cannot contain spaces so
      the pattern cannot match inside a symbol, and the merged
      symbol ``lr`` can never chain into a fresh match of the same
      round's pattern since that would need ``lr`` == ``l``.
      Pinned by tests/test_bpe_oracle_parity.py on 'banana'/'aaaa'
      corpora where the two encodings genuinely diverge.
    - The argmax tie-break (count DESC, l ASC, r ASC) compares
      strings bytewise in both engines.

    Every quantity is an integer or a string — no float enters the
    pipeline, so the replay is hash-exact by construction.

    CTEs are MATERIALIZED: each round references the previous word
    state twice (pair counts + rewrite), so the default inlining
    would expand the base scan 2^n_merges times.
    """
    ctes = [
        "bwords AS MATERIALIZED (SELECT word, CAST(COUNT(*) AS BIGINT)"
        " AS freq FROM (SELECT unnest(str_split(text, ' ')) AS word"
        " FROM documents) WHERE length(word) > 0 GROUP BY word)",
        # char symbols + the '</w>' end sentinel, TWO spaces between
        # symbols, one sentinel space on each side (bpe.py
        # _char_symbols; see the docstring for why two)
        "w0 AS MATERIALIZED (SELECT ' ' ||"
        " array_to_string(str_split(word, ''), '  ') || '  </w> '"
        " AS s, freq FROM bwords)",
    ]
    for i in range(1, n_merges + 1):
        p = i - 1
        ctes += [
            f"y{i} AS MATERIALIZED (SELECT str_split(trim(s), '  ')"
            f" AS y, freq FROM w{p})",
            f"p{i} AS MATERIALIZED (SELECT y[gi] AS l, y[gi + 1] AS r,"
            f" freq FROM (SELECT y, freq,"
            f" unnest(generate_series(1, len(y) - 1)) AS gi FROM y{i}))",
            f"b{i} AS MATERIALIZED (SELECT l, r,"
            f" CAST(SUM(freq) AS BIGINT) AS n FROM p{i} GROUP BY l, r"
            f" ORDER BY n DESC, l ASC, r ASC LIMIT 1)",
            f"w{i} AS MATERIALIZED (SELECT replace(s,"
            f" ' ' || (SELECT l FROM b{i}) || '  ' ||"
            f" (SELECT r FROM b{i}) || ' ',"
            f" ' ' || (SELECT l FROM b{i}) || (SELECT r FROM b{i})"
            f" || ' ') AS s, freq FROM w{p})",
        ]
    return ctes


def _bpe_learn_oracle_sql(n_merges: int = 12) -> str:
    """The learned merge table: one row per training round."""
    unions = "\nUNION ALL ".join(
        f'SELECT CAST({i} AS BIGINT) AS "rank", l AS "left",'
        f' r AS "right", l || r AS merged, n AS pair_count FROM b{i}'
        for i in range(1, n_merges + 1)
    )
    return (
        "WITH "
        + ",\n".join(_bpe_train_ctes(n_merges))
        + f'\nSELECT * FROM ({unions}) ORDER BY "rank"'
    )


def _bpe_token_count_oracle_sql(n_merges: int = 12) -> str:
    """Per-document token counts under the learned table. The encode
    loop (bpe.py ``encode_word``: repeatedly apply the LOWEST-RANK
    applicable merge with a full greedy pass, until none applies) is
    replayed LITERALLY by a recursive CTE over the distinct vocab —
    per generation each word finds its min applicable rank and
    rewrites once; a word leaves the recursion when no merge pattern
    occurs in its symbol string. No equivalence theorem about
    rank-ascending sweeps is assumed."""
    unions = " UNION ALL ".join(
        f'SELECT {i} AS "rank", l, r FROM b{i}'
        for i in range(1, n_merges + 1)
    )
    ctes = _bpe_train_ctes(n_merges)
    ctes += [
        f"merges AS MATERIALIZED ({unions})",
        # same 2-space symbol encoding as training (see
        # _bpe_train_ctes docstring) so a full greedy pass of the
        # chosen merge is ONE global replace
        "enc AS ("
        "SELECT word, ' ' ||"
        " array_to_string(str_split(word, ''), '  ') || '  </w> '"
        " AS s FROM (SELECT DISTINCT word FROM ("
        "SELECT unnest(str_split(text, ' ')) AS word FROM documents)"
        " WHERE length(word) > 0)"
        " UNION ALL "
        "SELECT t.word, replace(t.s,"
        " ' ' || m.l || '  ' || m.r || ' ', ' ' || m.l || m.r || ' ')"
        " FROM (SELECT word, s,"
        ' (SELECT MIN(m2."rank") FROM merges m2'
        " WHERE contains(s, ' ' || m2.l || '  ' || m2.r || ' ')) AS mr"
        " FROM enc) t"
        ' JOIN merges m ON m."rank" = t.mr)',
        "tok AS (SELECT word,"
        " CAST(len(str_split(trim(s), '  ')) AS BIGINT) AS word_tokens"
        " FROM enc WHERE NOT EXISTS (SELECT 1 FROM merges m"
        " WHERE contains(enc.s, ' ' || m.l || '  ' || m.r || ' ')))",
        "dw AS (SELECT doc_id, word FROM (SELECT doc_id,"
        " unnest(str_split(text, ' ')) AS word FROM documents)"
        " WHERE length(word) > 0)",
    ]
    return (
        "WITH RECURSIVE "
        + ",\n".join(ctes)
        + "\nSELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,"
        " CAST(SUM(word_tokens) AS BIGINT) AS n_tokens_bpe"
        " FROM dw JOIN tok USING (word) GROUP BY doc_id ORDER BY doc_id"
    )


ORACLE_SQL["bpe_learn"] = _bpe_learn_oracle_sql()
ORACLE_SQL["bpe_token_count"] = _bpe_token_count_oracle_sql()


def _pagerank_oracle_sql(
    d_num: int = 8500, n_iter: int = 12, top: int = 50
) -> str:
    """Full SQL replay of part_pagerank (r13, rows-only -> oracle; the
    knn_ivf/bpe_learn chained-training playbook). Possible because the
    Spark operator runs in INTEGER micro-units (operators/graph.py):
    each round's per-edge contribution is the half-away-rounded exact
    rational rank*w/w_out and damping applies as the rational
    (8500, 10000), so every round is a pure function of integers and
    replays as one MATERIALIZED CTE pair (in-mass aggregate + rank
    update). HUGEINT intermediates mirror Spark's decimal(38,0).
    The Spark side's convergence exit commutes: it only fires at an
    exact integer fixed point, where the oracle's remaining rounds
    are identity maps. MATERIALIZED throughout — each round reads the
    previous one once, and the default inlining would re-expand the
    basket self-join per round."""
    u = 1_000_000_000
    tele = ((10_000 - d_num) * u) // 10_000
    ctes = [
        "items AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey"
        " FROM lineitem)",
        "e0 AS MATERIALIZED (SELECT a.l_partkey AS src,"
        " b.l_partkey AS dst, CAST(COUNT(*) AS BIGINT) AS w"
        " FROM items a JOIN items b USING (l_orderkey)"
        " WHERE a.l_partkey < b.l_partkey GROUP BY 1, 2)",
        "edges AS MATERIALIZED (SELECT src, dst, w FROM e0"
        " UNION ALL SELECT dst, src, w FROM e0)",
        "outw AS MATERIALIZED (SELECT src, CAST(SUM(w) AS BIGINT)"
        " AS w_out FROM edges GROUP BY src)",
        "tr AS MATERIALIZED (SELECT e.src, e.dst, e.w, o.w_out"
        " FROM edges e JOIN outw o USING (src))",
        f"r0 AS MATERIALIZED (SELECT DISTINCT src AS pid,"
        f" CAST({u} AS BIGINT) AS r FROM edges)",
    ]
    for i in range(1, n_iter + 1):
        p = i - 1
        ctes += [
            f"m{i} AS MATERIALIZED (SELECT t.dst AS pid,"
            f" CAST(SUM((2 * CAST(r.r AS HUGEINT) * t.w + t.w_out)"
            f" // (2 * t.w_out)) AS BIGINT) AS in_mass"
            f" FROM tr t JOIN r{p} r ON t.src = r.pid GROUP BY t.dst)",
            f"r{i} AS MATERIALIZED (SELECT p.pid, CAST({tele} +"
            f" (2 * {d_num} * CAST(COALESCE(m.in_mass, 0) AS HUGEINT)"
            f" + 10000) // 20000 AS BIGINT) AS r"
            f" FROM r{p} p LEFT JOIN m{i} m USING (pid))",
        ]
    ppm = u // 1_000_000
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT pid, CAST((2 * r + {ppm}) // {2 * ppm} AS BIGINT)"
        f" AS rank_ppm FROM r{n_iter}"
        f" ORDER BY rank_ppm DESC, pid LIMIT {top}"
    )


ORACLE_SQL["part_pagerank"] = _pagerank_oracle_sql()


def _media_near_dup_oracle_sql(threshold: float = 0.999, dim: int = 64) -> str:
    """Full SQL replay of media_embedding_near_dup (r12). The payload
    is encode(text) and the embedding is an exact integer object —
    the L2-normalized byte-BIGRAM histogram: hex(encode(text)) gives
    the bytes, the histogram counts are integers, the norm is the
    sqrt of an exact integer sum, so the vector entries are
    bit-identical doubles in both engines. The blocking REPLAYS AT
    p=1: the grid guarantee makes the thresholded pair set invariant
    to the axis count, so the oracle needs one inlined LCG axis no
    matter what the Spark side's density-adaptive p chose. Cosine is
    ROUND(list_dot_product(unit, unit), 6) — the embedding_near_dup
    hash-green precedent."""
    import math

    from metevents_spark.multimodal.media import _lcg_unit

    w = math.sqrt(2.0 * max(1.0 - threshold, 1e-12))
    axis = "[" + ", ".join(repr(a) for a in _lcg_unit(1, dim)) + "]"
    return f"""
WITH grp AS (SELECT doc_id, text,
       MIN(doc_id) OVER (PARTITION BY md5(text)) AS rep_id
     FROM documents),
member_rep AS (SELECT doc_id, rep_id FROM grp),
reps AS (SELECT doc_id, text FROM grp WHERE doc_id = rep_id),
payload AS (SELECT doc_id,
       hex(encode(text))
         || repeat('00', greatest(2 - octet_length(encode(text)), 0))
         AS hx
     FROM reps),
bpos AS (SELECT doc_id, hx,
       unnest(range(1, len(hx) // 2 + 1)) AS i
     FROM payload),
bvals AS (SELECT doc_id, i,
       ('0x' || substr(hx, 2 * i - 1, 2))::BIGINT AS b
     FROM bpos),
bigr AS (SELECT a.doc_id, (a.b * 31 + c.b) % {dim} AS bin
     FROM bvals a JOIN bvals c
       ON a.doc_id = c.doc_id AND c.i = a.i + 1),
hist AS (SELECT doc_id, bin, COUNT(*) AS c FROM bigr
     GROUP BY doc_id, bin),
bins AS (SELECT unnest(range({dim})) AS bin),
dense AS (SELECT r.doc_id, b.bin, COALESCE(h.c, 0) AS c
     FROM reps r CROSS JOIN bins b
     LEFT JOIN hist h ON h.doc_id = r.doc_id AND h.bin = b.bin),
nrm AS (SELECT doc_id, sqrt(CAST(SUM(c * c) AS DOUBLE)) AS n2
     FROM dense GROUP BY doc_id),
vecs AS (SELECT d.doc_id,
       list(CASE WHEN n.n2 > 0 THEN CAST(d.c AS DOUBLE) / n.n2
                 ELSE CAST(d.c AS DOUBLE) END ORDER BY d.bin) AS v
     FROM dense d JOIN nrm n USING (doc_id) GROUP BY d.doc_id, n.n2),
cells AS (SELECT doc_id, v,
       CAST(FLOOR(list_dot_product(v, {axis}) / {w!r}) AS INT) AS cell
     FROM vecs),
rp AS (SELECT a.doc_id AS rep_a, b.doc_id AS rep_b,
       ROUND(list_dot_product(a.v, b.v), 6) AS cosine
     FROM cells a JOIN cells b
       ON a.doc_id < b.doc_id AND b.cell BETWEEN a.cell - 1 AND a.cell + 1
     WHERE ROUND(list_dot_product(a.v, b.v), 6) >= {threshold}),
cross_pairs AS (SELECT least(ma.doc_id, mb.doc_id) AS doc_a,
       greatest(ma.doc_id, mb.doc_id) AS doc_b, rp.cosine
     FROM rp JOIN member_rep ma ON ma.rep_id = rp.rep_a
     JOIN member_rep mb ON mb.rep_id = rp.rep_b),
intra AS (SELECT m1.doc_id AS doc_a, m2.doc_id AS doc_b,
       1.0 AS cosine
     FROM member_rep m1 JOIN member_rep m2
       ON m1.rep_id = m2.rep_id AND m1.doc_id < m2.doc_id)
SELECT doc_a, doc_b, cosine FROM cross_pairs
UNION ALL SELECT doc_a, doc_b, cosine FROM intra
ORDER BY doc_a, doc_b
"""


ORACLE_SQL["media_embedding_near_dup"] = _media_near_dup_oracle_sql()

# dedup_recall_report: ground truth (exact 3-shingle Jaccard over the
# md5-deterministic 200-rep sample) is plain SQL, and the predicted
# side IS the minhash_near_dup replay restricted to sampled pairs —
# so the meter measures the deployed path in BOTH engines. f1 uses
# the unrounded precision/recall exactly as the Spark expression does.
ORACLE_SQL["dedup_recall_report"] = f"""
WITH pred_full AS (
  SELECT doc_a, doc_b FROM ({ORACLE_SQL["minhash_near_dup"]})),
grp2 AS (SELECT doc_id, text,
         MIN(doc_id) OVER (PARTITION BY md5(text)) AS rep_id
         FROM documents),
picked AS (SELECT doc_id, text FROM grp2 WHERE doc_id = rep_id
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id LIMIT 200),
sh2 AS (SELECT doc_id, list_distinct(list_transform(
          range(1, greatest(len(string_split(text, ' ')) - 2, 1) + 1),
          i -> array_to_string(
            list_slice(string_split(text, ' '), i, i + 2), ' '))) AS sh
        FROM picked),
truth AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM sh2 a JOIN sh2 b ON a.doc_id < b.doc_id
          WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                / len(list_distinct(a.sh || b.sh)) >= 0.5),
pred AS (SELECT p.doc_a, p.doc_b FROM pred_full p
         JOIN picked pa ON p.doc_a = pa.doc_id
         JOIN picked pb ON p.doc_b = pb.doc_id),
conf AS (SELECT
  (SELECT COUNT(*) FROM truth) AS n_true_pairs,
  (SELECT COUNT(*) FROM pred) AS n_pred_pairs,
  (SELECT COUNT(*) FROM truth t JOIN pred p
     ON t.doc_a = p.doc_a AND t.doc_b = p.doc_b) AS true_positives)
SELECT CAST(200 AS BIGINT) AS n_sample,
  CAST(n_true_pairs AS BIGINT) AS n_true_pairs,
  CAST(n_pred_pairs AS BIGINT) AS n_pred_pairs,
  CAST(true_positives AS BIGINT) AS true_positives,
  ROUND(CASE WHEN n_pred_pairs > 0
        THEN true_positives / CAST(n_pred_pairs AS DOUBLE) END, 6)
    AS "precision",
  ROUND(CASE WHEN n_true_pairs > 0
        THEN true_positives / CAST(n_true_pairs AS DOUBLE) END, 6)
    AS recall,
  ROUND(CASE WHEN n_pred_pairs > 0 AND n_true_pairs > 0
         AND (true_positives / CAST(n_pred_pairs AS DOUBLE)
              + true_positives / CAST(n_true_pairs AS DOUBLE)) > 0
        THEN 2 * (true_positives / CAST(n_pred_pairs AS DOUBLE))
               * (true_positives / CAST(n_true_pairs AS DOUBLE))
             / (true_positives / CAST(n_pred_pairs AS DOUBLE)
                + true_positives / CAST(n_true_pairs AS DOUBLE)) END, 6)
    AS f1
FROM conf
"""

# shared point-subsample CTE chain for the sampled rank estimators —
# the same 60-bit md5 grid as hash_sample / the bootstrap, with the
# per-series keep probability least(1, 48/n_s) evaluated in identical
# float ops on both engines (cap 48 = the operators' default)
_SAMPLED_PTS = f"""{_SERIES},
clean AS (SELECT sid, seq, ts, value AS y FROM series
          WHERE value IS NOT NULL AND NOT isnan(value)),
pts AS (SELECT sid,
        ROW_NUMBER() OVER (PARTITION BY sid ORDER BY ts, seq) AS rn,
        epoch_us(ts) AS us, y,
        COUNT(*) OVER (PARTITION BY sid) AS n_s
        FROM clean),
kept AS (SELECT sid, rn, us, y FROM pts
         WHERE ('0x' || substr(md5(sid || ':' || rn::VARCHAR), 1, 15))::BIGINT
               < CAST(FLOOR(LEAST(1.0, 48.0 / CAST(n_s AS DOUBLE))
                            * 1152921504606846976.0) AS BIGINT))"""

ORACLE_SQL["theilsen_trend_sampled"] = f"""
WITH {_SAMPLED_PTS},
pairs AS (SELECT a.sid,
          (b.y - a.y) * 3.6e9 / CAST(b.us - a.us AS DOUBLE) AS slope
          FROM kept a JOIN kept b
          ON a.sid = b.sid AND a.rn < b.rn AND b.us > a.us)
SELECT sid, COUNT(*) AS n_pairs,
       ROUND(MEDIAN(slope), 6) AS theil_slope_per_hour
FROM pairs GROUP BY sid ORDER BY sid
"""

ORACLE_SQL["kendall_trend_sampled"] = f"""
WITH {_SAMPLED_PTS},
pairs AS (SELECT a.sid,
          CASE WHEN b.y > a.y THEN 1 ELSE 0 END AS c,
          CASE WHEN b.y < a.y THEN 1 ELSE 0 END AS d,
          CASE WHEN b.y = a.y THEN 1 ELSE 0 END AS t
          FROM kept a JOIN kept b
          ON a.sid = b.sid AND a.rn < b.rn),
agg AS (SELECT sid, COUNT(*) AS n0, SUM(c) AS nc, SUM(d) AS nd,
        SUM(t) AS nt FROM pairs GROUP BY sid)
SELECT sid, CAST(n0 AS BIGINT) AS n_pairs,
  CAST(nc AS BIGINT) AS concordant, CAST(nd AS BIGINT) AS discordant,
  ROUND(CAST(nc - nd AS DOUBLE)
        / NULLIF(sqrt(CAST((n0 - nt) * n0 AS DOUBLE)), 0), 6)
    AS kendall_tau
FROM agg ORDER BY sid
"""

ORACLE_SQL["mann_whitney_u_bucketed"] = """
WITH ev AS (SELECT event_type, value FROM events
            WHERE value IS NOT NULL AND NOT isnan(value)),
grps AS (SELECT DISTINCT event_type AS grp FROM ev
         WHERE event_type <> 'view'),
b AS (SELECT MIN(value) AS vmin, MAX(value) AS vmax FROM ev),
samp AS (SELECT g.grp, e.event_type,
         CASE WHEN b.vmax = b.vmin THEN 0
              ELSE CAST(LEAST(255, FLOOR((e.value - b.vmin)
                   / (b.vmax - b.vmin) * 256.0)) AS BIGINT)
         END AS bkt
         FROM grps g
         JOIN ev e ON e.event_type = g.grp OR e.event_type = 'view'
         CROSS JOIN b),
cells AS (SELECT grp, bkt,
          SUM(CASE WHEN event_type = grp THEN 1 ELSE 0 END) AS na_b,
          COUNT(*) AS t
          FROM samp GROUP BY grp, bkt),
ranked AS (SELECT grp, na_b, t,
    CAST(SUM(t) OVER (PARTITION BY grp ORDER BY bkt
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - t AS DOUBLE)
      + CAST(t + 1 AS DOUBLE) / 2.0 AS midrank
    FROM cells),
agg AS (SELECT grp, SUM(na_b) AS n_a, SUM(t - na_b) AS n_b,
        SUM(CAST(na_b AS DOUBLE) * midrank) AS r_a,
        -- HUGEINT: BIGINT t*t*t raises past t ~ 2.1e6 (the Spark
        -- side folds the same exact value in decimal(38,0))
        SUM(CAST(t AS HUGEINT) * t * t - t) AS ties3
        FROM ranked GROUP BY grp)
SELECT grp, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
  r_a - CAST(n_a * (n_a + 1) AS DOUBLE) / 2.0 AS u_a,
  ROUND((r_a - CAST(n_a * (n_a + 1) AS DOUBLE) / 2.0
         - CAST(n_a * n_b AS DOUBLE) / 2.0)
    / NULLIF(sqrt(CAST(n_a * n_b AS DOUBLE) / 12.0
        * (CAST(n_a + n_b + 1 AS DOUBLE)
           - CAST(ties3 AS DOUBLE)
             / CAST((n_a + n_b) * (n_a + n_b - 1) AS DOUBLE))), 0), 6) AS z
FROM agg ORDER BY grp
"""

ORACLE_SQL["conversion_bootstrap_ci"] = f"""
WITH s AS (SELECT user_id, MIN(ts) AS signup_ts FROM events
           WHERE event_type = 'signup' GROUP BY user_id),
p AS (SELECT DISTINCT e.user_id
      FROM events e JOIN s ON e.user_id = s.user_id
      WHERE e.event_type = 'purchase' AND e.ts >= s.signup_ts
        AND epoch_us(e.ts) - epoch_us(s.signup_ts) <= 86400000000),
users AS (SELECT CAST(s.user_id AS BIGINT) AS user_id,
          CASE WHEN p.user_id IS NOT NULL THEN 1 ELSE 0 END AS conv
          FROM s LEFT JOIN p ON s.user_id = p.user_id),
expl AS (SELECT user_id, conv, CAST(r.rep AS BIGINT) AS rep
         FROM users CROSS JOIN (SELECT unnest(range(200)) AS rep) r),
h AS (SELECT conv, rep,
      ('0x' || substr(md5(user_id::VARCHAR || ':' || rep::VARCHAR),
                      1, 15))::BIGINT AS h60
      FROM expl),
w AS (SELECT rep, conv,
      {_POISSON1_CASE} AS wt
      FROM h),
pr AS (SELECT rep, SUM(wt * conv) AS num, SUM(wt) AS den
       FROM w GROUP BY rep),
rates AS (SELECT CAST(num AS DOUBLE) / NULLIF(CAST(den AS DOUBLE), 0)
          AS rate FROM pr),
pt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(SUM(conv) AS BIGINT) AS n_converted,
       ROUND(CAST(SUM(conv) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
         AS p_hat FROM users),
ci AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_replicates,
       ROUND(quantile_cont(rate, 0.025), 6) AS ci_lo,
       ROUND(quantile_cont(rate, 0.975), 6) AS ci_hi FROM rates)
SELECT n_users, n_converted, p_hat, ci_lo, ci_hi, n_replicates
FROM pt CROSS JOIN ci
"""

ORACLE_SQL["audience_overlap"] = """
WITH tu AS (SELECT DISTINCT event_type, user_id FROM events),
sizes AS (SELECT event_type, COUNT(*) AS n FROM tu GROUP BY event_type),
inter AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
          COUNT(*) AS n_both
          FROM tu a JOIN tu b
          ON a.user_id = b.user_id AND a.event_type < b.event_type
          GROUP BY a.event_type, b.event_type)
SELECT type_a, type_b,
  CAST(na.n AS BIGINT) AS n_a, CAST(nb.n AS BIGINT) AS n_b,
  CAST(n_both AS BIGINT) AS n_both,
  ROUND(CAST(n_both AS DOUBLE)
        / CAST(na.n + nb.n - n_both AS DOUBLE), 6) AS jaccard
FROM inter
JOIN sizes na ON na.event_type = type_a
JOIN sizes nb ON nb.event_type = type_b
ORDER BY type_a, type_b
"""

ORACLE_SQL["ship_delay_quantiles"] = """
WITH j AS (
  SELECT o_orderpriority AS priority,
         epoch_us(l_shipdate) - epoch_us(o_orderdate) AS delay_us,
         CAST(epoch_us(l_shipdate) - epoch_us(o_orderdate) AS DOUBLE)
           / 86400000000.0 AS delay_days
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
SELECT priority, COUNT(*) AS n_lines,
  ROUND(CAST(SUM(delay_us) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
        / 86400000000.0, 6) AS mean_days,
  ROUND(quantile_cont(delay_days, 0.5), 6) AS p50_days,
  ROUND(quantile_cont(delay_days, 0.9), 6) AS p90_days,
  ROUND(quantile_cont(delay_days, 0.99), 6) AS p99_days
FROM j GROUP BY priority ORDER BY priority
"""

ORACLE_SQL["copurchase_bfs_hops"] = """
WITH items AS MATERIALIZED (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
edges AS MATERIALIZED (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM items a JOIN items b ON a.l_orderkey = b.l_orderkey
  WHERE a.l_partkey <> b.l_partkey),
seed AS MATERIALIZED (SELECT u AS p FROM (
  SELECT u, COUNT(*) AS d FROM edges
  GROUP BY u ORDER BY d DESC, u LIMIT 1)),
d1 AS MATERIALIZED (
  SELECT DISTINCT e.v AS p FROM edges e JOIN seed s ON e.u = s.p
  WHERE NOT EXISTS (SELECT 1 FROM seed x WHERE x.p = e.v)),
d2 AS MATERIALIZED (
  SELECT DISTINCT e.v AS p FROM edges e JOIN d1 ON e.u = d1.p
  WHERE NOT EXISTS (SELECT 1 FROM seed x WHERE x.p = e.v)
    AND NOT EXISTS (SELECT 1 FROM d1 x WHERE x.p = e.v)),
d3 AS MATERIALIZED (
  SELECT DISTINCT e.v AS p FROM edges e JOIN d2 ON e.u = d2.p
  WHERE NOT EXISTS (SELECT 1 FROM seed x WHERE x.p = e.v)
    AND NOT EXISTS (SELECT 1 FROM d1 x WHERE x.p = e.v)
    AND NOT EXISTS (SELECT 1 FROM d2 x WHERE x.p = e.v))
SELECT p AS p_partkey, CAST(h AS BIGINT) AS hops FROM (
  SELECT p, 0 AS h FROM seed
  UNION ALL SELECT p, 1 FROM d1
  UNION ALL SELECT p, 2 FROM d2
  UNION ALL SELECT p, 3 FROM d3)
ORDER BY hops, p_partkey
"""
# ^ r12: MATERIALIZED + NOT EXISTS. The original un-materialized form
# inlined d1/d2 (and through them the 24M-row edges build) into every
# NOT IN branch of d3 — DuckDB re-computed the edge self-join up to
# seven times and spilled >80 GB at the x10 scale (the one sweep
# failure); frontier semantics are unchanged (partkeys are never
# NULL, so NOT EXISTS == NOT IN here), sf0.01 hash unchanged.

ORACLE_SQL["dedup_rate_by_source"] = """
WITH d AS (SELECT source, md5(substr(text, 1, 64)) AS dig FROM documents),
c AS (SELECT dig, COUNT(*) AS n FROM d GROUP BY dig)
SELECT source, COUNT(*) AS n_docs,
  CAST(SUM(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
  ROUND(CAST(SUM(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS DOUBLE)
        / CAST(COUNT(*) AS DOUBLE), 6) AS dup_rate
FROM d JOIN c ON d.dig = c.dig GROUP BY source ORDER BY source
"""

# Insertion order matters: the verification driver checks the FIRST 50
# entries, so slot assignment is a deliberate rotation policy. The
# dict below holds the full registry in historical order; the explicit
# _DRIVER_WINDOW list after it (re)orders the front of the dict each
# round — edit THAT list to rotate, not the dict.
QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "extreme_value": q_extreme_value,
    "flat_line": q_flat_line,
    "extreme_change": q_extreme_change,
    "data_gap": q_data_gap,
    "freq_infer": q_freq_infer,
    "embedding_covariance": embedding_covariance,
    "events_above_type_avg": events_above_type_avg,
    "rrf_fusion": rrf_fusion,
    "chi2_terms": chi2_terms,
    "classifier_calibration": classifier_calibration,
    "doc_containment": doc_containment,
    "part_pagerank": part_pagerank,
    "purchase_attribution": purchase_attribution,
    "model_select_backtest": model_select_backtest,
    "ab_test_report": ab_test_report,
    "source_mix_sample": source_mix_sample,
    "stratified_sample": stratified_sample,
    "unigram_logprob": unigram_logprob,
    "user_reach": user_reach,
    "value_drift_psi": value_drift_psi,
    "value_histogram": value_histogram,
    "knn_lsh": knn_lsh,
    "knn_ivf": knn_ivf,
    "theilsen_trend": theilsen_trend,
    "theilsen_trend_sampled": theilsen_trend_sampled,
    "spearman_trend": spearman_trend,
    "mann_whitney_u": mann_whitney_u,
    "mann_whitney_u_bucketed": mann_whitney_u_bucketed,
    "kendall_trend_sampled": kendall_trend_sampled,
    "skew_join_compare": skew_join_compare,
    "revenue_gini": revenue_gini,
    "conversion_lag": conversion_lag,
    "copurchase_triangles": copurchase_triangles,
    "oov_rate": oov_rate,
    "dedup_survivor_pick": dedup_survivor_pick,
    "hard_negative_mining": hard_negative_mining,
    "kendall_trend": kendall_trend,
    "conversion_bootstrap_ci": conversion_bootstrap_ci,
    "audience_overlap": audience_overlap,
    "ship_delay_quantiles": ship_delay_quantiles,
    "copurchase_bfs_hops": copurchase_bfs_hops,
    "dedup_rate_by_source": dedup_rate_by_source,
    "anomaly_consensus": anomaly_consensus,
    "asof_purchase_before_error": q_asof_purchase_before_error,
    "bm25_rank": bm25_rank,
    "bpe_pair_counts": bpe_pair_counts,
    "classifier_score": classifier_score,
    "corpus_yield": corpus_yield,
    "duplicate_spans": duplicate_spans,
    "embedding_near_dup": embedding_near_dup,
    "exact_dedup": exact_dedup,
    "gap_fill_hourly": gap_fill_hourly,
    "hash_sample": hash_sample,
    "holdout_split": holdout_split,
    "important_parts": important_parts,
    "knn_cosine": knn_cosine,
    "large_volume_customers": large_volume_customers,
    "latest_event_per_user": latest_event_per_user,
    "media_features": q_media_features,
    "min_cost_supplier": min_cost_supplier,
    "nation_market_share": nation_market_share,
    "normalize_text": normalize_text,
    "part_supplier_counts": part_supplier_counts,
    "pricing_summary": pricing_summary,
    "product_type_profit": product_type_profit,
    "random_projection": random_projection,
    "region_revenue": region_revenue,
    "remove_duplicate_spans": remove_duplicate_spans,
    "rich_idle_customers": rich_idle_customers,
    "seasonal_decompose": seasonal_decompose,
    "series_acf": series_acf,
    "sole_return_supplier": sole_return_supplier,
    "text_stats": text_stats,
    "top_supplier": top_supplier,
    "winsorize_series": winsorize_series,
    "spike_valley": q_spike_valley,
    "market_basket_lift": market_basket_lift,
    "rolling_median": rolling_median,
    "interval_coverage": interval_coverage,
    "weighted_sample": weighted_sample,
    "user_reach_kmv": user_reach_kmv,
    "key_skew_report": key_skew_report,
    "holt_backtest": holt_backtest,
    "survival_retention": survival_retention,
    "mutual_information": mutual_information,
    "benford_deviation": benford_deviation,
    "score_percentile_by_source": score_percentile_by_source,
    "source_weighted_sample": source_weighted_sample,
    "interarrival_stats": interarrival_stats,
    "burst_collapse": burst_collapse,
    "region_nation_rollup": region_nation_rollup,
    "region_nations_csv": region_nations_csv,
    "downsample_ohlc": downsample_ohlc,
    "edit_distance_pairs": edit_distance_pairs,
    "embedding_quantize": embedding_quantize,
    "event_type_corr": event_type_corr,
    "funnel_conversion": funnel_conversion,
    "heavy_shippers": heavy_shippers,
    "label_centroids": label_centroids,
    "lineitem_unpivot": lineitem_unpivot,
    "loyal_customers": loyal_customers,
    "media_dedup": q_media_dedup,
    "nation_revenue_share": nation_revenue_share,
    "pii_redact": pii_redact,
    "promo_revenue_pct": promo_revenue_pct,
    "props_value_stats": props_value_stats,
    "quality_bucket_sample": quality_bucket_sample,
    "repetition_stats": repetition_stats,
    "retention_cohorts": retention_cohorts,
    "returned_item_customers": returned_item_customers,
    "rolling_7d_active": rolling_7d_active,
    "seasonal_anomaly": seasonal_anomaly,
    "sequence_pack": sequence_pack,
    "series_quantile_bands": series_quantile_bands,
    "series_trend": series_trend,
    "session_overlap": q_session_overlap,
    "shipmode_priority_counts": shipmode_priority_counts,
    "shipping_priority": shipping_priority,
    "source_lang_matrix": source_lang_matrix,
    "ann_recall_report": ann_recall_report,
    "ann_recall_lsh_ivf": ann_recall_lsh_ivf,
    "zscore_anomaly": zscore_anomaly,
    "robust_zscore": robust_zscore,
    "event_pair_lift": event_pair_lift,
    "data_expectations": data_expectations,
    "events_cube": events_cube,
    "token_count_bpe": token_count_bpe,
    "bigram_logprob": bigram_logprob,
    "cooccurrence_counts": cooccurrence_counts,
    "corpus_summary": corpus_summary,
    "cross_doc_ngram_share": cross_doc_ngram_share,
    "customer_order_distribution": customer_order_distribution,
    "cusum_alarm": cusum_alarm,
    "decontaminate_ngram": decontaminate_ngram,
    "discounted_revenue": discounted_revenue,
    "disjunctive_part_revenue": disjunctive_part_revenue,
    "doc_chunking": doc_chunking,
    "domain_stats": domain_stats,
    "bpe_learn": bpe_learn,
    "bpe_token_count": bpe_token_count,
    "event_transitions": event_transitions,
    "top_paths": top_paths,
    "storm_find": q_storm_find,
    "simhash_fingerprints": simhash_fingerprints,
    "simhash_near_dup": simhash_near_dup,
    "minhash_near_dup": q_minhash_near_dup,
    "dedup_clusters": dedup_clusters,
    "decontaminate_bloom": decontaminate_bloom,
    "incremental_dedup": incremental_dedup,
    "importance_resample": importance_resample,
    "boilerplate_phrases": boilerplate_phrases,
    "ngram_novelty": ngram_novelty,
    "contamination_fraction": contamination_fraction,
    "time_weighted_avg": time_weighted_avg,
    "counter_rate": counter_rate,
    "pareto_parts": pareto_parts,
    "pca_embeddings": pca_embeddings,
    "token_entropy": token_entropy,
    "source_token_kl": source_token_kl,
    "dominant_part_suppliers": dominant_part_suppliers,
    "ks_drift": ks_drift,
    "rolling_reach_hll": rolling_reach_hll,
    "nation_yoy_growth": nation_yoy_growth,
    "embedding_whitening": embedding_whitening,
    "mad_drift": mad_drift,
    "gopher_quality": q_gopher_quality,
    "url_canonicalize": q_url_canonicalize,
    "paragraph_dedup": q_paragraph_dedup,
    "mixture_plan": q_mixture_plan,
    "temperature_mixture": temperature_mixture,
    "shuffle_shards": shuffle_shards,
    "zipf_fit": zipf_fit,
    "dedup_recall_report": dedup_recall_report,
    "knn_ivf_pq": knn_ivf_pq,
    "ewma_smooth": ewma_smooth,
    "holt_smooth": holt_smooth,
    "frame_sample": q_frame_sample,
    "media_resize": q_media_resize,
    "lttb_downsample": lttb_downsample,
    "sessionize": q_sessionize,
    "tfidf_top_terms": tfidf_top_terms,
    "daily_rollup": daily_rollup,
    "revenue_topn": revenue_topn,
    "top_customers_per_segment": top_customers_per_segment,
    "lang_id": lang_id,
    "doc_fingerprint": doc_fingerprint,
    "prefix_dedup": prefix_dedup,
    "embedding_norms": embedding_norms,
    "range_join_error_purchase": q_range_join_error_purchase,
    "order_priority_check": order_priority_check,
    "nation_segment_rollup": nation_segment_rollup,
    "nation_trade_flow": nation_trade_flow,
    "brand_revenue": brand_revenue,
    "value_quantiles": value_quantiles,
    "events_pivot": events_pivot,
    "top_price_orders": top_price_orders,
    "brand_supplier_stats": brand_supplier_stats,
    "ngram_jaccard_pairs": ngram_jaccard_pairs,
    "rolling_fingerprint": rolling_fingerprint,
    "customers_no_order_1996": customers_no_order_1996,
    "big_spender_1995": big_spender_1995,
    "repeat_customers": repeat_customers,
    "churned_customers": churned_customers,
    "small_qty_part_revenue": small_qty_part_revenue,
    "cumulative_revenue": cumulative_revenue,
    "vocab_top_terms": vocab_top_terms,
    "quality_filter": quality_filter,
    "rolling_mean": rolling_mean,
    "trailing_24h_mean": trailing_24h_mean,
    "price_deciles": price_deciles,
    "media_embedding_near_dup": media_embedding_near_dup,
    "semantic_dedup": semantic_dedup,
    "kmeans_embeddings": kmeans_embeddings,
    "user_reach_approx": user_reach_approx,
    "corpus_summary_approx": corpus_summary_approx,
    "vocab_top_terms_approx": vocab_top_terms_approx,
    "value_quantiles_approx": value_quantiles_approx,
}

# ROTATION (round 14): the r13 verdict's item 6 — the driver has
# never hash-checked most of the r13 sweep-rewritten keys (their last
# driver rows predate the rewrites, r09-r12); this window routes the
# sample straight at them. Composition:
#   * slots 1-5: the SURVEY §2 reference detectors (parity core,
#     checked every round);
#   * slots 6-7: the two oracle-backed kernels REWRITTEN this round
#     and re-earning green rows — part_pagerank (adjacency-list cache
#     + batched tol=0 convergence) and media_embedding_near_dup
#     (histogram-binary cell shuffle);
#   * slots 8-45: the r13-sweep/rank/window-rewrite cohort whose last
#     driver row predates its rewrite, stalest-first (r09 cohort,
#     then r10, r11, r12; alphabetical within a round).
#     rolling_reach_hll belongs to the cohort but is rows-only and
#     already rowed, hence excluded per the rows-only rule
#     (tests/test_oracle_parity.py pins this);
#   * slots 46-50: the stalest remaining oracle-backed keys (r09,
#     alphabetical).
# Everything oracle-backed is ALSO pinned by tests/test_oracle_parity
# (same row-count/schema/value-hash comparison vs DuckDB at sf0.001,
# runs in every pytest suite); rows-only ops by their golden /
# differential tests.
_WINDOW_ROUND = 14  # the round this window was written for
_DRIVER_WINDOW = [
    "extreme_value",
    "flat_line",
    "extreme_change",
    "data_gap",
    "freq_infer",
    "part_pagerank",
    "media_embedding_near_dup",
    "edit_distance_pairs",
    "event_type_corr",
    "holt_backtest",
    "interval_coverage",
    "key_skew_report",
    "lineitem_unpivot",
    "mutual_information",
    "region_nation_rollup",
    "retention_cohorts",
    "rolling_7d_active",
    "sequence_pack",
    "series_quantile_bands",
    "survival_retention",
    "user_reach_kmv",
    "audience_overlap",
    "bm25_rank",
    "conversion_bootstrap_ci",
    "dedup_rate_by_source",
    "dedup_survivor_pick",
    "doc_containment",
    "kendall_trend",
    "spearman_trend",
    "theilsen_trend",
    "unigram_logprob",
    "churned_customers",
    "important_parts",
    "kendall_trend_sampled",
    "skew_join_compare",
    "text_stats",
    "theilsen_trend_sampled",
    "winsorize_series",
    "gopher_quality",
    "lang_id",
    "ngram_jaccard_pairs",
    "repeat_customers",
    "semantic_dedup",
    "small_qty_part_revenue",
    "tfidf_top_terms",
    "downsample_ohlc",
    "embedding_quantize",
    "funnel_conversion",
    "heavy_shippers",
    "interarrival_stats",
]
assert len(_DRIVER_WINDOW) == 50 and len(set(_DRIVER_WINDOW)) == 50
QUERIES = {k: QUERIES[k] for k in _DRIVER_WINDOW} | {
    k: v for k, v in QUERIES.items() if k not in set(_DRIVER_WINDOW)
}


def _releasing(fn: Callable[..., DataFrame]) -> Callable[..., DataFrame]:
    """Release the previous query's tracked persists before building
    this one (see metevents_spark.cache), and pin the runtime session
    confs (UTC timezone, AQE, Arrow) on EVERY entry — the driver hands
    us its own SparkSession, and epoch math (timeutil.epoch_us) is
    only correct in a UTC session. This wrapper is the one place that
    calls tune_session, so a registry query must be called through
    ``QUERIES``, not as its bare ``q_*`` function.
    Callers — the correctness driver, bench.py, check_oracle —
    materialize one query at a time, so anything still cached belongs
    to an already-consumed result."""
    import functools

    @functools.wraps(fn)
    def wrapper(spark: SparkSession, sf_dir: str, **kw) -> DataFrame:
        tune_session(spark)
        release_all()
        return fn(spark, sf_dir, **kw)

    return wrapper


QUERIES = {name: _releasing(fn) for name, fn in QUERIES.items()}


def register_operator_views(
    spark: SparkSession, sf_dir: str, names: list[str] | None = None
) -> list[str]:
    """Expose registry queries as SQL temp views (``q_<name>``), so the
    whole operator surface is reachable from ``spark.sql`` — e.g.
    ``SELECT * FROM q_corpus_summary WHERE dup_share > 0``. A temp view
    is a named logical plan: Catalyst folds view access into the
    caller's query, so filter pushdown / column pruning / AQE apply
    through the view exactly as through the DataFrame API.

    Default scope is every ORACLE_SQL-backed query — those build pure
    lazy plans. Rows-only queries are excluded by default because some
    materialize driver state while BUILDING the plan (the clustering
    loop, IVF centroid fetch); pass ``names`` to opt in explicitly.
    """
    chosen = names if names is not None else list(ORACLE_SQL)
    registered = []
    for name in chosen:
        QUERIES[name](spark, sf_dir).createOrReplaceTempView(f"q_{name}")
        registered.append(f"q_{name}")
    return registered
