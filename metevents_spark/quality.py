"""Declarative data-quality expectations and table maintenance.

The reference validates inputs only implicitly (detector preconditions
on the pandas frame); a production table needs explicit, cheap,
always-on checks. `expect` evaluates a rule set in ONE pass — every
rule folds into the same partial aggregate, so a 100-rule suite over a
100 TB table still costs exactly one scan and one single-row exchange.
`compact_parquet` is the companion maintenance op: small-file-itis is
the classic lake failure mode (a 1e6-file table spends more time in
scheduler/open() than in I/O).
"""

from __future__ import annotations

import math
import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from metevents_spark.io import load_table


def expect(df: DataFrame, rules: dict[str, Column]) -> DataFrame:
    """Evaluate boolean expectation ``rules`` over ``df`` in one scan.

    Returns one row per rule: (rule, n_rows, n_violations,
    violation_rate). A NULL rule result counts as a violation (the
    expectation did not hold).

    Plan shape: all rules become SUM(CASE...) columns of a single
    global aggregate (map-side partial -> one-row final), then a
    ``stack`` generator unpivots the one row to rule-per-row — no
    joins, no per-rule scans.
    """
    aggs = [
        F.sum(
            F.when(F.coalesce(cond, F.lit(False)), 0).otherwise(1)
        ).alias(f"_r{i}")
        for i, cond in enumerate(rules.values())
    ]
    row = df.agg(F.count(F.lit(1)).alias("_n"), *aggs)
    stack_args = ", ".join(
        f"'{name}', _r{i}" for i, name in enumerate(rules.keys())
    )
    return (
        row.select(
            F.col("_n").alias("n_rows"),
            F.expr(
                f"stack({len(rules)}, {stack_args}) AS (rule, n_violations)"
            ),
        )
        .select(
            "rule",
            "n_rows",
            "n_violations",
            F.round(
                F.col("n_violations").cast("double") / F.col("n_rows"), 6
            ).alias("violation_rate"),
        )
        .orderBy("rule")
    )


def data_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standing expectation suite for the events table."""
    ev = load_table(spark, sf_dir, "events")
    known_types = ["click", "view", "purchase", "error", "signup"]
    return expect(
        ev,
        {
            "event_id_nonnull": F.col("event_id").isNotNull(),
            "event_type_known": F.col("event_type").isin(known_types),
            "ts_in_2024": (F.col("ts") >= F.lit("2024-01-01"))
            & (F.col("ts") < F.lit("2025-01-01")),
            "user_id_positive": F.col("user_id") > 0,
            "value_nonnull": F.col("value").isNotNull(),
            "value_sane": F.abs(F.col("value")) < 1e6,
        },
    )


def compact_parquet(
    spark: SparkSession,
    src: str,
    dst: str,
    target_file_mb: int = 128,
) -> int:
    """Rewrite a parquet directory into ~``target_file_mb``-sized
    files; returns the output file count.

    Sizing comes from the SOURCE bytes on disk (already-compressed
    parquet, so the estimate carries over), and the rewrite is a
    round-robin ``repartition`` — a shuffle, but the only way to get
    evenly sized outputs from skewed inputs; ``coalesce`` would glue
    neighbors and keep the skew. Compaction is an offline maintenance
    pass, so the one shuffle is the accepted cost.
    """
    total = 0
    for d, _, fs in os.walk(src):
        for f in fs:
            if f.endswith(".parquet"):
                total += os.path.getsize(os.path.join(d, f))
    n_files = max(1, math.ceil(total / (target_file_mb * 1024 * 1024)))
    spark.read.parquet(src).repartition(n_files).write.mode(
        "overwrite"
    ).parquet(dst)
    return n_files


def value_drift_psi(
    spark: SparkSession,
    sf_dir: str,
    split_ts: str = "2024-01-16 00:00:00",
    bin_width: float = 50.0,
    n_bins: int = 10,
) -> DataFrame:
    """Distribution drift between two time windows, per event_type:
    the Population Stability Index over a fixed-width value histogram
    (PSI = sum_bins (p_a - p_b) * ln(p_a / p_b), Laplace-smoothed so
    empty bins stay finite). PSI > 0.2 is the classic "investigate"
    threshold for feature drift between a training snapshot and
    serving traffic — the monitoring stage of a data pipeline.

    Scale shape: binning is map-side arithmetic inside the scan's
    codegen stage; ONE exchange on (event_type, bin) carries
    conditional partial counts, and everything after operates on the
    |types| x |bins| histogram — input volume never shuffles. Fixed
    bins (not quantiles) are what keep this one-pass and
    merge-friendly at 100 TB; quantile-based PSI needs the two-phase
    rank machinery instead (see quality_bucket_sample).
    """
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & ~F.isnan("value")
    )
    b = F.least(
        F.floor(F.col("value") / bin_width).cast("long"), F.lit(n_bins - 1)
    )
    win_a = F.col("ts") < split_ts
    hist = (
        ev.select("event_type", b.alias("bin"), win_a.alias("wa"))
        .groupBy("event_type", "bin")
        .agg(
            F.sum(F.when(F.col("wa"), 1).otherwise(0)).alias("n_a"),
            F.sum(F.when(~F.col("wa"), 1).otherwise(0)).alias("n_b"),
        )
    )
    from pyspark.sql import Window

    wt = Window.partitionBy("event_type")
    pa = (F.col("n_a") + 1.0) / (F.sum("n_a").over(wt) + F.lit(float(n_bins)))
    pb = (F.col("n_b") + 1.0) / (F.sum("n_b").over(wt) + F.lit(float(n_bins)))
    contrib = (pa - pb) * F.log(pa / pb)
    return (
        hist.select(
            "event_type",
            F.col("n_a"),
            F.col("n_b"),
            contrib.alias("c"),
        )
        .groupBy("event_type")
        .agg(
            F.sum("n_a").alias("n_a"),
            F.sum("n_b").alias("n_b"),
            F.round(F.sum("c"), 6).alias("psi"),
        )
        .orderBy("event_type")
    )


def ks_drift(
    spark: SparkSession,
    sf_dir: str,
    split_ts: str = "2024-01-16 00:00:00",
) -> DataFrame:
    """EXACT two-sample Kolmogorov-Smirnov drift between two time
    windows, per event_type: D = sup_v |F_a(v) - F_b(v)| plus the 95%
    critical value 1.358*sqrt((n_a+n_b)/(n_a*n_b)). The
    nonparametric companion to ``value_drift_psi``: PSI needs a bin
    width chosen up front and misses shape changes inside a bin; KS is
    binless and distribution-free.

    Scale shape: the sup over the empirical CDF difference only moves
    at observed values, and ties must be evaluated AFTER the whole tie
    group — so the input first collapses to per-(type, DISTINCT value)
    window-a/window-b counts (one map-side-combinable exchange, the
    only one that sees input volume). The running CDFs are one ordered
    cumsum window over those distinct-value rows, partitioned by
    event_type — the same per-key window shape every series operator
    uses, never a global sort. Cumulative counts are exact integers;
    the CDF divisions are single IEEE ops, so Spark and the oracle
    agree bit-for-bit before rounding.
    """
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & ~F.isnan("value")
    )
    wa = F.col("ts") < split_ts
    per_v = (
        ev.select("event_type", "value", wa.alias("wa"))
        .groupBy("event_type", "value")
        .agg(
            F.sum(F.when(F.col("wa"), 1).otherwise(0)).alias("ca"),
            F.sum(F.when(~F.col("wa"), 1).otherwise(0)).alias("cb"),
        )
    )
    from pyspark.sql import Window

    wcum = (
        Window.partitionBy("event_type")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wall = Window.partitionBy("event_type")
    na = F.sum("ca").over(wall)
    nb = F.sum("cb").over(wall)
    d = F.abs(
        F.sum("ca").over(wcum) / na - F.sum("cb").over(wcum) / nb
    )
    # cast BEFORE the product: n_a * n_b in longs overflows once both
    # windows hold ~3e9+ rows; double*double is exact for counts < 2^53
    crit = 1.358 * F.sqrt(
        (na + nb) / (na.cast("double") * nb.cast("double"))
    )
    return (
        per_v.select(
            "event_type",
            na.alias("n_a"),
            nb.alias("n_b"),
            d.alias("d"),
            crit.alias("crit"),
        )
        .groupBy("event_type")
        .agg(
            F.max("n_a").alias("n_a"),
            F.max("n_b").alias("n_b"),
            F.round(F.max("d"), 6).alias("ks_stat"),
            F.round(F.max("crit"), 6).alias("crit_95"),
        )
        .orderBy("event_type")
    )


def mad_drift(
    spark: SparkSession,
    sf_dir: str,
    split_ts: str = "2024-01-16 00:00:00",
) -> DataFrame:
    """Robust location/scale drift between two time windows, per
    event_type: window medians, MADs (median absolute deviation), and
    the robust shift score (med_b - med_a) / (1.4826 * MAD_a) — the
    outlier-immune member of the drift triad next to ``value_drift_psi``
    (binned) and ``ks_drift`` (distribution-free): a handful of extreme
    values moves a mean-and-stddev monitor but not this one.

    Scale shape: two passes over the input (medians, then absolute
    deviations against the BROADCAST 2x|types| median table), each a
    partial+final percentile aggregate on (event_type, window) — the
    per-key exact-percentile shape value_quantiles already uses. No
    window functions, no sort of the input.
    """
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & ~F.isnan("value")
    )
    labeled = ev.select(
        "event_type",
        "value",
        F.when(F.col("ts") < split_ts, "a").otherwise("b").alias("w"),
    )
    # persisted: the 2x|types|-row median table feeds BOTH the MAD
    # pass's broadcast join and the final med x mad join; without the
    # cache the second consumer re-ran the full events percentile
    # aggregate (a third corpus scan). Bounded cache by construction.
    from pyspark import StorageLevel

    from metevents_spark.cache import track

    med = track(
        labeled.groupBy("event_type", "w")
        .agg(
            F.percentile("value", F.lit(0.5)).alias("med"),
            F.count(F.lit(1)).alias("n"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    mad = (
        # broadcast: 2 windows × event types (est 22 KB → 1.6 MB, sf0.001 → sf0.1)
        labeled.join(F.broadcast(med), ["event_type", "w"])
        .select(
            "event_type",
            "w",
            F.abs(F.col("value") - F.col("med")).alias("dev"),
        )
        .groupBy("event_type", "w")
        .agg(F.percentile("dev", F.lit(0.5)).alias("mad"))
    )
    both = med.join(mad, ["event_type", "w"])

    def pick(col, w):
        return F.max(F.when(F.col("w") == w, F.col(col)))

    out = both.groupBy("event_type").agg(
        pick("n", "a").cast("long").alias("n_a"),
        pick("n", "b").cast("long").alias("n_b"),
        F.round(pick("med", "a"), 6).alias("med_a"),
        F.round(pick("med", "b"), 6).alias("med_b"),
        F.round(pick("mad", "a"), 6).alias("mad_a"),
        F.round(pick("mad", "b"), 6).alias("mad_b"),
        F.round(
            (pick("med", "b") - pick("med", "a"))
            / (F.lit(1.4826) * pick("mad", "a")),
            6,
        ).alias("robust_shift"),
    )
    return out.filter(
        F.col("n_a").isNotNull() & F.col("n_b").isNotNull()
    ).orderBy("event_type")


def mutual_information(
    spark: SparkSession,
    sf_dir: str,
    bin_width: float = 50.0,
    n_bins: int = 10,
) -> DataFrame:
    """Mutual information (nats) between event_type and the fixed-width
    value bin, with the marginal entropies — the dependence monitor
    next to the drift triad (PSI/KS/MAD track each marginal over time;
    MI tracks whether the JOINT structure between a categorical and a
    numeric feature changed, e.g. a schema bug collapsing one type's
    values).

    One row: n, n_cells, h_type, h_bin, mi_nats, plus the normalized
    redundancy mi / min(h) (0 = independent, 1 = deterministic).

    Determinism: all counts are exact integers from ONE (type, bin)
    groupBy whose partials collapse map-side; the final sums of ~60
    float terms follow the hash-green source_token_kl precedent
    (ROUND(...,6) absorbs fold-order ulp noise).

    Scale shape: binning is codegen arithmetic at the scan; one
    exchange carries |types| x |bins| partial counts; marginals and
    totals derive from the tiny cell table (window sums), nothing
    joins back to the fact table.
    """
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & ~F.isnan("value")
    )
    binned = ev.select(
        "event_type",
        F.least(
            F.floor(F.col("value") / bin_width).cast("long"),
            F.lit(n_bins - 1),
        ).alias("bin"),
    )
    cells = binned.groupBy("event_type", "bin").agg(
        F.count(F.lit(1)).alias("c_xy")
    )
    from pyspark.sql import Window

    w_all = Window.partitionBy()
    w_x = Window.partitionBy("event_type")
    w_y = Window.partitionBy("bin")
    d = lambda c: F.col(c).cast("double")
    enriched = cells.select(
        "event_type",
        "bin",
        "c_xy",
        F.sum("c_xy").over(w_x).alias("c_x"),
        F.sum("c_xy").over(w_y).alias("c_y"),
        F.sum("c_xy").over(w_all).alias("n"),
    )
    term = (d("c_xy") / d("n")) * F.log(
        d("c_xy") * d("n") / (d("c_x") * d("c_y"))
    )
    hx_term = F.when(
        F.col("bin") == F.min("bin").over(w_x),
        -(d("c_x") / d("n")) * F.log(d("c_x") / d("n")),
    ).otherwise(F.lit(0.0))
    hy_term = F.when(
        F.col("event_type") == F.min("event_type").over(w_y),
        -(d("c_y") / d("n")) * F.log(d("c_y") / d("n")),
    ).otherwise(F.lit(0.0))
    return (
        enriched.select(
            "n",
            term.alias("mi_term"),
            hx_term.alias("hx_term"),
            hy_term.alias("hy_term"),
        )
        .groupBy("n")
        .agg(
            F.count(F.lit(1)).alias("n_cells"),
            F.round(F.sum("hx_term"), 6).alias("h_type"),
            F.round(F.sum("hy_term"), 6).alias("h_bin"),
            F.round(F.sum("mi_term"), 6).alias("mi_nats"),
            F.round(
                F.sum("mi_term")
                / F.least(F.sum("hx_term"), F.sum("hy_term")),
                6,
            ).alias("redundancy"),
        )
        .select(
            "n", "n_cells", "h_type", "h_bin", "mi_nats", "redundancy"
        )
    )


def benford_deviation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-significant-digit distribution of document lengths per
    source vs Benford's law — the classic fabricated-data /
    degenerate-generator screen: a source whose lengths cluster on one
    leading digit (fixed-size chunking bugs, truncation) lights up as
    a large absolute deviation even when means and quantiles look
    sane.

    Output: one row per (source, digit 1-9) with the exact count, the
    observed share, Benford's expected share ln(1+1/d)/ln(10), and the
    signed deviation; plus the per-source total variation distance
    (repeated on each row of the source, window-summed over 9 rows).

    Determinism: counts are exact integers from one map-side-collapsed
    groupBy; shares/expectations are fixed float expressions; the TVD
    sums 9 terms — all under ROUND(...,6).

    The (source, digit) rollup is PERSISTED: it feeds both the grid
    densify's source list and the left join's probe side, and
    unpersisted the whole corpus scan+aggregate re-ran per consumer —
    two scans for a |sources| x 9 frame (r13 2x-scan sweep).
    """
    from pyspark.sql import Window

    from metevents_spark.cache import track

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("n_chars") > 0
    )
    digits = docs.select(
        "source",
        F.substring(F.col("n_chars").cast("string"), 1, 1)
        .cast("long")
        .alias("digit"),
    )
    counts = track(
        digits.groupBy("source", "digit")
        .agg(F.count(F.lit(1)).alias("n"))
        .persist()
    )
    # densify to the full (source, 1..9) grid — a digit a source never
    # produces still contributes |0 - expected| to the TVD (the
    # fixed-size-chunking pathology is exactly the all-mass-on-one-
    # digit case)
    grid = (
        counts.select("source")
        .distinct()
        .crossJoin(
            spark.range(1, 10).select(F.col("id").cast("long").alias("digit"))
        )
    )
    counts = grid.join(counts, ["source", "digit"], "left").select(
        "source", "digit", F.coalesce("n", F.lit(0)).alias("n")
    )
    w_src = Window.partitionBy("source")
    d = lambda c: F.col(c).cast("double")
    expected = F.log(F.lit(1.0) + F.lit(1.0) / d("digit")) / F.log(
        F.lit(10.0)
    )
    base = counts.select(
        "source",
        "digit",
        "n",
        (d("n") / F.sum("n").over(w_src).cast("double")).alias("obs"),
        expected.alias("exp_"),
    )
    return (
        base.select(
            "source",
            "digit",
            "n",
            F.round("obs", 6).alias("observed"),
            F.round("exp_", 6).alias("benford"),
            F.round(F.col("obs") - F.col("exp_"), 6).alias("deviation"),
            F.round(
                F.sum(F.abs(F.col("obs") - F.col("exp_"))).over(w_src)
                / F.lit(2.0),
                6,
            ).alias("source_tvd"),
        )
        .orderBy("source", "digit")
    )


def classifier_calibration(
    spark: SparkSession, sf_dir: str, n_bins: int = 10
) -> DataFrame:
    """Reliability diagram + expected calibration error (ECE) for the
    hashed quality classifier (text/stats.py classifier_score) against
    the is-English proxy label — the monitoring table you build before
    trusting a score threshold to gate a 100 TB crawl: a model can rank
    well and still be mis-calibrated, and ECE is the standard meter
    (Guo et al. 2017).

    The LABEL is an explicit proxy (lang = 'en'); the point of the
    operator is the calibration machinery — per-bin counts, confidence
    vs empirical frequency, the |gap| fold — which is label-agnostic.

    Engine-exact: the score is the classifier's exact integer ppm
    probability (wsum * 1e6 div (n_tokens * WMOD)); bins, counts,
    per-bin means, empirical frequencies and ECE all compute in
    integer ppm via floor division — no float op anywhere.

    Scale shape: one map-side-collapsed groupBy(bin) — the exchange
    carries n_bins rows; ECE is a window fold over the n_bins-row
    table. Zero joins, zero Python.
    """
    from pyspark.sql import Window

    from metevents_spark.text.stats import (
        _CLF_BUCKETS,
        _CLF_MIX,
        _CLF_WMOD,
        _tokens,
    )

    docs = load_table(spark, sf_dir, "documents")
    toks = _tokens()

    def bucket(x):
        return (
            F.length(x).cast("long") * 131
            + F.ascii(x).cast("long") * 7919
            + F.ascii(F.reverse(x)).cast("long") * 104729
        ) % _CLF_BUCKETS

    wsum = F.aggregate(
        F.transform(toks, lambda x: (bucket(x) * _CLF_MIX) % _CLF_WMOD),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    n_tok = F.size(toks).cast("long")
    prob_ppm = F.expr(
        f"wsum * 1000000L div (n_tok * {_CLF_WMOD}L)"
    )
    scored = docs.select(
        wsum.alias("wsum"),
        n_tok.alias("n_tok"),
        (F.col("lang") == "en").cast("int").alias("label"),
    ).select(
        "label",
        prob_ppm.alias("prob_ppm"),
    )
    binned = scored.select(
        "label",
        "prob_ppm",
        F.least(
            F.expr(f"prob_ppm div {1000000 // n_bins}"), F.lit(n_bins - 1)
        ).cast("long").alias("bin"),
    )
    per_bin = binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("label").cast("long").alias("n_pos"),
        F.sum("prob_ppm").alias("sum_ppm"),
    )
    conf = F.expr("sum_ppm div n_docs")
    freq = F.expr("n_pos * 1000000L div n_docs")
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    out = per_bin.select(
        "bin",
        "n_docs",
        "n_pos",
        conf.alias("conf_ppm"),
        freq.alias("freq_ppm"),
        F.abs(conf - freq).alias("gap_ppm"),
    )
    return (
        out.withColumn(
            "tot_gap", F.sum(F.col("gap_ppm") * F.col("n_docs")).over(w_all)
        )
        .withColumn("tot_n", F.sum("n_docs").over(w_all))
        .select("bin", "n_docs", "n_pos", "conf_ppm", "freq_ppm", "gap_ppm",
                F.expr("tot_gap div tot_n").alias("ece_ppm"))
        .orderBy("bin")
    )
