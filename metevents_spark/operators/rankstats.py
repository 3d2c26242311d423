"""Rank-based (non-parametric) statistics over the event series.

The engine's robust-inference tier beside the parametric operators
(`series_trend`'s OLS regr_*, `ab_test_report`'s Welch t): rank
statistics survive heavy tails and outliers that wreck moment-based
estimators, which is exactly the regime quality-score and telemetry
columns live in.

Seven operators:
  * :func:`theilsen_trend` — per-series Theil–Sen slope estimator
    (median of pairwise slopes), the robust counterpart of
    ``series_trend``'s least-squares slope (up to 29% contamination
    tolerance vs 0%).
  * :func:`theilsen_trend_sampled` — the same estimator over a
    deterministic md5 point subsample of each series.
  * :func:`kendall_trend` — per-series Kendall tau-b (the Mann-Kendall
    trend statistic's correlation form): exact BIGINT concordance
    counts over the same pair join as Theil–Sen.
  * :func:`kendall_trend_sampled` — tau-b over the same point
    subsample.
  * :func:`spearman_trend` — per-series Spearman rank correlation of
    value against time order (a monotonic-trend test; Pearson on
    ranks, computed in EXACT integer moment sums via doubled average
    ranks so the hash is engine-stable).
  * :func:`mann_whitney_u` — Mann–Whitney U rank-sum test of each
    event type's value distribution against the ``view`` baseline,
    with the tie-corrected normal approximation.
  * :func:`mann_whitney_u_bucketed` — the same test on value-histogram
    midranks.

Each pair estimator is one body (:func:`_theilsen`, :func:`_kendall`)
over one points frame (:func:`_points`), exact or sampled; both U
tests share one finish (:func:`_u_test`).

Determinism: every aggregate here is either an exact integer/half sum
(ranks and doubled ranks are exactly representable doubles whose
partial sums stay far under 2^53, so float summation is
order-independent) or a median of identical double sets — no
order-dependent float folds.

Scale shape:
  * theilsen_trend / kendall_trend materialize the per-series pair set
    — O(n_s²) rows per series but CO-LOCATED on sid (one exchange; the
    self-join's both sides share the sid hash partitioning), never a
    cross-series blowup. At extreme series lengths swap in the
    ``_sampled`` variants: a deterministic md5 POINT subsample caps
    each series before the pair join, so a million-point series costs
    O(n) hash evals + O(cap²) pairs instead of 10¹² pairs in one task.
    (A pair-level hash filter bounds the shuffle but still ENUMERATES
    all O(n_s²) pairs inside the generating task; point sampling does
    not.)
  * spearman_trend is two sid-window passes + one groupBy — integer
    sums only, map-side combining.
  * mann_whitney_u broadcasts the |event_types|-sized group list; the
    rank windows partition by (grp) which is bounded, so at extreme
    scale the per-grp sort dominates — the swap-in is
    :func:`mann_whitney_u_bucketed`: value-histogram midranks, where
    the only sort touches the |grps|·n_buckets aggregate, never the
    samples.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from metevents_spark.cache import track
from metevents_spark.functions.sketches import TWO60, h60
from metevents_spark.io import load_table, series_frame
from metevents_spark.timeutil import epoch_us


def _clean_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(sid, seq, ts, value) with NULL/NaN values dropped — rank
    statistics are undefined on missing points."""
    return series_frame(spark, sf_dir).filter(
        F.col("value").isNotNull() & ~F.isnan("value")
    )


def _points(
    spark: SparkSession, sf_dir: str, max_points: int | None = None
) -> DataFrame:
    """The pair estimators' CACHED (sid, rn, us, y) frame: rn is the
    point's time rank (ROW_NUMBER over (ts, seq)), us its epoch
    microseconds, y its value.

    With ``max_points``, a deterministic per-series point subsample:
    point rn of series sid survives iff

        h60(md5(sid:rn)) < floor(least(1, max_points / n_s) · 2^60)

    on the engine's 60-bit hash grid (``functions.sketches.h60``),
    which the oracle replays verbatim. Series at or under
    ``max_points`` points keep EVERY point (p ≥ 1 ⇒ the threshold
    clears the 60-bit range), so the length gate needs no branch;
    longer series keep ``max_points`` points in expectation, and the
    pair join costs O(max_points²) per series whatever the raw length.

    One sid exchange serves the windows and the pair join. The cache
    keeps the self-join's two sides from each re-running the scan,
    exchange, sort and windows (Catalyst shares no subplan across join
    sides), and it retains the sid hash partitioning and the
    (sid, ts, seq) sort, so the join consumes it in place.
    """
    w = Window.partitionBy("sid").orderBy("ts", "seq")
    pts = _clean_series(spark, sf_dir).select(
        "sid",
        F.row_number().over(w).alias("rn"),
        epoch_us(F.col("ts")).alias("us"),
        F.col("value").alias("y"),
    )
    if max_points is not None:
        n_s = F.count(F.lit(1)).over(Window.partitionBy("sid"))
        thr = F.floor(
            F.least(F.lit(1.0), F.lit(float(max_points)) / n_s.cast("double"))
            * F.lit(TWO60)
        ).cast("long")
        keep = h60(F.md5(F.concat_ws(":", F.col("sid"), F.col("rn")))) < thr
        pts = pts.withColumn("__keep", keep).filter("__keep").drop("__keep")
    return track(pts.persist())


def _theilsen(pts: DataFrame) -> DataFrame:
    """Theil–Sen over ``pts``: the co-located sid self-join forms every
    time-ordered pair with distinct timestamps, and each series keeps
    its pair count and the median slope per hour."""
    a, b = pts.alias("a"), pts.alias("b")
    slope = (
        (F.col("b.y") - F.col("a.y"))
        * F.lit(3.6e9)
        / (F.col("b.us") - F.col("a.us")).cast("double")
    )
    pairs = a.join(
        b,
        (F.col("a.sid") == F.col("b.sid"))
        & (F.col("a.rn") < F.col("b.rn"))
        & (F.col("b.us") > F.col("a.us")),
    ).select(F.col("a.sid").alias("sid"), slope.alias("slope"))
    return (
        pairs.groupBy("sid")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.median("slope"), 6).alias("theil_slope_per_hour"),
        )
        .orderBy("sid")
    )


def _kendall(pts: DataFrame) -> DataFrame:
    """Kendall tau-b over ``pts``: the co-located sid self-join forms
    every time-ordered pair, counted as concordant, discordant or tied
    in value, all exact BIGINTs."""
    a, b = pts.alias("a"), pts.alias("b")
    pairs = a.join(
        b,
        (F.col("a.sid") == F.col("b.sid")) & (F.col("a.rn") < F.col("b.rn")),
    ).select(
        F.col("a.sid").alias("sid"),
        F.when(F.col("b.y") > F.col("a.y"), 1).otherwise(0).alias("c"),
        F.when(F.col("b.y") < F.col("a.y"), 1).otherwise(0).alias("d"),
        F.when(F.col("b.y") == F.col("a.y"), 1).otherwise(0).alias("t"),
    )
    agg = pairs.groupBy("sid").agg(
        F.count(F.lit(1)).alias("n0"),
        F.sum("c").alias("nc"),
        F.sum("d").alias("nd"),
        F.sum("t").alias("nt"),
    )
    num = (F.col("nc") - F.col("nd")).cast("double")
    den = F.sqrt(((F.col("n0") - F.col("nt")) * F.col("n0")).cast("double"))
    return agg.select(
        "sid",
        F.col("n0").alias("n_pairs"),
        F.col("nc").alias("concordant"),
        F.col("nd").alias("discordant"),
        F.round(num / F.nullif(den, F.lit(0.0)), 6).alias("kendall_tau"),
    ).orderBy("sid")


def theilsen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series Theil–Sen trend: the MEDIAN of all pairwise slopes
    (y_j − y_i) / Δt between time-ordered points — the robust slope
    that tolerates up to ~29% arbitrary outliers where least squares
    (``series_trend``) tolerates none.

    Slope units: value per HOUR, computed as (Δy · 3.6e9) / Δt_us with
    the time delta in EXACT integer microseconds (multiply before
    divide: one float product + one float division, written
    identically in the oracle, so each pairwise slope is the same IEEE
    double in both engines; the median of identical sets is
    identical). Zero-Δt pairs (duplicate timestamps) are excluded on
    both sides.

    Plan: one sid exchange, then a CO-LOCATED self-join of the cached
    points frame forms the within-series pairs — O(n_s²) rows per
    series but never cross-series. Series need ≥ 2 distinct-time
    points.
    """
    return _theilsen(_points(spark, sf_dir))


def theilsen_trend_sampled(
    spark: SparkSession, sf_dir: str, max_points_per_series: int = 48
) -> DataFrame:
    """Theil–Sen slope over a deterministic per-series POINT subsample
    — the 100 TB path for :func:`theilsen_trend`, whose exact form
    enumerates O(n_s²) pairs inside one task (a million-point series =
    10¹² pairs = an unbounded task). Sampling points (not pairs) bounds
    BOTH the enumeration and the shuffle: O(n) hash evaluations, then
    the same co-located pair join over ≈``max_points_per_series``
    survivors — ~cap²/2 pairs per series no matter how long the raw
    series is. The median of pairwise slopes over a uniform point
    subsample is the standard subsampled Theil–Sen estimator (slope
    error shrinks as cap grows; the estimator stays 29%-breakdown
    robust on the subsample).

    Same output schema/arithmetic as the exact operator; the oracle
    replays the identical filter, so the query is hash-green despite
    being a "sample". Default cap 48 sits BELOW the testdata's ~66-pt
    series so the sampled path is genuinely exercised at every SF.
    """
    return _theilsen(_points(spark, sf_dir, max_points_per_series))


def kendall_trend_sampled(
    spark: SparkSession, sf_dir: str, max_points_per_series: int = 48
) -> DataFrame:
    """Kendall tau-b over the same deterministic point subsample as
    :func:`theilsen_trend_sampled` — the bounded-task variant of
    :func:`kendall_trend` (tau computed on a uniform subsample is a
    consistent estimator of tau; every aggregate stays an exact BIGINT
    so the oracle replay is hash-exact)."""
    return _kendall(_points(spark, sf_dir, max_points_per_series))


def spearman_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series Spearman rank correlation of value vs time order — a
    non-parametric monotonic-trend test (rho near ±1 = consistent
    drift regardless of magnitude; the robust complement of
    ``series_trend``'s r²).

    Exact-arithmetic construction: the time rank is ROW_NUMBER (ties
    broken by seq, matching every series window in the engine); the
    value rank uses DOUBLED average ranks (2·rank_min + t − 1, an
    INTEGER even under ties — Spearman is scale-invariant so doubling
    leaves rho unchanged). All five moment sums (Σx, Σx², Σy, Σy²,
    Σxy) accumulate as BIGINT — exact under any partitioning — and
    rho = (nΣxy − ΣxΣy) / √((nΣx² − Σx²)(nΣy² − Σy²)) is evaluated in
    one identical float expression on both engines, then rounded.

    One sid exchange shared by both rank windows and the final
    groupBy; constant-valued series (zero rank variance) are emitted
    with NULL rho via NULLIF.
    """
    w_time = Window.partitionBy("sid").orderBy("ts", "seq")
    w_rank = Window.partitionBy("sid").orderBy("y")
    w_ties = Window.partitionBy("sid", "y")
    clean = _clean_series(spark, sf_dir).select(
        "sid", "seq", "ts", F.col("value").alias("y")
    )
    ranked = clean.select(
        "sid",
        F.row_number().over(w_time).cast("long").alias("x"),
        (
            F.lit(2) * F.rank().over(w_rank)
            + F.count(F.lit(1)).over(w_ties)
            - F.lit(1)
        )
        .cast("long")
        .alias("y2"),
    )
    agg = ranked.groupBy("sid").agg(
        F.count(F.lit(1)).alias("n_points"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum("y2").alias("sy"),
        F.sum(F.col("y2") * F.col("y2")).alias("syy"),
        F.sum(F.col("x") * F.col("y2")).alias("sxy"),
    )
    n = F.col("n_points")
    num = (n * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = F.sqrt(
        (n * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
        * (n * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    )
    return (
        agg.filter(n >= 2)
        .select(
            "sid",
            "n_points",
            F.round(num / F.nullif(den, F.lit(0.0)), 6).alias("spearman_rho"),
        )
        .orderBy("sid")
    )


def _values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, value) of every event with a non-NULL, non-NaN
    value: the U tests' samples."""
    return (
        load_table(spark, sf_dir, "events")
        .select("event_type", "value")
        .filter(F.col("value").isNotNull() & ~F.isnan("value"))
    )


def _u_samples(ev: DataFrame, grps: DataFrame, baseline: str) -> DataFrame:
    """(grp, event_type, value): each candidate type's rows tagged with
    their own type as grp (no join), plus the baseline rows once per
    grp of ``grps``, a cross join with the bounded group list."""
    cand = ev.filter(F.col("event_type") != baseline).select(
        F.col("event_type").alias("grp"), "event_type", "value"
    )
    base = (
        ev.filter(F.col("event_type") == baseline)
        .crossJoin(grps)
        .select("grp", "event_type", "value")
    )
    return cand.unionByName(base)


def _u_test(agg: DataFrame) -> DataFrame:
    """The U tests' finish over per-grp (n_a, n_b, r_a, ties3): U = r_a −
    n_a(n_a+1)/2 and the tie-corrected z = (U − n_a·n_b/2) / σ with
    σ² = (n_a·n_b/12)·((n+1) − Σ(t³−t)/(n(n−1))), written as the same
    float expression in the oracle. All-tied groups yield NULL z via
    NULLIF."""
    n_a, n_b = F.col("n_a"), F.col("n_b")
    n = n_a + n_b
    u_a = F.col("r_a") - (n_a * (n_a + F.lit(1))).cast("double") / F.lit(2.0)
    mu = (n_a * n_b).cast("double") / F.lit(2.0)
    sigma = F.sqrt(
        (n_a * n_b).cast("double")
        / F.lit(12.0)
        * (
            (n + F.lit(1)).cast("double")
            - F.col("ties3").cast("double")
            / (n * (n - F.lit(1))).cast("double")
        )
    )
    return agg.select(
        "grp",
        n_a.cast("long").alias("n_a"),
        n_b.cast("long").alias("n_b"),
        u_a.alias("u_a"),
        F.round((u_a - mu) / F.nullif(sigma, F.lit(0.0)), 6).alias("z"),
    ).orderBy("grp")


def mann_whitney_u(
    spark: SparkSession, sf_dir: str, baseline: str = "view"
) -> DataFrame:
    """Mann–Whitney U rank-sum test: does each event type's value
    distribution differ from the ``baseline`` type's? One row per
    non-baseline type with sample sizes, the U statistic, and the
    tie-corrected normal z — the non-parametric counterpart of
    ``ab_test_report``'s Welch t (no normality assumption; detects
    location shifts the t-test misses under heavy tails).

    Construction: each candidate type's rows tag themselves (no join);
    only the BASELINE rows replicate, via a broadcast cross join with
    the bounded |event_types| group list — a dimension-sized
    multiplier, never a corpus×corpus product. Average ranks come from
    one window pass per pair-group (rank_min + (t−1)/2 — halves,
    exactly representable, so the rank-sum float fold is
    order-independent). The tie correction Σ(t³−t) folds as
    Σ_rows(t²−1), an exact BIGINT; :func:`_u_test` gives U and z.
    """
    ev = _values(spark, sf_dir)
    grps = (
        ev.select(F.col("event_type").alias("grp"))
        .filter(F.col("grp") != baseline)
        .distinct()
    )
    # broadcast: one row per event type (est 9.5 KB → 716 KB, sf0.001 → sf0.1)
    samp = _u_samples(ev, F.broadcast(grps), baseline)
    w_rank = Window.partitionBy("grp").orderBy("value")
    w_ties = Window.partitionBy("grp", "value")
    t = F.count(F.lit(1)).over(w_ties)
    ranked = samp.select(
        "grp",
        "event_type",
        (
            F.rank().over(w_rank).cast("double")
            + (t - F.lit(1)).cast("double") / F.lit(2.0)
        ).alias("avg_rank"),
        # per-row tie term t^2 - 1 (summed over a tie group of size t
        # this folds to t^3 - t). Long arithmetic wraps past t ~ 3e9
        # tied rows of ONE value — unreachable for this exact variant,
        # which materializes a rank window over every sample and is
        # the designated SMALL-n path; mann_whitney_u_bucketed (the
        # large-n path) folds its ties^3 in decimal(38,0).
        (t.cast("long") * t - F.lit(1)).alias("tie_term"),
    )
    is_a = F.col("event_type") == F.col("grp")
    return _u_test(
        ranked.groupBy("grp").agg(
            F.sum(F.when(is_a, 1).otherwise(0)).alias("n_a"),
            F.sum(F.when(is_a, 0).otherwise(1)).alias("n_b"),
            F.sum(F.when(is_a, F.col("avg_rank")).otherwise(0.0)).alias("r_a"),
            F.sum("tie_term").alias("ties3"),
        )
    )


def kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series Kendall tau-b of value vs time order — the
    concordance-based monotonic-trend test (the Mann-Kendall trend
    statistic's correlation form), completing the rank tier:
    Theil–Sen estimates the slope, Spearman and Kendall measure the
    monotonicity with different robustness/efficiency trades (tau's
    variance is known exactly under H0, so it backs significance
    tests).

    Tau-b with tie correction: over all point pairs (i earlier than
    j), C = concordant (value rises), D = discordant (falls), ties in
    value tracked per pair; time order is ROW_NUMBER so time ties
    cannot occur.  tau_b = (C − D) / sqrt((n0 − tie_y)·n0) with
    n0 = n(n−1)/2 and tie_y = Σ t(t−1)/2 over tied-value groups —
    EVERY aggregate here is an exact BIGINT count, so the only float
    ops are one sqrt and one division written identically in the
    oracle.

    Plan: the same CO-LOCATED sid self-join of the cached points frame
    as :func:`theilsen_trend` (O(n_s²) pairs per series, one sid
    exchange, never cross-series; :func:`kendall_trend_sampled` is the
    swap-in at extreme series lengths). Series need ≥ 2 points and at
    least one untied pair.
    """
    return _kendall(_points(spark, sf_dir))


def mann_whitney_u_bucketed(
    spark: SparkSession,
    sf_dir: str,
    baseline: str = "view",
    n_buckets: int = 256,
) -> DataFrame:
    """Bucketed-rank Mann–Whitney U — the large-|grp| path for
    :func:`mann_whitney_u`. The exact kernel's per-grp rank window
    sorts EVERY sample within each pair-group; here values quantize
    into ``n_buckets`` fixed-width histogram cells over the global
    [min, max] (one scalar aggregate, broadcast), every cell is
    treated as one tie group at its midrank, and ranks come from a
    cumulative sum over the (grp, bucket) AGGREGATE — the only sort
    in the plan touches ≤ |grps|·n_buckets rows, never the samples.
    The samples themselves meet exactly one map-side-combining
    groupBy.

    The bucketed statistic is a deterministic function of the data
    (hash-exact oracle replay — being an approximation of the exact U
    doesn't make it nondeterministic), and it converges to the exact
    tie-corrected z as n_buckets grows; the differential pytest pins
    the sf0.01 gap. Same output schema as the exact kernel.
    """
    ev = _values(spark, sf_dir)
    # the distinct-group list and the global [min, max] fold into ONE
    # aggregate pass: collect_set over the bounded-cardinality
    # event_type dimension is partial-aggregated map-side to a one-row
    # frame, and the group frame explodes from it. No driver collect:
    # the set never leaves the plan.
    dims = track(
        ev.agg(
            F.min("value").alias("vmin"),
            F.max("value").alias("vmax"),
            F.collect_set("event_type").alias("types"),
        ).persist(StorageLevel.MEMORY_AND_DISK)
    )
    # eager 1-row fill: grps and bounds consume dims inside one job and
    # would otherwise race to compute the cache, each paying the full
    # events pass the cache exists to deduplicate
    dims.count()
    grps = dims.select(
        F.explode(
            F.filter("types", lambda ty: ty != F.lit(baseline))
        ).alias("grp")
    )
    bounds = dims.select("vmin", "vmax")
    bucket = F.when(F.col("vmax") == F.col("vmin"), F.lit(0)).otherwise(
        F.least(
            F.lit(n_buckets - 1).cast("long"),
            F.floor(
                (F.col("value") - F.col("vmin"))
                / (F.col("vmax") - F.col("vmin"))
                * F.lit(float(n_buckets))
            ),
        )
    )
    samp = (
        _u_samples(ev, grps, baseline)
        .crossJoin(bounds)
        .select("grp", "event_type", bucket.cast("long").alias("bkt"))
    )
    is_a = F.col("event_type") == F.col("grp")
    # THE one pass over the samples: map-side-combining aggregate to
    # |grps|·n_buckets rows; everything below is dimension-sized
    cells = samp.groupBy("grp", "bkt").agg(
        F.sum(F.when(is_a, 1).otherwise(0)).alias("na_b"),
        F.count(F.lit(1)).alias("t"),
    )
    w_cum = (
        Window.partitionBy("grp")
        .orderBy("bkt")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranked = cells.select(
        "grp",
        "na_b",
        "t",
        (
            (F.sum("t").over(w_cum) - F.col("t")).cast("double")
            + (F.col("t") + F.lit(1)).cast("double") / F.lit(2.0)
        ).alias("midrank"),
    )
    # ties3 in decimal(38,0): a long t*t*t wraps silently (non-ANSI)
    # once one bucket holds >2,097,151 samples — plausible for
    # value-concentrated distributions at the large-n scale this
    # bucketed variant is the designated path for. Decimal keeps the
    # fold EXACT and order-independent (a double sum would be
    # shuffle-order-dependent); the oracle uses HUGEINT likewise, and
    # both sides cast the exact integer to double once, in _u_test.
    td = F.col("t").cast("decimal(38,0)")
    return _u_test(
        ranked.groupBy("grp").agg(
            F.sum("na_b").alias("n_a"),
            F.sum(F.col("t") - F.col("na_b")).alias("n_b"),
            F.sum(F.col("na_b").cast("double") * F.col("midrank")).alias("r_a"),
            F.sum(td * td * td - td).alias("ties3"),
        )
    )
