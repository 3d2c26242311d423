"""Product-analytics operators over the event stream (beyond-reference
surface): ordered funnels, weekly retention cohorts, rolling distinct
reach. The reference has no multi-user analytics at all (its model is
one series in, intervals out — /root/reference/metevents/events.py:18-20);
these are the event-log queries a production deployment of the same
data would ask next.

Scale notes:

- Every per-user reduction (first-touch times, cohort assignment) is a
  partial+final hash aggregate on ``user_id`` — one shuffle keyed by
  the natural partition key of an event log.
- ``funnel_conversion`` computes each stage's first-qualifying
  timestamp with conditional aggregation over a SINGLE pass of the
  events scan, then three user-keyed self-joins of the tiny per-user
  frame (one row per user, not per event). No event-row self-joins.
- ``rolling_7d_active`` deliberately avoids a range join: the bounded
  7-day window is expanded map-side (``explode(sequence(0, 6))``) so
  the plan is a plain equi-shuffle groupBy — at 100 TB a range join
  over events would be a broadcast-nested-loop hazard, while the
  exploded form costs exactly 7x the (user, day) DISTINCT pairs, which
  are orders of magnitude smaller than raw events.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from metevents_spark.functions.sketches import h60
from metevents_spark.io import load_table, local_frame
from metevents_spark.timeutil import epoch_us

FUNNEL_STAGES = ("signup", "view", "click", "purchase")


def funnel_frame(
    ev: DataFrame, stages: tuple[str, ...] = FUNNEL_STAGES
) -> DataFrame:
    """Ordered funnel over an (user_id, event_type, ts) frame: a user
    converts to stage k when an event of that type occurs at-or-after
    their first qualifying stage-(k-1) event.

    One scan computes min-timestamp-per-(user, stage); each subsequent
    stage re-qualifies against the previous stage's first-touch time on
    the per-user frame (150 rows per 10k events at test scale; ~events
    / daily-activity at corpus scale). Output is one row per stage with
    the surviving user count and the conversion rate from the previous
    stage.
    """
    per_user = ev.groupBy("user_id").agg(
        *[
            F.min(F.when(F.col("event_type") == s, F.col("ts"))).alias(f"t{i}")
            for i, s in enumerate(stages)
        ]
    )
    # qualify stage k against stage k-1's first-touch: q0 = t0,
    # qk = tk if tk >= q(k-1). Monotone: a NULL propagates forward.
    qcols = [F.col("t0").alias("q0")]
    for i in range(1, len(stages)):
        prev = qcols[i - 1]
        qcols.append(
            F.when(F.col(f"t{i}") >= prev, F.col(f"t{i}")).alias(f"q{i}")
        )
    q = per_user.select(*qcols)
    counts = q.agg(
        *[F.count(F.col(f"q{i}")).alias(f"n{i}") for i in range(len(stages))]
    )
    stage_rows = []
    for i, s in enumerate(stages):
        prev_n = F.col(f"n{i - 1}") if i else F.col("n0")
        stage_rows.append(
            F.struct(
                F.lit(i + 1).cast("long").alias("stage"),
                F.lit(s).alias("event_type"),
                F.col(f"n{i}").cast("long").alias("n_users"),
                F.round(
                    F.col(f"n{i}").cast("double")
                    / F.nullif(prev_n.cast("double"), F.lit(0.0)),
                    6,
                ).alias("conv_from_prev"),
            )
        )
    return (
        counts.select(F.explode(F.array(*stage_rows)).alias("s"))
        .select("s.*")
        .orderBy("stage")
    )


def funnel_conversion(
    spark: SparkSession,
    sf_dir: str,
    stages: tuple[str, ...] = FUNNEL_STAGES,
) -> DataFrame:
    """Registry entry: :func:`funnel_frame` over the events table."""
    return funnel_frame(
        load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts"),
        stages,
    )


def retention_frame(ev: DataFrame) -> DataFrame:
    """Weekly retention matrix over an (user_id, ts) frame: users are
    cohorted by the ISO week of their first event; a cohort is
    "retained" in week N when the user has any event in
    cohort_week + N.

    One user-keyed pass: the cohort week annotates every row IN PLACE
    as an unbounded min-window over the user partition, the (user,
    week, cohort) distinct rides that same user_id partitioning (its
    grouping keys are a superset of the partition key — no second
    exchange), and the final (cohort_week, week_no) aggregate is tiny.
    The earlier shape ran TWO user-keyed aggregates off two scans and
    joined them back on user_id (r13 2x-scan sweep). The explicit
    ``user_id IS NOT NULL`` filter reproduces that inner join's
    implicit null-key drop exactly.
    """
    from pyspark.sql import Window

    # week bounds stay TIMESTAMP (midnight Monday): DATE round-trips as
    # python objects through Arrow and breaks dtype comparison downstream
    w_u = Window.partitionBy("user_id")
    active = (
        ev.filter(F.col("user_id").isNotNull())
        .select(
            "user_id",
            F.date_trunc("week", F.col("ts")).alias("week"),
            F.date_trunc("week", F.min("ts").over(w_u)).alias("cohort_week"),
        )
        .distinct()
    )
    return (
        active
        .groupBy(
            "cohort_week",
            (F.datediff("week", "cohort_week") / 7).cast("long").alias("week_no"),
        )
        .agg(F.countDistinct("user_id").alias("n_active"))
        .orderBy("cohort_week", "week_no")
    )


def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry: :func:`retention_frame` over the events table."""
    return retention_frame(
        load_table(spark, sf_dir, "events").select("user_id", "ts")
    )


def transition_frame(ev: DataFrame) -> DataFrame:
    """First-order Markov transition matrix over each user's
    time-ordered event stream: for every (event_type, next_type) pair,
    how often it occurs and the row-normalized transition probability
    P(next | current). The user-journey counterpart of the funnel: the
    funnel asks "did stage k follow stage k-1", this asks what
    ACTUALLY follows each step.

    One shuffle keyed by user_id (the lead window — the event log's
    natural partition key), then a map-side-combinable count over at
    most |types|² pairs; the probability normalization is a window
    over that constant-sized frame. Ties in ts break on event_id so
    the sequence — and therefore the matrix — is deterministic.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = ev.select(
        "event_type",
        F.lead("event_type").over(w).alias("next_type"),
    ).filter(F.col("next_type").isNotNull())
    counts = nxt.groupBy("event_type", "next_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = Window.partitionBy("event_type")
    return counts.select(
        "event_type",
        "next_type",
        "n",
        F.round(F.col("n") / F.sum("n").over(tot), 5).alias("p"),
    ).orderBy("event_type", "next_type")


def event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry: :func:`transition_frame` over the events table."""
    return transition_frame(
        load_table(spark, sf_dir, "events").select(
            "user_id", "event_id", "event_type", "ts"
        )
    )


def path_frame(ev: DataFrame, depth: int = 3, k: int = 20) -> DataFrame:
    """Top-``k`` opening event-type paths: each user's first ``depth``
    events (time order, event_id tiebreak) joined into a '>' path
    string, counted across users. Users with fewer than ``depth``
    events contribute their shorter prefix — dropping them would bias
    the ranking toward heavy users.

    Scale shape: the row_number window is the one user_id-keyed
    shuffle; the per-user path rollup rides the same partitioning
    (groupBy user_id after a user_id window needs no second exchange),
    path counts collapse map-side to at most |types|^depth rows, and
    the final ranking is a LIMIT — a TakeOrdered merge, never a global
    sort of the path table.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    first = (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= depth)
    )
    paths = first.groupBy("user_id").agg(
        F.array_join(
            F.expr(
                "transform(array_sort(collect_list(struct(rn, event_type)))"
                ", s -> s.event_type)"
            ),
            ">",
        ).alias("path")
    )
    counts = paths.groupBy("path").agg(F.count(F.lit(1)).alias("n_users"))
    top = counts.orderBy(F.desc("n_users"), F.asc("path")).limit(k)
    wr = Window.orderBy(F.desc("n_users"), F.asc("path"))
    return top.select(
        F.row_number().over(wr).cast("long").alias("rnk"),
        "path",
        "n_users",
    ).orderBy("rnk")


def top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry: :func:`path_frame` over the events table."""
    return path_frame(
        load_table(spark, sf_dir, "events").select(
            "user_id", "event_id", "event_type", "ts"
        )
    )


def rolling_active_frame(ev: DataFrame, window_days: int = 7) -> DataFrame:
    """Rolling ``window_days``-day distinct active users per calendar
    day over an (user_id, ts) frame.

    Range-join-free plan: the DISTINCT (user, day) pairs are exploded
    into the trailing days they contribute to (map-side ``sequence``,
    no shuffle), then a single groupBy(day) counts distinct users.
    Days with no events contribute no output row: POSEXPLODE tags each
    pair's own day (pos 0), so "day really had an event" is a map-side
    flag folded into the one aggregate — the earlier shape re-derived
    the whole (user, day)-distinct a second time just to build a
    day-list join that filtered the same phantoms (r13 2x-scan sweep;
    one scan, one distinct exchange, zero joins).
    """
    pairs = ev.select(
        "user_id", F.date_trunc("day", F.col("ts")).alias("day")
    ).distinct()
    contrib = pairs.select(
        "user_id",
        F.posexplode(
            F.expr(
                f"sequence(day, day + interval {window_days - 1} days,"
                " interval 1 day)"
            )
        ).alias("pos", "day"),
    )
    return (
        contrib.groupBy("day")
        .agg(
            F.countDistinct("user_id").alias("active_users"),
            F.max(F.col("pos") == 0).alias("_real_day"),
        )
        .filter("_real_day")
        .select("day", "active_users")
        .orderBy("day")
    )


def rolling_7d_active(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry: :func:`rolling_active_frame` over events."""
    return rolling_active_frame(
        load_table(spark, sf_dir, "events").select("user_id", "ts")
    )


def rolling_reach_hll(
    spark: SparkSession, sf_dir: str, window_days: int = 7, lgk: int = 12
) -> DataFrame:
    """Rolling distinct reach via MERGEABLE HLL sketches — the
    re-aggregation pattern that replaces ``rolling_7d_active``'s exact
    explode-and-count at 100 TB: the input is touched ONCE to build a
    per-day sketch (one map-side-combinable exchange on day; sketch
    partials merge associatively, so no (user, day) pairs ever
    shuffle), and every downstream window/rollup unions day sketches —
    a |days|-sized problem regardless of corpus size. This is why
    production reach pipelines store sketch columns, not id lists:
    day -> week -> month -> arbitrary ranges all come from the same
    per-day sketches without ever rescanning events.

    Each output day unions its trailing ``window_days`` sketches
    (day-sized explode over a days-long table, then
    ``hll_union_agg`` + ``hll_sketch_estimate``). POSEXPLODE tags each
    sketch's own day (pos 0) so phantom trailing days are dropped by a
    flag inside the one union aggregate — the earlier shape re-ran the
    ENTIRE corpus sketch aggregate a second time just to list the days
    for that filter join (r13 2x-scan sweep; one events scan, zero
    joins). Apache DataSketches HLL is deterministic for a given input
    set, but NOT ANSI SQL — rows-only in the driver contract; pinned
    by an error-bound pytest against the exact
    ``rolling_active_frame`` (relative error well inside the lgk=12
    ~1.6% band) plus exact-union consistency (sketch(window) == union
    of day sketches on identical ids).
    """
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select("user_id", F.date_trunc("day", F.col("ts")).alias("day"))
        .groupBy("day")
        .agg(F.hll_sketch_agg("user_id", F.lit(lgk)).alias("sk"))
    )
    contrib = daily.select(
        "sk",
        F.posexplode(
            F.expr(
                f"sequence(day, day + interval {window_days - 1} days,"
                " interval 1 day)"
            )
        ).alias("pos", "day"),
    )
    return (
        contrib.groupBy("day")
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("sk", F.lit(True)))
            .alias("active_users_est"),
            F.max(F.col("pos") == 0).alias("_real_day"),
        )
        .filter("_real_day")
        .select("day", "active_users_est")
        .orderBy("day")
    )


def props_value_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured path: extract a typed value from the JSON
    ``props`` column (``get_json_object`` — JVM-side JSON path, no
    Python) and aggregate it per event type. The JSON parse is
    map-side in the same projection as the scan; only the tiny
    per-type aggregate shuffles.

    The schema-on-read pattern for event streams whose payloads are
    heterogeneous: parse the paths a query needs, leave the rest as
    bytes.
    """
    ev = load_table(spark, sf_dir, "events").select("event_type", "props")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("k").alias("n_with_k"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            F.round(F.sum("k").cast("double") / F.count("k"), 4).alias("avg_k"),
        )
        .orderBy("event_type")
    )


def event_pair_lift(
    spark: SparkSession, sf_dir: str, min_baskets: int = 5
) -> DataFrame:
    """Market-basket lift between event types: for every unordered
    type pair (a < b), how much more often they land in the same
    (user, day) basket than independence predicts —
    lift = P(a,b) / (P(a) * P(b)) over baskets.

    Scale shape — BITMASK ROLLUP: event_type is a bounded-cardinality
    dimension (k distinct values), so each basket's distinct-type SET
    is one long bitmask folded map-side by bit_or — the single
    (user_id, day) exchange carries 8-byte masks, never arrays. The
    distinct-mask histogram (≤ min(2^k, |baskets|) rows, tiny) is then
    the ONLY input to every downstream statistic: pair counts, type
    counts, and the basket total are sums over mask-histogram rows,
    computed against the k*(k-1)/2 pair table with codegen'd bit
    tests. The previous array formulation expanded pairs per basket
    with nested higher-order lambdas — interpreted, not codegen'd:
    measured 10.4s vs 2.3s for this shape on the tenfold dataset.

    ONE fact scan: the (user, day, type) distinct rollup is persisted
    and serves BOTH the type-list collect (a dimension lookup off the
    tiny rollup, not a second pass over the fact table) and the mask
    fold — the earlier formulation scanned events twice, which at
    100 TB doubles the dominant cost. Guarded to k <= 32 where masks
    stay inside a long's safe range with room to spare.
    """
    from pyspark.storagelevel import StorageLevel

    from metevents_spark.cache import track

    ev = load_table(spark, sf_dir, "events")
    baskets = track(
        ev.select(
            "user_id",
            F.date_trunc("day", F.col("ts")).alias("d"),
            "event_type",
        )
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    types = sorted(
        r[0] for r in baskets.select("event_type").distinct().collect()
    )
    k = len(types)
    if k > 32:
        raise ValueError(
            f"event_type cardinality {k} exceeds the bitmask rollup bound"
        )
    pos = F.array_position(
        F.array(*[F.lit(t) for t in types]), F.col("event_type")
    ).cast("int")
    mask_bits = F.array(*[F.lit(1 << i).cast("long") for i in range(k)])
    mask_counts = (
        baskets.select(
            "user_id", "d", F.element_at(mask_bits, pos).alias("m")
        )
        .groupBy("user_id", "d")
        .agg(F.expr("bit_or(m)").alias("mask"))
        .groupBy("mask")
        .agg(F.count(F.lit(1)).alias("n"))
        # three consumers (pair counts, type counts, total); the
        # histogram is ≤ 2^k rows, so cut it eagerly instead of
        # re-running the basket exchange per consumer
        .localCheckpoint()
    )
    # pair table: k*(k-1)/2 rows of (a, b, bits-to-test) plus the
    # per-type bits — joined against the tiny mask histogram
    pair_rows = [
        (types[i], types[j], (1 << i) | (1 << j))
        for i in range(k)
        for j in range(i + 1, k)
    ]
    pairs = local_frame(spark, pair_rows, "a string, b string, bits long")
    type_rows = [(t, 1 << i) for i, t in enumerate(types)]
    tdf = local_frame(spark, type_rows, "t string, tbit long")
    n_baskets = mask_counts.agg(F.sum("n").alias("n_baskets"))
    pair_counts = (
        pairs.join(
            # broadcast: ≤ 2^k type masks (est 11 KB → 1.1 MB, sf0.001 → sf0.1)
            F.broadcast(mask_counts),
            F.col("mask").bitwiseAND(F.col("bits")) == F.col("bits"),
        )
        .groupBy("a", "b")
        .agg(F.sum("n").alias("n_ab"))
    )
    type_counts = (
        tdf.join(
            # broadcast: ≤ 2^k type masks (est 11 KB → 1.1 MB, sf0.001 → sf0.1)
            F.broadcast(mask_counts),
            F.col("mask").bitwiseAND(F.col("tbit")) == F.col("tbit"),
        )
        .groupBy("t")
        .agg(F.sum("n").alias("n_t"))
    )
    ta = type_counts.select(
        F.col("t").alias("a"), F.col("n_t").alias("n_a")
    )
    tb = type_counts.select(
        F.col("t").alias("b"), F.col("n_t").alias("n_b")
    )
    return (
        # broadcast: one row per event type (est 1.4 MB → 141 MB, sf0.001 → sf0.1)
        pair_counts.join(F.broadcast(ta), "a")
        # broadcast: one row per event type (est 1.4 MB → 141 MB, sf0.001 → sf0.1)
        .join(F.broadcast(tb), "b")
        .crossJoin(n_baskets)
        .filter(F.col("n_ab") >= min_baskets)
        .select(
            "a",
            "b",
            "n_ab",
            F.round(
                F.col("n_ab").cast("double") * F.col("n_baskets")
                / (F.col("n_a") * F.col("n_b")),
                6,
            ).alias("lift"),
        )
        .orderBy("a", "b")
    )


def latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-row-per-key via ``max_by`` — the aggregate formulation of
    "each user's most recent event".

    At scale this beats the row_number()-window formulation decisively:
    max_by is a partial+final hash aggregate (each map task keeps ONE
    candidate row per user before the exchange — no sort, shuffle is
    |users| rows), where the window must shuffle and SORT every event.
    Determinism on timestamp ties comes from the (ts, seq) struct
    ordering key. The DuckDB oracle states the same semantics as a
    QUALIFY row_number() = 1 — different mechanism, same rows, which is
    exactly what the hash comparison should prove.
    """
    ev = load_table(spark, sf_dir, "events")
    payload = F.struct(
        F.col("ts"), F.col("event_id"), F.col("event_type"), F.col("value")
    )
    key = F.struct(F.col("ts"), F.col("event_id"))
    return (
        ev.groupBy("user_id")
        .agg(F.max_by(payload, key).alias("p"), F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("p.ts").alias("last_ts"),
            F.col("p.event_id").alias("last_seq"),
            F.col("p.event_type").alias("last_type"),
            F.col("p.value").alias("last_value"),
            "n_events",
        )
        .orderBy("user_id")
    )


def survival_retention(
    spark: SparkSession, sf_dir: str, churn_gap_days: int = 1
) -> DataFrame:
    """Kaplan-Meier retention curve over user lifetimes: for each
    distinct lifetime (days between a user's first and last event) at
    which at least one CHURN occurred, the number at risk, the churn
    count, and the product-limit survival estimate
    S(t) = prod_{t_i <= t} (1 - d_i / n_i).

    Censoring: a user whose last event is within ``churn_gap_days`` of
    the corpus end is still alive (censored) — they leave the risk set
    at their observed lifetime without counting as an event, exactly
    the textbook estimator. The default gap of ONE day fits the
    committed 30-day test corpora (users are active throughout, so a
    14-day gap marks nobody churned); real deployments set it to their
    product's reactivation horizon.

    Engine determinism: n_i / d_i are exact integer window cumulatives;
    the product folds as exp(cumsum(ln(1 - d/n))) over the ORDERED
    duration window — a sequential cumulative, identical in both
    engines (ln ulp noise is absorbed by ROUND(...,6); see
    weighted_sample for the precedent).

    Scale shape: one groupBy(user) collapses the fact table to a row
    per user; everything after runs on the |distinct lifetimes|-sized
    table (window cumulatives, no joins except the 1-row corpus-end
    broadcast). The per-user rollup is PERSISTED and the corpus end
    derived from it (max over per-user maxes == global max, both
    null-skipping) — the earlier shape re-scanned the whole fact table
    a second time just for that 1-row max (r13 2x-scan sweep).
    """
    from metevents_spark.cache import track
    from metevents_spark.timeutil import epoch_us

    ev = load_table(spark, sf_dir, "events")
    per_user = track(
        ev.groupBy("user_id")
        .agg(F.min("ts").alias("first_ts"), F.max("ts").alias("last_ts"))
        .persist()
    )
    obs_end = per_user.agg(F.max("last_ts").alias("obs_end"))
    day_us = 86_400 * 1_000_000
    lifetimes = per_user.crossJoin(obs_end).select(
        # explicit FLOOR: Spark's double->long cast truncates but
        # DuckDB's rounds, so the oracle mirrors FLOOR on both sides
        F.floor(
            (epoch_us(F.col("last_ts")) - epoch_us(F.col("first_ts")))
            / F.lit(day_us)
        ).cast("long").alias("t_days"),
        (
            epoch_us(F.col("last_ts"))
            < epoch_us(F.col("obs_end")) - F.lit(churn_gap_days * day_us)
        ).cast("long").alias("churned"),
    )
    by_t = lifetimes.groupBy("t_days").agg(
        F.count(F.lit(1)).alias("n_leaving"),
        F.sum("churned").alias("n_events"),
    )
    w_desc = Window.orderBy(F.desc("t_days")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    risk = by_t.withColumn("n_risk", F.sum("n_leaving").over(w_desc))
    w_asc = Window.orderBy("t_days").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        risk.filter(F.col("n_events") > 0)
        .withColumn(
            "survival",
            F.round(
                F.exp(
                    F.sum(
                        F.log(
                            F.lit(1.0)
                            - F.col("n_events").cast("double")
                            / F.col("n_risk").cast("double")
                        )
                    ).over(w_asc)
                ),
                6,
            ),
        )
        .select("t_days", "n_risk", "n_events", "survival")
        .orderBy("t_days")
    )


def purchase_attribution(
    spark: SparkSession, sf_dir: str, lookback_days: int = 7
) -> DataFrame:
    """Last-touch marketing attribution: every purchase event credits
    the user's most recent PRECEDING non-purchase event within a
    ``lookback_days`` window — the revenue-assignment query every
    product-analytics stack runs (which channel "caused" the purchase);
    purchases with no touch inside the window report NULL (organic).

    Mechanics: one window per user ordered by (ts, event_id) with
    ``last(..., ignorenulls=True)`` over ROWS UNBOUNDED PRECEDING..1
    PRECEDING carrying the latest non-purchase (epoch, event_id, type)
    struct past purchase rows — the classic IGNORE NULLS carry-forward,
    identical semantics to DuckDB's LAST_VALUE ... IGNORE NULLS. The
    lookback test is exact integer microseconds.

    Scale shape: ONE exchange on user_id (the event log's natural key)
    feeding the window; everything after is a row-wise projection and
    the presentation sort. No joins, no Python.
    """
    from metevents_spark.timeutil import epoch_us

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        "ts",
        epoch_us(F.col("ts")).alias("ts_us"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.last(
        F.when(
            F.col("event_type") != "purchase",
            F.struct(
                F.col("ts_us").alias("t_us"),
                F.col("event_id").alias("t_id"),
                F.col("event_type").alias("t_type"),
            ),
        ),
        ignorenulls=True,
    ).over(w)
    lb_us = lookback_days * 86_400_000_000
    flagged = ev.withColumn("touch", touch).where(
        F.col("event_type") == "purchase"
    )
    in_window = F.col("touch").isNotNull() & (
        F.col("ts_us") - F.col("touch.t_us") <= F.lit(lb_us)
    )
    return flagged.select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
        F.when(in_window, F.col("touch.t_id")).alias("touch_id"),
        F.when(in_window, F.col("touch.t_type")).alias("touch_type"),
        F.when(in_window, F.col("ts_us") - F.col("touch.t_us")).alias(
            "gap_us"
        ),
    ).orderBy("purchase_id")


def ab_test_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-arm experiment readout over the event stream: per-arm user
    counts, converters (>= 1 purchase), exact-ppm conversion rates,
    relative lift, and the pooled two-proportion z statistic — the
    A/B-test analysis every experimentation platform materializes.
    Assignment here is the deterministic synthetic ``user_id % 2``
    (the MACHINERY — per-user collapse, pooled variance, exact-integer
    rates — is the operator; swap the assignment column for a real
    bucketing hash in production).

    Engine-exact: every count and ppm rate is integer floor-division;
    the only float expression is the z statistic (one fixed tree over
    integer inputs — IEEE sqrt is correctly rounded), rounded at 6 dp
    where the inputs are irrational, never half-grid.

    Scale shape: ONE groupBy(user_id) whose partial aggregation
    collapses map-side (the exchange carries |users| rows), one
    2-row arm aggregate, one 1-row pivot. No joins, no Python.
    """
    ev = load_table(spark, sf_dir, "events")
    # conversion = heavy purchaser (>= 14 purchase events — the stream
    # averages ~13 per user at every sf, so this splits the population
    # near the median and stays non-degenerate; ">= 1 purchase" would
    # be 100% in both arms and the pooled variance collapses to zero)
    per_user = ev.groupBy("user_id").agg(
        F.when(
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            )
            >= 14,
            1,
        )
        .otherwise(0)
        .alias("converted"),
    )
    arms = (
        per_user.groupBy((F.col("user_id") % 2).cast("int").alias("arm"))
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum("converted").cast("long").alias("n_converted"),
        )
    )
    one = (
        arms.groupBy()
        .pivot("arm", [0, 1])
        .agg(
            F.first("n_users").alias("n"),
            F.first("n_converted").alias("c"),
        )
    )
    # exact integer ppm rates and relative lift; pooled z in one fixed
    # float expression tree
    d = lambda c: F.col(c).cast("double")
    p0, p1 = d("0_c") / d("0_n"), d("1_c") / d("1_n")
    pool = (d("0_c") + d("1_c")) / (d("0_n") + d("1_n"))
    # degenerate arms (everyone or no one converts) have zero pooled
    # variance — the z statistic is undefined there, reported NULL
    z = F.when(
        (pool > 0) & (pool < 1),
        (p1 - p0)
        / F.sqrt(
            pool
            * (F.lit(1.0) - pool)
            * (F.lit(1.0) / d("0_n") + F.lit(1.0) / d("1_n"))
        ),
    )
    return one.select(
        F.col("0_n").alias("n_control"),
        F.col("1_n").alias("n_treatment"),
        F.col("0_c").alias("conv_control"),
        F.col("1_c").alias("conv_treatment"),
        F.expr("`0_c` * 1000000L div `0_n`").alias("rate_control_ppm"),
        F.expr("`1_c` * 1000000L div `1_n`").alias("rate_treatment_ppm"),
        # sign-split so truncation == floor on both engines (Spark div
        # truncates toward zero, DuckDB // floors — they differ on
        # negative numerators); NULL when the control arm never
        # converts (relative lift undefined)
        F.expr(
            "CASE WHEN `0_c` = 0 THEN NULL"
            " WHEN `1_c` * `0_n` >= `0_c` * `1_n` THEN"
            " (`1_c` * `0_n` - `0_c` * `1_n`) * 1000000L"
            "   div (`0_c` * `1_n`)"
            " ELSE -((`0_c` * `1_n` - `1_c` * `0_n`) * 1000000L"
            "   div (`0_c` * `1_n`)) END"
        ).alias("lift_ppm"),
        F.round(z, 6).alias("z_score"),
    )


def conversion_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user signup→purchase conversion latency: each user's first
    signup, their first purchase AT OR AFTER it, and the lag in exact
    integer microseconds — the time-to-convert readout that
    ``funnel_conversion`` (how many convert) and ``survival_retention``
    (do they stay) don't answer: HOW LONG conversion takes.

    Users who never purchase after signing up are excluded (lag is
    undefined); purchases before the first signup don't count as
    conversions. All outputs are exact (timestamps + BIGINT micros) —
    nothing to round.

    Plan: two map-side-combining groupBys on user_id sharing one hash
    partitioning, joined co-located; the conditional "first purchase
    ≥ signup" folds as MIN over the filtered join — no window needed.
    Scales as a pair of key-collapsed aggregates at any corpus size.
    """
    # ONE events scan + ONE exchange (the conversion_bootstrap_ci
    # cohort pattern, guide §2.4): the old signup-agg → purchase-join →
    # join-back shape derived the signup aggregate twice and scanned
    # events three times. signup_ts annotates every signup/purchase row
    # via a user window; the qualifying-purchase MIN folds in the same
    # rollup, which reuses the window's partitioning. Identical rows:
    # the old inner joins kept exactly the users with a signup AND a
    # purchase at-or-after it — reproduced by the NOT NULL filters (a
    # NULL signup_ts nulls the qualifying predicate, so purchase_ts is
    # NULL and the user drops, matching the old empty-join result).
    ev = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "event_type", "ts")
        .filter(F.col("event_type").isin("signup", "purchase"))
    )
    w_user = Window.partitionBy("user_id")
    annotated = ev.withColumn(
        "signup_ts",
        F.min(
            F.when(F.col("event_type") == "signup", F.col("ts"))
        ).over(w_user),
    )
    rolled = annotated.groupBy("user_id").agg(
        F.max("signup_ts").alias("signup_ts"),
        F.min(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("ts") >= F.col("signup_ts")),
                F.col("ts"),
            )
        ).alias("purchase_ts"),
    )
    return (
        rolled.filter(F.col("purchase_ts").isNotNull())
        .select(
            F.col("user_id").cast("long").alias("user_id"),
            "signup_ts",
            "purchase_ts",
            (epoch_us(F.col("purchase_ts")) - epoch_us(F.col("signup_ts")))
            .alias("lag_us"),
        )
        .orderBy("user_id")
    )


# Poisson(1) CDF thresholds on the 60-bit hash grid: floor(CDF(k)·2^60)
# for k = 0..8 (tail mass beyond 8 is ~1.1e-7, capped at 9). Integer
# comparisons only — both engines classify every hash identically.
_POISSON1_CUM60 = (
    424136118829305344,
    848272237658610688,
    1060340297073263360,
    1131029650211480960,
    1148701988496035328,
    1152236456152946176,
    1152825534095764608,
    1152909688087595776,
    1152920207336574720,
)


def conversion_bootstrap_ci(
    spark: SparkSession,
    sf_dir: str,
    n_replicates: int = 200,
    window_hours: int = 24,
) -> DataFrame:
    """Poisson-bootstrap 95% confidence interval for the signup→
    purchase conversion rate — the uncertainty quantification
    ``ab_test_report``'s point z-test doesn't give, computed the ONLY
    way a bootstrap works at 100 TB: instead of resampling rows
    (impossible distributed — a classic bootstrap draw needs global
    coordination), every user gets an independent Poisson(1) weight
    per replicate, derived from a deterministic md5 hash, and each
    replicate's rate is one weighted aggregate. B replicates = ONE
    map-side explode by a constant factor + one |B|-sized groupBy —
    no shuffling of the corpus B times, no driver-side sampling state.

    Engine-exact construction: the 60-bit hash maps to a Poisson count
    through INTEGER thresholds (floor(CDF·2^60) — no float CDF math at
    classification time), replicate numerator/denominator fold as
    exact BIGINTs, each rate is one division of exact integers, and
    the CI bounds are interpolated percentiles over the B identical
    doubles. The cohort is users with a signup; converted = any
    purchase within ``window_hours`` of the first signup (the bounded
    activation window keeps the rate informative — at-or-after-ever
    saturates to 1.0 on an active corpus).
    """
    from pyspark import StorageLevel

    from metevents_spark.cache import track

    # Cohort in ONE events scan + ONE exchange (guide §2.4): the old
    # signup-agg → purchase-join → left-join-back shape derived the
    # signup aggregate twice and scanned events three times, and the
    # whole cohort subtree was then re-executed by BOTH consumers
    # below (DataFrame reuse without a cache shares no subplan) — 6
    # parquet scans per run. Here the signup timestamp annotates every
    # signup/purchase row in place via a user-keyed window, the
    # conversion flag is a map-side predicate over the annotated row,
    # and the per-user rollup reuses the window's hash partitioning
    # (no second exchange). Identical cohort by construction: the
    # window min over signup rows IS the old groupBy min, the flag
    # reproduces the old semi-join's bounded-activation predicate, and
    # users without a signup row fall out through signup_ts IS NULL
    # exactly as the old inner-join-on-signup did.
    win_us = window_hours * 3_600_000_000
    ev = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "event_type", "ts")
        .filter(F.col("event_type").isin("signup", "purchase"))
    )
    w_user = Window.partitionBy("user_id")
    annotated = ev.withColumn(
        "signup_ts",
        F.min(
            F.when(F.col("event_type") == "signup", F.col("ts"))
        ).over(w_user),
    )
    conv_row = (
        (F.col("event_type") == "purchase")
        & F.col("signup_ts").isNotNull()
        & (F.col("ts") >= F.col("signup_ts"))
        & (
            epoch_us(F.col("ts")) - epoch_us(F.col("signup_ts"))
            <= F.lit(win_us)
        )
    )
    users = track(
        annotated.groupBy("user_id")
        .agg(
            # cohort = users with a signup EVENT (the old groupBy over
            # signup rows emits a group even when every ts is NULL)
            F.max(
                (F.col("event_type") == "signup").cast("long")
            ).alias("has_signup"),
            F.max(conv_row.cast("long")).alias("conv"),
        )
        .filter(F.col("has_signup") == 1)
        .select(F.col("user_id").cast("long").alias("user_id"), "conv")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # constant-factor map-side replication — no join, no shuffle
    expl = users.select(
        "user_id",
        "conv",
        F.explode(
            F.sequence(F.lit(0), F.lit(n_replicates - 1))
        ).alias("rep"),
    )
    h = h60(
        F.md5(
            F.concat(
                F.col("user_id").cast("string"),
                F.lit(":"),
                F.col("rep").cast("string"),
            )
        )
    )
    wt = F.lit(9)
    for k in range(len(_POISSON1_CUM60) - 1, -1, -1):
        wt = F.when(h < F.lit(_POISSON1_CUM60[k]), F.lit(k)).otherwise(wt)
    per_rep = (
        expl.select("rep", "conv", wt.cast("long").alias("wt"))
        .groupBy("rep")
        .agg(
            F.sum(F.col("wt") * F.col("conv")).alias("num"),
            F.sum("wt").alias("den"),
        )
        .select(
            (
                F.col("num").cast("double")
                / F.nullif(F.col("den").cast("double"), F.lit(0.0))
            ).alias("rate")
        )
    )
    ci = per_rep.agg(
        F.count(F.lit(1)).alias("n_replicates"),
        F.round(F.percentile("rate", F.lit(0.025)), 6).alias("ci_lo"),
        F.round(F.percentile("rate", F.lit(0.975)), 6).alias("ci_hi"),
    )
    point = users.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("conv").alias("n_converted"),
    ).select(
        "n_users",
        "n_converted",
        F.round(
            F.col("n_converted").cast("double")
            / F.col("n_users").cast("double"),
            6,
        ).alias("p_hat"),
    )
    return point.crossJoin(ci).select(
        "n_users", "n_converted", "p_hat", "ci_lo", "ci_hi", "n_replicates"
    )


def audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap matrix: for every event-type pair, the exact
    Jaccard similarity of their user sets — the segmentation readout
    behind "do clickers also purchase" (near-1 pairs are redundant
    segments; near-0 pairs are disjoint audiences worth separate
    treatment). The set-sketch family's EXACT baseline: user_reach_kmv
    estimates one set's size, this measures pairwise set geometry.

    All-integer: |A∩B| from a user-co-located self-join of the
    DISTINCT (type, user) pairs (collapses map-side before any
    shuffle — the join moves |users|·|types| rows at most, never raw
    events), |A∪B| = |A|+|B|−|A∩B|, one division rounded 6. Output is
    the bounded |types|² upper triangle.
    """
    from pyspark import StorageLevel

    from metevents_spark.cache import track

    # persisted PRE-PARTITIONED on user_id (the _minhash_rep_pairs
    # pattern): tu feeds THREE consumers — both self-join sides and the
    # per-type size aggregate — and without the cache each re-scanned
    # events and re-paid the distinct exchange. The repartition on
    # user_id alone satisfies the (event_type, user_id) distinct's
    # clustered distribution AND the self-join's, so the cache is built
    # through one exchange and the join consumes it in place. The eager
    # count materializes the AQE cached plan so its output partitioning
    # is pinned before the join is planned (the edit_distance_pairs
    # lesson: an unexecuted cached plan reports unknown partitioning
    # and both join sides re-exchange).
    tu = track(
        load_table(spark, sf_dir, "events")
        .select("event_type", "user_id")
        .repartition("user_id")
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    tu.count()
    sizes = tu.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    a, b = tu.alias("a"), tu.alias("b").hint("shuffle_hash")
    inter = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    na = sizes.select(
        F.col("event_type").alias("type_a"), F.col("n").alias("n_a")
    )
    nb = sizes.select(
        F.col("event_type").alias("type_b"), F.col("n").alias("n_b")
    )
    union = (F.col("n_a") + F.col("n_b") - F.col("n_both")).cast("double")
    return (
        # broadcast: one row per event type (est 1.3 KB → 132 KB, sf0.001 → sf0.1)
        inter.join(F.broadcast(na), "type_a")
        # broadcast: one row per event type (est 1.3 KB → 132 KB, sf0.001 → sf0.1)
        .join(F.broadcast(nb), "type_b")
        .select(
            "type_a",
            "type_b",
            "n_a",
            "n_b",
            "n_both",
            F.round(F.col("n_both").cast("double") / union, 6).alias(
                "jaccard"
            ),
        )
        .orderBy("type_a", "type_b")
    )
