"""Physical-plan assertions — the scale contract.

These tests pin the plan properties that make the engine viable at
100 TB: predicate/column pushdown into the parquet scan, exactly one
sid range exchange feeding window + run aggregation + output order,
broadcast of fixed-size dims, and no Python in native detector paths.
"""

from __future__ import annotations

import re

import pytest

from metevents_spark.io import load_csv_series, series_frame
from metevents_spark.operators import extreme_value, flat_line

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_of(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _single_sid_range_exchange(plan: str) -> None:
    """The per-series contract: exactly one exchange, a range exchange
    on sid, which serves the window/kernel stage and the final
    (sid, start) ordering alike."""
    exchanges = re.findall(r"Exchange \w+", plan)
    assert exchanges == ["Exchange rangepartitioning"], plan
    assert re.search(r"Exchange rangepartitioning\(sid#", plan), plan


def test_detector_single_series_exchange(spark):
    from metevents_spark.operators import data_gap, extreme_change

    df = series_frame(spark, SF)
    for events in (
        extreme_value(df, 400.0, 1.0),
        extreme_change(df),
        data_gap(df),  # NaN runs and gap rows: one window, one groupBy
    ):
        plan = plan_of(events)
        _single_sid_range_exchange(plan)
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_flat_line_windows_share_sort(spark):
    df = series_frame(spark, SF)
    plan = plan_of(flat_line(df, 2, 25.0))
    # lag-diff window and cumsum window must reuse one exchange+sort
    _single_sid_range_exchange(plan)
    assert len(re.findall(r"\bSort \[sid", plan)) <= 2, plan  # window + output


@pytest.mark.parametrize("detector", ["storm_find", "spike_valley"])
def test_kernel_detector_single_series_exchange(spark, detector):
    """The kernel's own range exchange orders its output; no second
    exchange re-runs the Python stage to sort it."""
    from metevents_spark import operators

    df = series_frame(spark, SF)
    events = getattr(operators, detector)(df)
    _single_sid_range_exchange(plan_of(events))
    rows = [(r.sid, r.start) for r in events.select("sid", "start").collect()]
    assert rows and rows == sorted(rows)


def test_scan_prunes_columns(spark):
    df = series_frame(spark, SF)
    plan = plan_of(extreme_value(df, 400.0, 1.0))
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert cols == {"event_id", "ts", "user_id", "value"}, cols


def test_filter_pushdown_reaches_scan(spark):
    from metevents_spark.io import load_table
    from pyspark.sql import functions as F

    line = load_table(spark, SF, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp")
    ).select("l_quantity")
    plan = plan_of(line)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan, plan


def test_region_revenue_broadcasts_dims(spark):
    from metevents_spark.relational import region_revenue

    plan = plan_of(region_revenue(spark, SF))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_csv_series_loads_reference_fixture(spark):
    import pathlib

    flv = "/root/reference/tests/data/mocks/flv.csv"
    if not pathlib.Path(flv).exists():
        pytest.skip("reference fixture unavailable")
    df = load_csv_series(spark, flv, ts_col="datetime", value_col="SNOWDEPTH",
                         sid_col="site")
    rows = df.orderBy("ts").collect()
    assert len(rows) == 240
    assert rows[0].sid == "FLV"
    assert rows[0].ts.strftime("%Y-%m-%d %H:%M") == "2022-09-30 08:00"


def test_anti_semi_joins_broadcast_key_side(spark):
    from metevents_spark.relational import big_spender_1995, customers_no_order_1996

    for fn, jtype in [(customers_no_order_1996, "LeftAnti"),
                      (big_spender_1995, "LeftSemi")]:
        plan = plan_of(fn(spark, SF))
        assert f"BroadcastHashJoin" in plan and jtype in plan, plan
        # only the custkey reaches the broadcast side
        assert "o_totalprice" not in re.search(
            r"BroadcastExchange.*", plan, re.S).group(0).split("Filter")[0], plan


def test_q17_pushes_brand_filter_to_scan(spark):
    from metevents_spark.relational import small_qty_part_revenue

    plan = plan_of(small_qty_part_revenue(spark, SF))
    assert "PushedFilters: [IsNotNull(p_brand), EqualTo(p_brand,Brand#13)" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_embedding_near_dup_no_cartesian(spark):
    from metevents_spark.similarity import embedding_near_dup

    plan = plan_of(embedding_near_dup(spark, SF))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_minhash_candidates_join_on_buckets(spark):
    from metevents_spark.text import minhash_near_dup

    df = minhash_near_dup(spark, SF)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # signature pipeline is persisted for the self-join
    assert "InMemoryTableScan" in plan, plan


def _round_plan_nodes(df) -> list[str]:
    """Physical node names of ``df``'s plan, each Exchange with its
    partitioning, WITHOUT descending into InMemoryTableScan: the cached
    adjacency build (a one-time cost) legitimately contains its own
    joins and exchanges, and its stringified form resets indentation
    inside AQE sections, so string filtering is not reliable. The walk
    sees the per-round plan only."""
    node = df._jdf.queryExecution().executedPlan()
    if node.nodeName() == "AdaptiveSparkPlan":
        node = node.initialPlan()
    names: list[str] = []

    def walk(n):
        name = n.nodeName()
        if name == "Exchange":
            name += " " + n.outputPartitioning().toString()
        names.append(name)
        if n.nodeName() == "InMemoryTableScan":
            return
        for i in range(n.children().length()):
            walk(n.children().apply(i))

    walk(node)
    return names


def _exchanges(names: list[str]) -> list[str]:
    return [n for n in names if n.startswith("Exchange")]


def test_pagerank_round_reuses_edge_partitioning(spark):
    """A power-iteration round must NOT shuffle or sort the transition
    frame, whatever partitioning its rank frame arrives with: the
    adjacency is cached pre-partitioned on src (an InMemoryRelation
    retains output partitioning), and the rank side carries a
    SHUFFLE_HASH hint — so the round plan is a ShuffledHashJoin probing
    the cache in place. Here the rank frame is an eager checkpoint
    under AQE, which scans back as UnknownPartitioning, so the round
    shuffles the |nodes|-sized rank frame besides the contribution
    aggregate; the static plans part_pagerank actually builds keep the
    rank partitioning and plan one exchange (next test)."""
    from metevents_spark.operators.graph import _next_ranks, _transition_frame

    adj, nodes = _transition_frame(spark, SF)
    nodes.count()  # materialize the caches, as part_pagerank does
    ranks = nodes.selectExpr("pid", "cast(1000000000 as long) as rank")
    names = _round_plan_nodes(_next_ranks(adj, ranks.localCheckpoint(), "LONG", 8500))
    assert "ShuffledHashJoin" in names, names
    assert "SortMergeJoin" not in names, names
    assert "InMemoryTableScan" in names, names
    # rank-side shuffle + aggregate shuffle only; the edge side must
    # contribute NO exchange (its hashpartitioning lives inside the
    # cached plan, not the round plan)
    assert len(_exchanges(names)) <= 2, names


def test_pagerank_static_round_plans_one_exchange(spark):
    """part_pagerank's round loop plans with AQE off, so a lazy rank
    checkpoint keeps hashpartitioning(pid): a round without a
    convergence check plans exactly ONE exchange, the contribution
    aggregate on dst, and the adjacency side none. A check round joins
    the previous ranks on pid without adding one."""
    from pyspark.sql import functions as F

    from metevents_spark.operators.graph import _next_ranks, _transition_frame

    adj, nodes = _transition_frame(spark, SF)
    nodes.count()
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        ranks = nodes.select("pid", F.lit(10**9).cast("long").alias("rank"))
        for _ in range(2):
            nxt = _next_ranks(adj, ranks, "LONG", 8500)
            names = _round_plan_nodes(nxt)
            (exchange,) = _exchanges(names)
            assert exchange.startswith("Exchange hashpartitioning(dst#"), names
            assert "ShuffledHashJoin" in names, names
            assert "InMemoryTableScan" in names, names
            ranks = nxt.localCheckpoint(eager=False)
        check = _round_plan_nodes(
            ranks.withColumnRenamed("rank", "prev").join(
                _next_ranks(adj, ranks, "LONG", 8500), "pid"
            )
        )
        assert len(_exchanges(check)) == 1, check
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)


def test_embedding_quantize_hoists_scale_out_of_fold(spark):
    """The absmax-derived scale must be projected ONCE per row, not
    inlined into the F.aggregate lambda — inlining re-evaluates the
    O(dim) absmax scan at every fold step, O(dim^2) interpreted work
    per row (measured 13x the registry median before the hoist). Pin
    it by counting array_max in the optimized plan: exactly one
    occurrence means CollapseProject kept the projection boundary."""
    from metevents_spark.similarity import embedding_quantize

    plan = optimized_of(embedding_quantize(spark, SF))
    assert plan.count("array_max") == 1, plan


def test_decontaminate_broadcasts_eval_grams(spark):
    from metevents_spark.text.pipeline import decontaminate_ngram

    plan = plan_of(decontaminate_ngram(spark, SF))
    # the eval-gram set is benchmark-sized, never corpus-sized: the
    # contamination check must be a broadcast join, not a shuffle join
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_sequence_pack_two_phase_prefix_sum(spark):
    from metevents_spark.text.pipeline import sequence_pack

    plan = plan_of(sequence_pack(spark, SF))
    windows = re.findall(r"Window \[.*?windowspecdefinition\((.*?)\)", plan)
    assert windows, plan
    # phase 1: the full document frame is windowed on (source, bucket),
    # never on source alone — a source-only window over raw documents
    # would put a billion-doc source on one task
    doc_windows = [s for s in windows if "doc_id#" in s]
    assert doc_windows, plan
    for spec in doc_windows:
        assert "bucket#" in spec, plan
    # phase 2: the source-only window exists but orders BUCKETS (the
    # 8192x-reduced aggregate frame), not documents
    src_windows = [s for s in windows if "doc_id#" not in s]
    assert src_windows, plan
    for spec in src_windows:
        assert "bucket#" in spec, plan
    # the expected exchanges: (source,bucket) for phase 1, the partial/
    # final bucket aggregate, source for phase 2, and the final pack
    # groupBy — anything beyond that means a redundant shuffle crept in
    assert len(re.findall(r"Exchange hashpartitioning", plan)) <= 4, plan


def test_repetition_stats_zero_shuffle_fold(spark):
    from metevents_spark.text.stats import repetition_stats

    plan = plan_of(repetition_stats(spark, SF))
    # the top-gram count is a map-side aggregate fold over the sorted
    # gram array: no hash exchange anywhere — a groupBy(doc_id, gram)
    # formulation would shuffle every 2-gram of the corpus
    assert "Exchange hashpartitioning" not in plan, plan


def test_source_mix_sample_is_map_side(spark):
    from metevents_spark.text.pipeline import source_mix_sample

    plan = plan_of(source_mix_sample(spark, SF))
    assert "Exchange hashpartitioning" not in plan, plan
    # only doc_id + source are read (the mixing predicate needs no text)
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and set(m.group(1).split(",")) <= {
        "doc_id:bigint", "source:string"
    }, plan


def test_no_query_plans_a_cartesian_product(spark):
    """Global guardrail over the whole registry: no query may plan a
    CartesianProduct. BroadcastNestedLoopJoin is tolerated only for the
    single-row scalar-aggregate cross joins (threshold/corpus-count
    broadcasts), which are O(n) by construction."""
    import __spark_entry__ as entrymod

    # top_price_orders / tfidf_top_terms / unigram_logprob: single-row
    # scalar-aggregate broadcasts; knn_cosine: corpus x tiny broadcast
    # query set (the exact brute-force baseline is a bounded cross join
    # by design)
    SINGLE_ROW_SCALAR = {
        "top_price_orders",
        "tfidf_top_terms",
        "knn_cosine",
        "unigram_logprob",
        "bigram_logprob",
        "event_pair_lift",
        "quality_bucket_sample",  # inherits unigram_logprob's 1-row total
        "rich_idle_customers",    # Q22 avg-balance scalar broadcast
        "important_parts",        # Q11 global-total scalar broadcast
        "top_supplier",           # Q15 max-revenue scalar broadcast
        "bm25_rank",              # 1-row (n_docs, avgdl) corpus stats
        "importance_resample",    # 1-row (tt, tr) distribution totals
        # fixed-size sample all-pairs by design: the calibration meter
        # cross-joins its 200-doc deterministic sample (sample^2/2
        # pairs regardless of corpus size — scale-independent cost)
        "dedup_recall_report",
        # 1-row corpus-count broadcast in the covariance formula
        "embedding_covariance",
        # 1-row corpus-total broadcast in the KL formula
        "source_token_kl",
        # 1-row n_orders broadcast in the support/lift formula
        "market_basket_lift",
        # 1-row corpus-end broadcast in the censoring predicate
        "survival_retention",
        # |sources| x 9 digit-grid densification (dimension-sized)
        "benford_deviation",
        # 1-row (n_rows, n_keys) totals broadcast onto the top-20 keys
        "key_skew_report",
        # 1-row corpus token total broadcast into the contingency cells
        "chi2_terms",
        # baseline rows x |event_types| dimension replication (the
        # candidate side tags itself with no join at all)
        "mann_whitney_u",
        # same replication plus a 1-row (vmin, vmax) bounds broadcast
        "mann_whitney_u_bucketed",
        # corpus x tiny broadcast anchor set, knn_cosine's bounded
        # brute-force shape (ANN shortlist is the 100 TB swap-in)
        "hard_negative_mining",
        # 1-row point estimate x 1-row CI assembly join
        "conversion_bootstrap_ci",
    }
    for name, fn in entrymod.queries().items():
        # the BPE entries EXECUTE their training (a word-count job, then
        # the in-memory merge loop) during DataFrame construction, so
        # building their plan here costs a full train for no signal
        # (bpe_learn's final plan is a local merge table);
        # tests/test_bpe.py asserts the encode plan's
        # shape (broadcast vocab, no cartesian) where the merges are
        # already cached
        # part_pagerank likewise EXECUTES its fixed-point iteration while
        # building the frame (per-round localCheckpoint), and its final
        # plan is a checkpointed LogicalRDD scan — no join signal there;
        # tests/test_round10_ops.py pins it end to end. The same
        # execute-on-construction + checkpointed-final-plan argument
        # covers the BFS traversal (final plan = union of checkpointed
        # frontier RDDs) and the connected-components pair
        # (dedup_clusters' convergence loop collects during
        # construction; its LSH candidate joins are pinned by
        # test_minhash_candidates_join_on_buckets, and survivor-pick's
        # own joins by its replay test)
        if name in (
            "bpe_learn",
            "bpe_token_count",
            "part_pagerank",
            "copurchase_bfs_hops",
            "dedup_clusters",
            "dedup_survivor_pick",
        ):
            continue
        plan = plan_of(fn(spark, SF))
        assert "CartesianProduct" not in plan, name
        if name not in SINGLE_ROW_SCALAR:
            assert "BroadcastNestedLoopJoin" not in plan, name


def test_oracle_keys_subset_of_queries():
    import __spark_entry__ as entrymod

    qs, osql = entrymod.queries(), entrymod.oracle_sql()
    assert set(osql) <= set(qs)
    assert len(osql) >= 40


def test_map_side_ops_have_no_hash_exchange(spark):
    """classifier_score / normalize_text / holdout_split promise
    zero-shuffle scoring (the only exchange is the deterministic
    output sort). A hash exchange appearing here means someone broke
    the map-side formulation."""
    from metevents_spark.text import classifier_score
    from metevents_spark.text.pipeline import holdout_split, normalize_text

    for fn in (classifier_score, normalize_text, holdout_split):
        plan = plan_of(fn(spark, SF))
        assert "Exchange hashpartitioning" not in plan, fn.__name__


def test_latest_event_uses_aggregate_not_window(spark):
    """The max_by formulation must plan a partial+final hash aggregate
    (one |users|-row shuffle), NOT a window sort over every event."""
    from metevents_spark.relational import latest_event_per_user

    plan = plan_of(latest_event_per_user(spark, SF))
    assert "max_by" in plan or "HashAggregate" in plan, plan
    assert "Window" not in plan, plan


def test_q6_no_join_full_pushdown(spark):
    """Q6 is the pushdown litmus: scan -> filter -> one aggregate,
    zero joins, and the date/discount/quantity predicates must reach
    the parquet scan."""
    from metevents_spark.relational.tpch import discounted_revenue

    plan = plan_of(discounted_revenue(spark, SF))
    assert "Join" not in plan, plan
    # the toString render truncates long filter lists with "...", so
    # match to end-of-line rather than the closing bracket
    pushed = re.search(r"PushedFilters: \[[^\n]*", plan).group(0)
    for frag in ("l_shipdate", "l_discount", "l_quantity"):
        assert frag in pushed, pushed


def test_q10_broadcasts_top20_not_customer(spark):
    """The 20-row revenue aggregate must be the broadcast build side;
    the customer table itself must never sit under a BroadcastExchange
    (it is not small at scale)."""
    from metevents_spark.relational.tpch import returned_item_customers

    plan = plan_of(returned_item_customers(spark, SF))
    assert "TakeOrderedAndProject" in plan, plan
    for bx in re.findall(r"BroadcastExchange[^\n]*\n(?:[ :+|-]*[^\n]*\n)*?", plan):
        assert "customer.parquet" not in bx, plan
    # stronger: customer scan appears exactly once and not inside the
    # subtree that feeds a broadcast (the top-20 side reads lineitem+orders)
    assert plan.count("customer.parquet") == 1, plan


def test_q19_single_lineitem_scan(spark):
    """The OR'd predicate bands must NOT expand into a union of three
    joins — exactly one lineitem scan in the plan."""
    from metevents_spark.relational.tpch import disjunctive_part_revenue

    plan = plan_of(disjunctive_part_revenue(spark, SF))
    assert plan.count("lineitem.parquet") == 1, plan
    assert "CartesianProduct" not in plan, plan


def test_q20_semi_join_and_q14_single_pass(spark):
    from metevents_spark.relational.tpch import heavy_shippers, promo_revenue_pct

    plan = plan_of(heavy_shippers(spark, SF))
    assert "LeftSemi" in plan, plan

    plan14 = plan_of(promo_revenue_pct(spark, SF))
    # conditional aggregation: numerator and denominator in one scan
    assert plan14.count("lineitem.parquet") == 1, plan14


def test_q8_q9_single_fact_scan_dims_broadcast(spark):
    """Q8/Q9: one lineitem scan each, every dimension chain on the
    broadcast side, share/profit computed in a single aggregate pass
    (no aggregate self-join)."""
    from metevents_spark.relational.tpch import (
        nation_market_share,
        product_type_profit,
    )

    plan8 = plan_of(nation_market_share(spark, SF))
    assert plan8.count("lineitem.parquet") == 1, plan8
    assert "BroadcastExchange" in plan8, plan8
    assert "CartesianProduct" not in plan8, plan8

    plan9 = plan_of(product_type_profit(spark, SF))
    assert plan9.count("lineitem.parquet") == 1, plan9
    assert "BroadcastExchange" in plan9, plan9
    # the p_name filter must reach the part scan
    pushed = re.findall(r"PushedFilters: \[[^\n]*", plan9)
    assert any("p_name" in p for p in pushed), plan9


def test_hash_sample_is_partial_topn_not_global_sort(spark):
    """The fixed-size sample must plan as TakeOrderedAndProject
    (per-partition partial top-n) — a global Sort before the limit
    would materialize the whole corpus ordering."""
    from metevents_spark.text.pipeline import hash_sample

    plan = plan_of(hash_sample(spark, SF))
    assert "TakeOrderedAndProject" in plan, plan
    assert "Sort " not in plan, plan


@pytest.mark.parametrize(
    "module, fn, group",
    [
        ("metevents_spark.similarity.knn", "knn_cosine", "q_id"),
        ("metevents_spark.relational.tpch", "top_customers_per_segment",
         "c_mktsegment"),
        ("metevents_spark.text.pipeline", "stratified_sample", "lang"),
    ],
)
def test_per_group_topk_plans_window_group_limit(spark, module, fn, group):
    """A per-group top-k is one ``row_number() <= k`` window: one hash
    exchange on the group column, with a Partial ``WindowGroupLimit``
    before it so each map partition ships at most k rows per group.
    The Partial limit disappears if k exceeds
    ``spark.sql.optimizer.windowGroupLimitThreshold``."""
    import importlib

    plan = plan_of(getattr(importlib.import_module(module), fn)(spark, SF))
    assert re.findall(r"Exchange hashpartitioning\((\w+)#\d+L?, \d+\)", plan) == [
        group
    ], plan
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1, plan
    assert re.search(r"WindowGroupLimit [^\n]*, Partial\n", plan), plan


@pytest.mark.parametrize(
    "module, fn",
    [
        ("metevents_spark.operators.graph", "copurchase_triangles"),
        ("metevents_spark.relational.tpch", "min_cost_supplier"),
        ("metevents_spark.relational.tpch", "shipping_priority"),
    ],
)
def test_sf_growing_sides_carry_no_forced_broadcast(spark, module, fn):
    """Sides that grow with SF (part, supplier, customer, co-purchase
    edges and degrees) are left to the planner's size estimates. With
    size-based broadcasting switched off, a ``BroadcastExchange`` in
    the plan could only come from a hand-written hint."""
    import importlib

    key = "spark.sql.autoBroadcastJoinThreshold"
    before = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        plan = plan_of(getattr(importlib.import_module(module), fn)(spark, SF))
    finally:
        spark.conf.set(key, before)
    assert "BroadcastExchange" not in plan, plan


def test_media_near_dup_grid_lsh_no_cartesian(spark):
    """Grid-LSH blocking: the pair stage is a grouped-map kernel over
    (b1, b2) cells — no cartesian/BNLJ anywhere. Two documents scans
    are the exact-dedup-first shape (hash pass feeding the persisted
    member->rep map + the representative payload fetch), matching the
    text minhash family."""
    from metevents_spark.multimodal.media import media_embedding_near_dup

    df = media_embedding_near_dup(spark, SF)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # the member->rep map is persisted AND materialized, so all five
    # consumers (rep fetch, two expansion sides, two intra sides) read
    # the cache instead of re-running the payload-hash pipeline. (A raw
    # FileScan line count is meaningless here: every InMemoryRelation
    # echoes its cached build plan, FileScans included, into toString.)
    assert plan.count("InMemoryTableScan") >= 5, plan


def test_doc_containment_splits_text_once(spark):
    """The shingle expression must reference the token array as a
    BOUND projected column: split(text) inlined into the transform
    lambda bodies re-splits the full document PER ARRAY ELEMENT —
    O(len^2) per doc (measured 27.5 s of a 27 s x10 run in the r13
    profile). With the binding, each echo of the shingle Project
    carries exactly one split; CollapseProject re-inlining it (the
    regression this test pins) would print 2+ splits per echo
    (size bound + slice body). array_distinct appears once per echo
    of the same expression, so it is the per-echo denominator."""
    from metevents_spark.text.dedup import doc_containment

    plan = optimized_of(doc_containment(spark, SF))
    n_split = plan.count("split(")
    n_echo = plan.count("array_distinct(")
    assert n_echo >= 1, plan
    assert n_split <= n_echo, (n_split, n_echo, plan)


@pytest.mark.parametrize(
    "key,max_splits",
    [
        # one binding projection; size/array_distinct/filter/transform
        # read the bound array instead of each re-splitting the text
        ("text_stats", 1),
        ("lang_id", 1),
        ("token_entropy", 1),
        ("token_count_bpe", 1),
        ("rolling_fingerprint", 1),
        ("doc_fingerprint", 1),
        ("corpus_summary", 1),
        ("corpus_yield", 1),
        ("classifier_score", 1),
        # word array + line array, each bound once
        ("gopher_quality", 2),
        # 1 binding + 2 echoes from InferFiltersFromGenerate's
        # size(e)>0 AND isnotnull(e) being pushed below the binding
        # projection (pre-existing; documented in OPTIMIZATION_r13.md)
        ("tfidf_top_terms", 3),
        # toks binding + 2 inferred-filter echoes + the avgdl scan
        ("bm25_rank", 4),
        # quality_filter's predicate is pushed below text_stats'
        # binding projection and re-inlined by PushDownPredicates
        # (5 echoes) + the binding itself (pre-existing; documented)
        ("quality_filter", 6),
    ],
)
def test_stats_family_binds_split_once(spark, key, max_splits):
    """r13: codegen does NOT CSE repeated split() references, so every
    text-stats operator binds its token/line array in its own
    projection and computes all metrics from the bound column —
    measured 2.2x end-to-end on a split-dominated corpus for the
    worst offender (gopher_quality: 10 inlined splits per row).
    CollapseProject re-inlining a binding (the regression this pins)
    multiplies the per-row split count back up."""
    from metevents_spark.queries import QUERIES

    plan = optimized_of(QUERIES[key](spark, SF))
    n_split = plan.count("split(")
    assert n_split <= max_splits, (key, n_split, plan)


def test_token_count_bpe_single_regex_scan(spark):
    """The BPE-piece regex scan (regexp_extract_all over the full
    text) must run once per row, not once per referencing metric."""
    from metevents_spark.queries import QUERIES

    plan = optimized_of(QUERIES["token_count_bpe"](spark, SF))
    assert plan.count("regexp_extract_all(") == 1, plan


def test_bm25_rank_scans_documents_twice_not_thrice(spark):
    """df comes from a COUNT window over the tf frame (exact: tf is
    keyed by (q_id, term, doc_id)), not an aggregate-then-join-back
    that re-computes the scan+explode subtree — 2 document scans
    (token pipeline + corpus avgdl), not 3."""
    from metevents_spark.queries import QUERIES

    plan = optimized_of(QUERIES["bm25_rank"](spark, SF))
    assert plan.count("] parquet") == 2, plan


def test_robust_zscore_single_scan_no_joins(spark):
    """Both exact medians (per-sid median and MAD) annotate rows via
    stacked windows over ONE sid partition — the grouped-median +
    join-back formulation scanned events 4x and paid 3 joins."""
    from metevents_spark.queries import QUERIES

    plan = optimized_of(QUERIES["robust_zscore"](spark, SF))
    assert plan.count("] parquet") == 1, plan
    assert "Join" not in plan, plan


def test_importance_resample_two_corpus_passes(spark):
    """Bucket-distribution totals come from an unpartitioned window
    over the n_buckets-row counts frame, not a second aggregate that
    re-derives the whole corpus explode+hash subtree — 2 document
    scans (per-doc candidates + distribution counts), not 3."""
    from metevents_spark.queries import QUERIES

    plan = optimized_of(QUERIES["importance_resample"](spark, SF))
    assert plan.count("] parquet") == 2, plan


def test_remove_duplicate_spans_filters_once(spark):
    """The O(tokens x spans) filter-with-exists is BOUND once per row;
    inlined into both n_removed and clean_text it ran twice (codegen
    does not CSE repeated references)."""
    from metevents_spark.queries import QUERIES

    plan = optimized_of(QUERIES["remove_duplicate_spans"](spark, SF))
    assert plan.count("exists(") == 1, plan


def test_conversion_bootstrap_ci_cohort_cached_no_left_join(spark):
    """The cohort (user_id, conv) builds in ONE events scan + one
    user_id exchange — signup_ts annotates rows via a user window and
    the rollup reuses its partitioning — and is persisted, so the
    point branch and the 200-replicate branch read the cache instead
    of re-running the old signup-agg -> purchase-join -> LeftOuter
    join-back subtree (6 parquet scans per run before)."""
    from metevents_spark.queries import QUERIES

    df = QUERIES["conversion_bootstrap_ci"](spark, SF)
    node = df._jdf.queryExecution().executedPlan()
    if node.nodeName() == "AdaptiveSparkPlan":
        node = node.initialPlan()
    names: list[str] = []

    def walk(n):
        names.append(n.nodeName())
        if n.nodeName() == "InMemoryTableScan":
            return
        for i in range(n.children().length()):
            walk(n.children().apply(i))

    walk(node)
    # every parquet scan lives inside the cached cohort build; both
    # consumers read the InMemoryRelation
    assert not any(nm.startswith("Scan parquet") for nm in names), names
    assert names.count("InMemoryTableScan") >= 2, names
    # the old cohort shape is gone entirely
    full = plan_of(df)
    assert "LeftOuter" not in full, full


def test_winsorize_series_single_scan_no_join(spark):
    """The percentile band annotates rows in place via an unbounded
    window over the sid partition — the grouped-percentile/join-back
    shape scanned events twice and paid a join."""
    from metevents_spark.queries import QUERIES

    plan = optimized_of(QUERIES["winsorize_series"](spark, SF))
    assert plan.count("] parquet") == 1, plan
    assert "Join" not in plan, plan


def test_contamination_fraction_map_side_dedup(spark):
    """Per-doc gram dedup happens map-side (array_distinct before the
    explode), so the corpus-wide (doc_id, gram) dedup exchange is gone
    and the per-doc rollup partial-aggregates before a |docs|-row
    exchange."""
    from metevents_spark.queries import QUERIES

    plan = plan_of(QUERIES["contamination_fraction"](spark, SF))
    assert "array_distinct" in plan, plan
    assert not re.search(
        r"Exchange hashpartitioning\(doc_id#\d+L?, gram", plan
    ), plan


def test_lineitem_unpivot_no_expand_single_pass(spark):
    """Per-metric totals fold in ONE aggregate pass over the wide
    lineitem row (a 3-element literal explode reshapes the result) —
    the unpivot-then-groupBy shape Expanded every fact row 3x before
    aggregating."""
    from metevents_spark.queries import QUERIES

    plan = plan_of(QUERIES["lineitem_unpivot"](spark, SF))
    assert "Expand" not in plan, plan
    assert plan.count("Scan parquet") == 1, plan


def test_ngram_novelty_single_explode_single_gram_exchange(spark):
    """Both per-shard aggregates (distinct grams, first-seen grams)
    derive from ONE scan+explode pass and ONE gram exchange — the
    repartition on gram alone satisfies the (gram, shard) dedup AND
    the min-shard window, and the old second corpus pass + join are
    gone."""
    from metevents_spark.queries import QUERIES

    plan = optimized_of(QUERIES["ngram_novelty"](spark, SF))
    assert plan.count("] parquet") == 1, plan
    phys = plan_of(QUERIES["ngram_novelty"](spark, SF))
    assert len(re.findall(r"Exchange hashpartitioning\(gram", phys)) == 1, phys


def test_edit_distance_pairs_self_join_reads_cache_in_place(spark):
    """The prefix-bucket self-join consumes the ph-partitioned cache
    on both sides: no ph exchange in the outer plan (the one exchange
    lives inside the cached build), and the join is a hash build, not
    a sort-merge over kilobyte text rows."""
    from metevents_spark.queries import QUERIES

    df = QUERIES["edit_distance_pairs"](spark, SF)
    node = df._jdf.queryExecution().executedPlan()
    if node.nodeName() == "AdaptiveSparkPlan":
        node = node.initialPlan()
    exchanges: list[str] = []
    names: list[str] = []

    def walk(n):
        names.append(n.nodeName())
        if n.nodeName() == "InMemoryTableScan":
            return
        if n.nodeName() == "Exchange":
            exchanges.append(n.toString().splitlines()[0])
        for i in range(n.children().length()):
            walk(n.children().apply(i))

    walk(node)
    assert names.count("InMemoryTableScan") >= 2, names
    assert not any("(ph#" in e for e in exchanges), exchanges
    assert "SortMergeJoin" not in names, names


def _outer_walk(df):
    """Node names + Exchange headlines of the executed plan WITHOUT
    descending into InMemoryTableScan (cached builds are one-time
    costs; their stringified plans repeat per consumer)."""
    node = df._jdf.queryExecution().executedPlan()
    if node.nodeName() == "AdaptiveSparkPlan":
        node = node.initialPlan()
    names: list[str] = []
    exchanges: list[str] = []

    def walk(n):
        names.append(n.nodeName())
        if n.nodeName() == "InMemoryTableScan":
            return
        if n.nodeName() == "Exchange":
            exchanges.append(n.toString().splitlines()[0])
        for i in range(n.children().length()):
            walk(n.children().apply(i))

    walk(node)
    return names, exchanges


def test_unigram_logprob_two_corpus_passes(spark):
    """The corpus token total rides the vocab-sized tf frame as an
    unpartitioned window sum — the old total = tf.agg(...) re-derived
    the whole scan+explode+agg subtree for one scalar (3 document
    scans, now 2)."""
    from metevents_spark.queries import QUERIES

    plan = optimized_of(QUERIES["unigram_logprob"](spark, SF))
    assert plan.count("] parquet") == 2, plan


def test_bigram_logprob_windows_not_join_back(spark):
    """Both corpus counts (bigram, history) annotate the bigram stream
    as stacked window counts over one w1 exchange — the
    aggregate-then-join-back shape scanned documents 4x and re-shuffled
    the stream per join (now 2 scans: bigrams + vocab)."""
    from metevents_spark.queries import QUERIES

    plan = optimized_of(QUERIES["bigram_logprob"](spark, SF))
    assert plan.count("] parquet") == 2, plan
    phys = plan_of(QUERIES["bigram_logprob"](spark, SF))
    assert len(re.findall(r"Exchange hashpartitioning\(w1", phys)) == 1, phys


def test_conversion_lag_single_scan_no_join(spark):
    """The signup timestamp annotates rows via a user window and the
    qualifying-purchase MIN folds in the same rollup — the old shape
    scanned events 3x through two joins."""
    from metevents_spark.queries import QUERIES

    plan = optimized_of(QUERIES["conversion_lag"](spark, SF))
    assert plan.count("] parquet") == 1, plan
    assert "Join" not in plan, plan


def test_mann_whitney_bucketed_three_event_scans(spark):
    """The distinct-group list and global [min, max] fold into ONE
    cached aggregate pass (collect_set, no driver collect) — 3 events
    scans outside the cache (cand + base), not 4."""
    from metevents_spark.queries import QUERIES

    names, _ = _outer_walk(QUERIES["mann_whitney_u_bucketed"](spark, SF))
    scans = [nm for nm in names if nm.startswith("Scan parquet")]
    assert len(scans) == 2, names


def test_audience_overlap_single_distinct_cached(spark):
    """The distinct (type, user) frame is cached pre-partitioned on
    user_id: all three consumers (both self-join sides, sizes) read the
    cache, no events scan or user_id exchange remains in the outer
    plan."""
    from metevents_spark.queries import QUERIES

    names, exchanges = _outer_walk(QUERIES["audience_overlap"](spark, SF))
    assert not any(nm.startswith("Scan parquet") for nm in names), names
    assert names.count("InMemoryTableScan") >= 3, names
    assert not any("user_id#" in e for e in exchanges), exchanges


def test_mad_drift_median_table_cached(spark):
    """The 2x|types| median table persists: the MAD deviation pass is
    the only events scan left outside the cache (the med x mad join's
    second derivation is gone)."""
    from metevents_spark.queries import QUERIES

    names, _ = _outer_walk(QUERIES["mad_drift"](spark, SF))
    scans = [nm for nm in names if nm.startswith("Scan parquet")]
    assert len(scans) == 1, names


def test_dedup_recall_sample_picked_once(spark):
    """The 200-doc sample is a TakeOrdered over ALL representatives;
    persisted, the pass runs once inside the cached build — the outer
    plan (4 consumers) contains no TakeOrderedAndProject."""
    from metevents_spark.queries import QUERIES

    names, _ = _outer_walk(QUERIES["dedup_recall_report"](spark, SF))
    assert "TakeOrderedAndProject" not in names, names
