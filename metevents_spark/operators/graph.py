"""Iterative graph centrality over relationship graphs mined from the
fact tables.

The engine's Pregel-style tier: like ``dedup_clusters`` (text/dedup.py
connected components), each iteration is one join + one
map-side-combining aggregate, and the rounds run under
``cache.fixpoint`` (its docstring states the round contract).

PageRank here runs over the co-purchase part graph: parts are linked
when they appear in the same order (the product-graph construction
behind "customers also bought"), edge weight = number of co-purchase
orders. The walk follows weighted edges; the damping-mass budget uses
the textbook formulation with uniform teleport.

Scale shape:
  * Edge construction is the market_basket_lift pattern — the basket
    self-join is CO-LOCATED on l_orderkey, so pairs form inside each
    order's group (bounded by basket size), never across the corpus.
  * Each power-iteration round shuffles |edges| contribution rows into
    a groupBy(dst) whose partial aggregation collapses map-side; the
    rank frame is |nodes| rows.
  * Dangling mass (isolated parts never co-purchased are excluded by
    construction; a node set closed over edges has no danglers here)
    — the uniform teleport term keeps the chain ergodic regardless.
  * Iterations are CAPPED at ``n_iter`` with a convergence exit: the
    loop stops once max |Δrank| ≤ ``tol`` (a 1-row aggregate over the
    checkpointed |nodes|-sized frame on each check round — bounded
    driver state, same budget class as the CC convergence scalar in
    text/dedup.py). The default ``tol=0.0`` exits only at an EXACT
    fixed point, where every further round is an identity map — so
    output is bit-identical to the fixed-round contract while
    converged graphs skip the wasted rounds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from metevents_spark.cache import fixpoint, sum_settled, track
from metevents_spark.io import load_table

# rank micro-units per 1.0 of rank mass (part_pagerank integer
# arithmetic; see its docstring for the overflow budget)
_U = 1_000_000_000


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric weighted edge list (src, dst, w) over parts co-ordered
    at least once; w = number of distinct orders containing both.

    ONE exchange for the whole pipeline (r13 x100 lesson — the edge
    build was ~40% of pagerank's x100 wall): baskets are cached
    pre-partitioned on l_orderkey so the basket self-join probes the
    cache in place (a hash partitioning on a SUBSET of the grouping /
    join keys satisfies a clustered distribution, so the single
    repartition serves the distinct, the self-join, and — after the
    src repartition — the pair count AND every downstream src-keyed
    consumer). Both directions come straight out of the a != b
    self-join rather than union-mirroring an a < b half, so the
    output is symmetric AND hash(src)-partitioned as built."""
    items = track(
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .repartition("l_orderkey")
        .distinct()
        .persist()
    )
    return (
        items.alias("a")
        .join(items.alias("b").hint("shuffle_hash"), "l_orderkey")
        .filter(F.col("a.l_partkey") != F.col("b.l_partkey"))
        .select(
            F.col("a.l_partkey").alias("src"),
            F.col("b.l_partkey").alias("dst"),
        )
        .repartition("src")
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("w"))
    )


def _transition_frame(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(adj, nodes): the cached ADJACENCY-LIST transition frame + node
    set.

    r14 (guide §2.3 "shuffle fewer bytes" applied to the cache probe):
    the per-round join consumed the flat (src, dst, w) edge frame —
    |edges| cached rows hash-probed per round, with src and the
    node-level w_out repeated once PER EDGE. Grouping the edges into
    one row per source — (src, w_out, nbrs: array<struct<dst, w>>) —
    makes the round join |nodes| ⋈ |nodes| (the probe streams ~20-120x
    fewer rows on TPC-H-shaped co-purchase graphs) and the |edges|-
    sized contribution stream now materializes map-side from an
    explode AFTER the join, feeding straight into the partial
    aggregate. The adjacency build itself adds NO exchange: the edge
    frame leaves _copurchase_edges hash(src)-partitioned, which
    satisfies the groupBy(src) clustering in place.

    The frame is PERSISTED, not localCheckpointed: a checkpointed RDD
    scans back as UnknownPartitioning, so every round's join would
    re-shuffle the adjacency frame (the r13 x100 lesson, decade ratio
    23); an InMemoryRelation retains its child's output partitioning,
    so the per-round shuffle-hash join reuses the cache co-location
    and moves at most the |nodes|-sized rank frame.

    ``w_out`` (the per-source out-mass) lives as a column of the
    adjacency row — the separate |nodes|-sized out-mass join of the
    r13 shape is folded away entirely (one join per round, not two).
    Every node in this symmetric closed graph has out-degree >= 1,
    which is also why no dangling-mass term is needed.
    """
    adj = track(
        _copurchase_edges(spark, sf_dir)
        .groupBy("src")
        .agg(
            F.sum("w").alias("w_out"),
            F.collect_list(F.struct("dst", "w")).alias("nbrs"),
        )
        .persist()
    )
    nodes = adj.select(F.col("src").alias("pid"))
    return adj, nodes


def _next_ranks(
    adj: DataFrame, ranks: DataFrame, num_t: str, d_num: int
) -> DataFrame:
    """One power-iteration round: (pid, rank) -> the next (pid, rank).

    SHUFFLE_HASH on the rank side: the cached adjacency frame is
    hash-partitioned on src, so the join probes the cache in place — no
    per-round shuffle OR sort of the transition frame (SMJ would sort
    both sides; broadcast would collect |nodes| to the driver each
    round, which dies first on a billion-node graph). The join output is
    |nodes| rows; the |edges|-sized contribution stream is generated
    map-side by the explode and collapses in the partial aggregate
    before the single |nodes|-scale exchange. The next rank comes from
    that aggregate alone: every node of the symmetric co-purchase graph
    has in-edges, so no join with the previous ranks is needed, and the
    result leaves hash(pid)-partitioned like the cache. Exact integer
    rationals throughout (see part_pagerank). The plan shape is pinned
    by tests/test_plans.py.
    """
    teleport_int = ((10_000 - d_num) * _U) // 10_000  # exact for 0.85
    return (
        adj.join(
            ranks.withColumnRenamed("pid", "src").hint("shuffle_hash"),
            "src",
        )
        .select("rank", "w_out", F.explode("nbrs").alias("e"))
        .select(
            F.col("e.dst").alias("dst"),
            F.expr(
                f"CAST((2 * CAST(rank AS {num_t}) * e.w + w_out)"
                " DIV (2 * w_out) AS LONG)"
            ).alias("c"),
        )
        .groupBy(F.col("dst").alias("pid"))
        .agg(F.sum("c").alias("in_mass"))
        .select(
            "pid",
            (
                F.lit(teleport_int)
                + F.expr(
                    f"CAST((2 * {d_num} * CAST(in_mass AS {num_t}) + 10000)"
                    " DIV 20000 AS LONG)"
                )
            ).alias("rank"),
        )
    )


def _rank_arith_type(adj: DataFrame) -> str:
    """SQL type for the per-edge rank products: ``LONG`` when the
    worst case provably fits int64, else ``DECIMAL(38,0)``.

    Total rank mass is conserved at n_nodes*_U (no danglers), so no
    node's rank can exceed it and the per-edge product
    2*rank*w + w_out is bounded by 2*(n_nodes*_U)*max_w + max_w_out.
    When that worst case fits int64 the hot path runs in LONG
    (decimal(38,0) measured ~2x the round cost at sf0.1); past it —
    billion-node graphs or extreme hub weights — the same expressions
    run in decimal. Values are identical on both paths (the guard
    PROVES no wrap), so the DuckDB oracle's HUGEINT replay matches
    either. n_nodes (= |adj|: every node of this symmetric graph has
    out-degree >= 1), max(w_out) and max(w) share ONE driver job over
    the adjacency cache, which this job also fills.
    """
    n_row = adj.agg(
        F.count(F.lit(1)).alias("n"),
        F.max("w_out").alias("mo"),
        F.max(F.array_max(F.col("nbrs").getField("w"))).alias("mw"),
    ).first()
    mass = int(n_row["n"]) * _U
    # empty graph: the maxes are NULL; LONG trivially suffices
    wide = (
        2 * mass * int(n_row["mw"] or 0) + int(n_row["mo"] or 0) >= 2**63
        or 2 * 10_000 * mass + 10_000 >= 2**63
    )
    return "DECIMAL(38,0)" if wide else "LONG"


def part_pagerank(
    spark: SparkSession,
    sf_dir: str,
    damping: float = 0.85,
    n_iter: int = 12,
    top: int = 50,
    tol: float = 0.0,
) -> DataFrame:
    """Weighted PageRank over the co-purchase part graph: the product-
    centrality score behind recommendation seeds / crawl prioritization
    — the registry's iterative-graph-algorithm representative beside
    dedup_clusters' connected components.

    Converges early when max |Δrank| ≤ ``tol`` (default 0.0: exit only
    at an exact fixed point, where remaining rounds are identity maps
    — output identical to running all ``n_iter`` rounds); the round
    count lands in ``part_pagerank.last_n_rounds`` for tests/audits.
    Under tol=0.0 the delta is checked every 3rd round (and after the
    last); with tol > 0 after every round.

    Static round plans: the rounds run under ``cache.fixpoint``, whose
    docstring states the static-plan, lazy-checkpoint and release
    contract. Each round plans one exchange, the contribution aggregate,
    and the rounds up to each convergence check run as one job.

    INTEGER micro-unit arithmetic throughout (r13, the Lloyd-integer
    playbook from knn_ivf/semantic_dedup): ranks live in 1e-9 units
    (``_U``), each per-edge contribution is the half-away-rounded
    exact rational ``rank*w / w_out``, and damping applies as the
    rational (round(damping*1e4), 1e4). Every round is therefore a
    pure
    function of integers — bit-reproducible across partitionings and
    engines — which is what lets the full n_iter rounds replay as
    chained MATERIALIZED CTEs in the DuckDB oracle (queries.py
    ``_pagerank_ctes``). Quantization error per round is <=0.5e-9
    rank units, geometrically damped to ~3e-9 total — invisible at
    the ppm output grid (the numpy float differential in
    tests/test_round10_ops.py still passes at 2 ppm unchanged).
    Unit-size note for 100 TB: total mass is n_nodes*_U; _U=1e9 keeps
    the in-mass sums inside int64 to ~1e9 nodes, and a runtime guard
    (below) switches the per-edge products to decimal(38,0) exactly
    when the proven worst-case bound could wrap int64.

    The convergence exit (default tol=0.0: exact integer fixed point)
    commutes with the oracle's fixed n_iter rounds: at a fixed point
    every further round is the identity map on integers, so replaying
    all rounds yields the identical final state. Output ranks are
    quantized to integer ppm for presentation; ordering ties break on
    part id.
    """
    adj, nodes = _transition_frame(spark, sf_dir)

    d_num = int(round(damping * 10_000))
    tol_int = int(round(tol * _U))
    num_t = _rank_arith_type(adj)

    def settled(prev: DataFrame, nxt: DataFrame) -> bool:
        # both sides are hash(pid)-partitioned: the join plans no exchange
        d = prev.withColumnRenamed("rank", "prev").join(nxt, "pid")
        delta = d.agg(F.max(F.abs(d.rank - d.prev))).first()[0]
        return delta is not None and delta <= tol_int

    # ranks normalized to SUM = n_nodes*_U (the "mean rank 1.0"
    # convention, in micro-units). Under tol=0.0 the exit only fires at
    # an EXACT integer fixed point, where every further round is an
    # identity map, so checking the delta every 3rd round can only run
    # extra identity rounds and the final ranks are bit-identical. With
    # tol > 0 an overshoot WOULD change the output, so every round is
    # checked.
    ranks = nodes.select("pid", F.lit(_U).alias("rank"))
    ranks, part_pagerank.last_n_rounds = fixpoint(
        spark, ranks, lambda ranks, _: _next_ranks(adj, ranks, num_t, d_num),
        settled, n_iter, check_every=3 if tol_int == 0 else 1,
    )

    # micro-units -> ppm, half-away (matches the oracle's final CTE)
    w = F.expr(f"CAST((2 * rank + {_U // 1_000_000}) DIV"
               f" {2 * (_U // 1_000_000)} AS LONG)")
    return (
        ranks.select("pid", w.alias("rank_ppm"))
        .orderBy(F.desc("rank_ppm"), "pid")
        .limit(top)
    )


def copurchase_triangles(
    spark: SparkSession, sf_dir: str, top: int = 50
) -> DataFrame:
    """Per-part triangle participation in the co-purchase graph — the
    local-clustering signal behind community detection and
    recommendation quality (a part in many triangles sits inside a
    dense "bought-together" cluster; pagerank measures reach, this
    measures cohesion). Returns the ``top`` parts by triangle count
    (ties break on part id) — exact integers, nothing to round.

    Algorithm: degree-ordered edge orientation (compact-forward).
    Each undirected edge {u,v} orients from the lower (degree, id)
    endpoint to the higher; every triangle then materializes exactly
    once as two out-edges from its lowest-ordered corner plus the
    closing edge. Wedge work per node is out-degree², and orientation
    bounds out-degree by √(2m) — the classic distributed triangle
    bound, versus the unordered wedge join whose hub nodes explode as
    full-degree². The wedge set (Σ out² rows, the dominant
    intermediate) is checked against the closing edges with a LEFT
    SEMI join on one packed long key (8 B per edge), so only surviving
    triangles (3 ints each) reach the final map-side-combining
    groupBy. The degree and closing-edge frames grow with the edge
    list, so their join strategies are the planner's: AQE broadcasts a
    side whose runtime size fits and shuffles on the key beyond it.

    The oracle counts the same triangle set with id-ordering
    (u < v < w) — orientation changes which joins run, never which
    triangles exist, so per-part counts agree exactly.
    """
    # three consumers (degree count twice via the union, orientation
    # once) — persist so the basket self-join builds the edge list ONCE
    und = track(
        _copurchase_edges(spark, sf_dir)
        .filter(F.col("src") < F.col("dst"))
        .select("src", "dst")
        .persist()
    )
    # degree over the undirected graph: count both endpoint roles
    deg = track(
        und.select(F.col("src").alias("p"))
        .unionAll(und.select(F.col("dst").alias("p")))
        .groupBy("p")
        .agg(F.count(F.lit(1)).alias("deg"))
        .persist()
    )
    tagged = und.join(
        deg.select(F.col("p").alias("src"), F.col("deg").alias("ds")),
        "src",
    ).join(
        deg.select(F.col("p").alias("dst"), F.col("deg").alias("dd")),
        "dst",
    )
    lower_first = (F.col("ds") < F.col("dd")) | (
        (F.col("ds") == F.col("dd")) & (F.col("src") < F.col("dst"))
    )
    oriented = track(
        tagged.select(
            F.when(lower_first, F.col("src")).otherwise(F.col("dst")).alias("a"),
            F.when(lower_first, F.col("dst")).otherwise(F.col("src")).alias("b"),
            F.when(lower_first, F.col("dd")).otherwise(F.col("ds")).alias("db"),
        ).persist()
    )
    # wedges from a common lowest corner; order the two spokes by the
    # same (degree, id) key so each unordered spoke pair forms once
    e1, e2 = oriented.alias("e1"), oriented.alias("e2")
    spoke_lt = (F.col("e1.db") < F.col("e2.db")) | (
        (F.col("e1.db") == F.col("e2.db")) & (F.col("e1.b") < F.col("e2.b"))
    )
    wedges = e1.join(e2, (F.col("e1.a") == F.col("e2.a")) & spoke_lt).select(
        F.col("e1.a").alias("a"), F.col("e1.b").alias("b"), F.col("e2.b").alias("c")
    )
    # single-long edge key: the semi join hashes one long — measurably
    # faster to probe than a generic two-column struct key at tens of
    # millions of wedges. The packing is only collision-free for keys
    # in [0, 2^32); VERIFY that once on the bounded degree frame (one
    # row per part — a tiny aggregate over an already-persisted frame)
    # and fall back to the two-column key past the bound instead of
    # silently miscounting.
    lo, hi = deg.agg(F.min("p"), F.max("p")).first()
    if lo is not None and 0 <= lo and hi < 2**32:
        pack = lambda x, y: (
            F.shiftleft(F.col(x).cast("long"), 32) + F.col(y)
        )
        closing = oriented.select(pack("a", "b").alias("bc"))
        tri = wedges.withColumn("bc", pack("b", "c")).join(closing, "bc", "left_semi")
    else:
        closing = oriented.select(
            F.col("a").alias("b"), F.col("b").alias("c")
        )
        tri = wedges.join(closing, ["b", "c"], "left_semi")
    # one pass: explode each triangle's three corners (a unionAll of
    # three tri branches would re-run the wedge join three times)
    nodes = tri.select(
        F.explode(F.array("a", "b", "c")).alias("p_partkey")
    )
    return (
        nodes.groupBy("p_partkey")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
        .orderBy(F.desc("n_triangles"), "p_partkey")
        .limit(top)
    )


def copurchase_bfs_hops(
    spark: SparkSession, sf_dir: str, max_hops: int = 3
) -> DataFrame:
    """Level-synchronous BFS over the co-purchase graph: hop distance
    from the top-degree part (the canonical recommendation seed —
    deterministic: degree desc, id asc) to every part within
    ``max_hops``. Completes the graph tier's traversal family beside
    PageRank (global centrality), connected components, and triangles
    (local cohesion) — "how many recommendation steps away is X".

    The state is one ``reached(p_partkey, hops)`` frame, and the levels
    run under ``cache.fixpoint`` (its docstring states the round
    contract). Each level is ONE semi-join of the cached edges against
    the frontier (``reached``'s last level) + a distinct (map-side
    collapsing) + an anti-join against ``reached`` — the standard
    distributed BFS shape. Frontier and reached set are node-bounded
    while the edge list is orders of magnitude larger, so both joins
    force them to broadcast (``F.broadcast``) at every scale: each level
    is one map-side probe over the cached edges (a sort-merge join
    re-sorts all edges EVERY level: measured 8s vs 4.5s warm at sf0.1).
    Past the driver's broadcast budget the hints have to go, and the
    same plan then runs as co-partitioned shuffle joins. The loop stops
    early at the first empty level, whose successors are empty too.
    Hop counts are exact integers; the oracle replays the same
    ``max_hops`` levels as chained set differences.
    """
    edges = track(
        _copurchase_edges(spark, sf_dir).select("src", "dst").persist()
    )
    # the seed's EAGER checkpoint is the first action over the edges,
    # so it also fills their cache before any level reads it
    seed = track(
        edges.groupBy("src")
        .agg(F.count(F.lit(1)).alias("d"))
        .orderBy(F.desc("d"), "src")
        .limit(1)
        .select(F.col("src").alias("p_partkey"), F.lit(0).cast("long").alias("hops"))
        .localCheckpoint()
    )

    def level(reached: DataFrame, h: int) -> DataFrame:
        frontier = reached.filter(F.col("hops") == h).select(
            F.col("p_partkey").alias("src")
        )
        new = (
            # broadcast: static fixpoint round: no AQE to pick it at runtime
            edges.join(F.broadcast(frontier), "src", "left_semi")
            .select(F.col("dst").alias("p_partkey"))
            .distinct()
            # broadcast: static fixpoint round: no AQE to pick it at runtime
            .join(F.broadcast(reached.select("p_partkey")), "p_partkey", "left_anti")
            .select("p_partkey", F.lit(h + 1).cast("long").alias("hops"))
        )
        return reached.unionByName(new)

    # every new level's hops are >= 1, so an unchanged hop sum means
    # the level is empty
    reached, _ = fixpoint(spark, seed, level, sum_settled("hops"), max_hops)
    return reached.orderBy("hops", "p_partkey")
