"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k is the exact baseline: a broadcast join of the
(tiny) query set against the corpus with JVM-side dot products
(zip_with/aggregate — no Python, no UDF), then a per-query top-k window.
At 100 TB the corpus side stays partition-parallel; only the k results
per query shuffle.

The scale path is random-hyperplane LSH bucketing (knn_lsh): sign-bit
sketches computed JVM-side against broadcast hyperplanes; candidates
only form within a bucket.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from metevents_spark.cache import track
from metevents_spark.io import load_table, local_frame
from metevents_spark.numeric import round_half_away
from metevents_spark.operators.grouped import columns_frame


# Shared coarse-quantizer geometry for the IVF family. knn_ivf_pq and
# ann_recall_report must agree on these: the report trains ONE coarse
# quantizer and hands it to both IVF tiers, so a drive-by change to a
# signature default that skipped these constants would silently make
# the meter measure a different index than the deployed paths.
IVF_PQ_N_CELLS = 8
IVF_TRAIN_ITERS = 2


def _as_double(col):
    return F.transform(col, lambda x: x.cast("double"))


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _norm(col):
    return F.sqrt(_dot(col, col))


def embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label norm statistics — sanity surface for the vector ops."""
    emb = load_table(spark, sf_dir, "embeddings")
    v = _as_double(F.col("embedding"))
    return (
        emb.select("label", _norm(v).alias("norm"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("norm"), 6).alias("avg_norm"),
            F.round(F.min("norm"), 6).alias("min_norm"),
            F.round(F.max("norm"), 6).alias("max_norm"),
        )
        .orderBy("label")
    )


def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization report per vector: absmax scale
    (absmax/127) and the RMS reconstruction error of
    ``round(v/scale) * scale`` — the compression step a vector store
    applies before indexing billions of embeddings, plus the error
    audit that decides whether int8 is safe for the corpus.

    Entirely map-side higher-order array expressions (transform /
    aggregate fold, no explode, no shuffle except the output sort).
    Rounding uses ``floor(x + 0.5)`` — engine-portable, unlike
    round-half-even vs half-up divergence at exact .5 ties.

    ``scale`` is hoisted into its own projection *before* the fold so
    the absmax subtree evaluates once per row. Referencing it directly
    inside the ``F.aggregate`` lambda lets Catalyst inline the whole
    absmax tree into every fold step — O(dim^2) interpreted work per
    row (measured 13x the registry median). CollapseProject keeps the
    boundary because the alias is non-cheap and referenced more than
    once in the fold body.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    proj = emb.select(
        "vec_id", _as_double(F.col("embedding")).alias("v")
    ).select(
        "vec_id",
        "v",
        F.array_max(F.transform(F.col("v"), lambda x: F.abs(x))).alias("absmax"),
    ).select(
        "vec_id",
        "v",
        "absmax",
        (F.col("absmax") / F.lit(127.0)).alias("q_scale"),
    )
    scale = F.col("q_scale")
    err_sq = F.aggregate(
        F.col("v"),
        F.lit(0.0),
        lambda acc, x: acc
        + F.pow(x - F.floor(x / scale + 0.5) * scale, 2),
    )
    rms = F.sqrt(err_sq / F.size(F.col("v")))
    return (
        proj.select(
            "vec_id",
            F.size(F.col("v")).cast("long").alias("dim"),
            F.round(scale, 9).alias("scale"),
            F.when(F.col("absmax") == 0.0, F.lit(0.0))
            .otherwise(F.round(rms, 9))
            .alias("rms_err"),
        )
        .orderBy("vec_id")
    )


def _topk_per_query(scored: DataFrame, k: int) -> DataFrame:
    """Exact top-k of (q_id, vec_id, cosine) per query, ranked by
    (cosine desc, vec_id), with the rank as a long column.

    One ``row_number() <= k`` window over q_id. Spark plans it as a
    ``WindowGroupLimit`` Partial before the q_id exchange and Final
    after it, so each map partition ships at most k rows per query even
    when one query's candidates are the whole corpus. That bound holds
    only while k <= ``spark.sql.optimizer.windowGroupLimitThreshold``
    (default 1000); the largest k here is knn_ivf_pq's shortlist,
    ``k * rerank_factor``.
    """
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .orderBy("q_id", "rank")
    )


def knn_cosine(
    spark: SparkSession,
    sf_dir: str,
    k: int = 5,
    n_queries: int = 5,
    emb: DataFrame | None = None,
) -> DataFrame:
    """Exact cosine top-k of every corpus vector against the first
    ``n_queries`` vectors (self-matches excluded). Cosine is rounded to
    6 decimals *before* ranking so ordering is engine-deterministic.

    ``emb`` lets a caller (ann_recall_report) supply an already-persisted
    embeddings frame so side-by-side ANN runs share ONE corpus scan."""
    if emb is None:
        emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.select(
        F.col("vec_id"), _as_double(F.col("embedding")).alias("v"),
        _norm(_as_double(F.col("embedding"))).alias("v_norm"),
    )
    queries = emb.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("q_id"),
        _as_double(F.col("embedding")).alias("q"),
        _norm(_as_double(F.col("embedding"))).alias("q_norm"),
    )
    sim = F.round(_dot(F.col("v"), F.col("q")) / (F.col("v_norm") * F.col("q_norm")), 6)
    scored = (
        # broadcast: the n_queries query rows (est 258 KB → 1.1 MB, sf0.001 → sf0.1)
        corpus.crossJoin(F.broadcast(queries))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id", sim.alias("cosine"))
    )
    return _topk_per_query(scored, k)


_PAIR_CHUNK = 512


def cosine_pairs(
    m: np.ndarray, norms: np.ndarray, threshold: float, start: int = 0
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Every row pair ``i < j`` of ``m`` with ``j >= start`` whose cosine
    ``round(m_i·m_j / (norms_i·norms_j), 6)`` is ``>= threshold``, as
    ``(i, j, cos)`` arrays, row-major in ``j`` with ``i`` ascending.

    The one within-block pair sweep of the embedding near-dup kernels:
    row chunks ``j0:j1`` of ``m[start:]`` are scored against
    ``m[:j1]``, so peak extra memory is chunk × n, never n², and
    ``start`` limits the work to pairs that touch a row at or after it
    (a stream's new rows). Only candidates at ``threshold - 1e-6`` or
    above are rounded: ``round6(s) >= t`` implies ``s >= t - 5e-7``,
    so the prefilter cannot drop a pair. A zero-norm row pairs with
    nothing, at any threshold."""
    parts = [(np.empty(0, np.intp), np.empty(0, np.intp), np.empty(0))]
    for j0 in range(start, len(m), _PAIR_CHUNK):
        j1 = min(j0 + _PAIR_CHUNK, len(m))
        denom = norms[j0:j1, None] * norms[:j1]
        sims = np.full(denom.shape, np.nan)
        np.divide(m[j0:j1] @ m[:j1].T, denom, out=sims, where=denom > 0)
        cand = sims >= threshold - 1e-6
        cand &= np.arange(j1) < np.arange(j0, j1)[:, None]
        rj, ci = np.nonzero(cand)
        cos = round_half_away(sims[rj, ci], 6)
        keep = cos >= threshold
        parts.append((ci[keep], rj[keep] + j0, cos[keep]))
    i, j, cos = (np.concatenate(p) for p in zip(*parts))
    return i, j, cos


def _block_near_dups(
    m: np.ndarray, ids: np.ndarray, threshold: float
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Near-duplicate pairs of one block, rows ``m`` with ascending
    ``ids``, as ``(vec_a, vec_b, cos)`` arrays with ``vec_a < vec_b``.

    Pairs are scored over UNIQUE rows with :func:`cosine_pairs` and
    expand back over the duplicate groups: identical vectors have
    cosine 1.0 with each other and their group's cosine with everyone
    else, so the scoring scales with distinct vectors, not copies. The
    expansion is vectorized from group offsets (a stable argsort of the
    unique-row index), one row per member pair, in pair order."""
    uniq, inverse = np.unique(m, axis=0, return_inverse=True)
    inverse = inverse.reshape(-1)
    members = ids[np.argsort(inverse, kind="stable")]  # grouped, ids ascending
    counts = np.bincount(inverse, minlength=len(uniq))
    starts = np.cumsum(counts) - counts
    i, j, cos = cosine_pairs(uniq, np.sqrt((uniq * uniq).sum(axis=1)), threshold)
    if threshold <= 1.0:  # the pairs inside each duplicate group
        g = np.flatnonzero(counts > 1)
        i, j = np.concatenate([i, g]), np.concatenate([j, g])
        cos = np.concatenate([cos, np.ones(len(g))])
    size = counts[i] * counts[j]
    pair = np.repeat(np.arange(len(i)), size)
    k = np.arange(len(pair)) - np.repeat(np.cumsum(size) - size, size)
    width = counts[j][pair]
    pa = starts[i][pair] + k // width
    pb = starts[j][pair] + k % width
    keep = (i != j)[pair] | (pa < pb)
    a, b = members[pa[keep]], members[pb[keep]]
    return np.minimum(a, b), np.maximum(a, b), cos[pair[keep]]


def embedding_near_dup(
    spark: SparkSession, sf_dir: str, threshold: float = 0.35
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, blocked by label.

    The blocking key (here ``label``; in production a coarse cluster id
    or LSH bucket) bounds the pairwise work to within-block — never an
    all-pairs product over the corpus. Each block is one
    ``applyInPandas`` call (Arrow transfer, numpy float64) whose pairs
    come from :func:`cosine_pairs`; blocks shuffle once on the blocking
    key and scale out across executors; :func:`_block_near_dups` expands
    them over duplicate rows. Cosine uses dot/(|a||b|) in
    float64 and rounds to 6 decimals before the threshold cut, matching
    the oracle.
    """
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", "embedding"
    )
    out_schema = "vec_a long, vec_b long, label int, cosine double"
    fields = StructType.fromDDL(out_schema).fields

    def block_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id")
        a, b, cos = _block_near_dups(
            np.stack(pdf["embedding"].to_numpy()).astype(np.float64),
            pdf["vec_id"].to_numpy(),
            threshold,
        )
        label = np.full(len(a), pdf["label"].iloc[0])
        return columns_frame(fields, [(a, b, label, cos)])

    return (
        emb.groupBy("label")
        .applyInPandas(block_pairs, out_schema)
        .orderBy("vec_a", "vec_b")
    )


def knn_ivf(
    spark: SparkSession,
    sf_dir: str,
    k: int = 5,
    n_queries: int = 5,
    n_cells: int = 16,
    nprobe: int = 4,
    train_iters: int = IVF_TRAIN_ITERS,
    emb: DataFrame | None = None,
    state: tuple[np.ndarray, np.ndarray] | None = None,
) -> DataFrame:
    """IVF-flat approximate top-k: a coarse quantizer of ``n_cells``
    centroids partitions the corpus into inverted lists; each query
    probes only its ``nprobe`` nearest cells and runs exact cosine there.

    The coarse quantizer is TRAINED: ``train_iters`` ENGINE-EXACT Lloyd
    rounds (semdedup.lloyd_state — integer micro-unit member sums, one
    mapInPandas pass per round, k x dim driver state, seeded by the k
    lowest vec_ids). Untrained first-n vectors looked fine on this
    uniform synthetic corpus but skew cells badly on real (clustered)
    embedding distributions — most of the corpus lands in a few cells,
    nprobe misses grow, and the quadratic in-cell scan concentrates.
    Training cost is ``train_iters`` linear scans, amortized across
    every query served by the index. Cell assignment is map-side only:
    the integer state ships in the UDF closure and the argmax over
    per-cell scores is one numpy integer matmul per Arrow batch — no
    shuffle, no per-row Python. The only shuffles are the cell-key
    candidate join and the final per-query top-k.

    Because training, assignment, probing, and ranking all reduce to
    exact integer arithmetic plus fixed float expressions, the ENTIRE
    query replays in DuckDB SQL (ORACLE_SQL["knn_ivf"] regenerates the
    Lloyd rounds as chained CTEs) — hash-green driver rows for a
    trained vector index (r11; was rows-only). Probe order ties break
    (score desc, cell asc) in both engines.
    """
    from metevents_spark.similarity.semdedup import _int_scores, lloyd_state

    if emb is None:
        emb = load_table(spark, sf_dir, "embeddings")
    if state is None:
        state = lloyd_state(
            emb.select("vec_id", "embedding"), n_cells, train_iters
        )
    svec, _cnt = state
    from metevents_spark.similarity.semdedup import _quantize_units

    @F.pandas_udf("int")
    def nearest_cell(embs: pd.Series) -> pd.Series:
        mi = _quantize_units(np.stack(embs.to_numpy()).astype(np.float64))
        return pd.Series(
            _int_scores(mi, svec).argmax(axis=1).astype(np.int32)
        )

    @F.pandas_udf("array<int>")
    def probe_cells(embs: pd.Series) -> pd.Series:
        mi = _quantize_units(np.stack(embs.to_numpy()).astype(np.float64))
        # stable argsort of -scores: ties keep ascending cell order,
        # matching the oracle's ROW_NUMBER (score DESC, cell ASC)
        order = np.argsort(
            -_int_scores(mi, svec), axis=1, kind="stable"
        )[:, :nprobe]
        return pd.Series(list(order.astype(np.int32)))

    base = emb.select(
        "vec_id",
        "embedding",
        _as_double(F.col("embedding")).alias("v"),
        _norm(_as_double(F.col("embedding"))).alias("v_norm"),
    )
    assigned = base.select(
        "vec_id", "v", "v_norm", nearest_cell("embedding").alias("cell")
    )
    queries = (
        base.filter(F.col("vec_id") < n_queries)
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("v").alias("q"),
            F.col("v_norm").alias("q_norm"),
            F.explode(probe_cells("embedding")).alias("cell"),
        )
    )

    sim = F.round(
        _dot(F.col("v"), F.col("q")) / (F.col("v_norm") * F.col("q_norm")), 6
    )
    scored = (
        # broadcast: n_queries × nprobe rows (est 261 KB → 1.1 MB, sf0.001 → sf0.1)
        assigned.join(F.broadcast(queries), "cell")
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id", sim.alias("cosine"))
    )
    return _topk_per_query(scored, k)


def _md5_planes(
    num_planes: int, dim: int, seed: int, scale: int = 1 << 20
) -> np.ndarray:
    """Integer hyperplane matrix on the engine-portable 60-bit md5
    grid: entry(r, d) = h60(f"{seed}:{r}:{d}") % (2*scale+1) − scale,
    a symmetric uniform over [−scale, scale]. hashlib.md5 here equals
    md5() in Spark SQL and DuckDB, so an oracle regenerates the exact
    planes from the same three-part key. Built once on the driver
    (num_planes·dim md5 calls — thousands, not millions) and shipped
    in the sketch UDF closure."""
    import hashlib

    mod = 2 * scale + 1
    out = np.empty((num_planes, dim), dtype=np.int64)
    for r in range(num_planes):
        for d in range(dim):
            h = int(
                hashlib.md5(f"{seed}:{r}:{d}".encode()).hexdigest()[:15], 16
            )
            out[r, d] = h % mod - scale
    return out


def knn_lsh(
    spark: SparkSession,
    sf_dir: str,
    k: int = 5,
    n_queries: int = 5,
    nbits: int = 8,
    num_tables: int = 8,
    dim: int = 64,
    seed: int = 42,
    probe_hamming: int = 2,
    emb: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k: random-hyperplane LSH with ``num_tables``
    INDEPENDENT sketch tables plus Hamming-``probe_hamming``
    multi-probe per table.

    One table is not enough for top-k ranking: a sign bit agrees for a
    cosine-theta pair with probability 1 - theta/pi, so at the
    moderate similarities that dominate real top-k lists (cosine ~0.3
    -> p ~ 0.6) a single 8-bit bucket-with-probes lookup catches under
    10% of true neighbors — measured recall@5 of 0.04 on the test
    corpus. Independent tables give every neighbor a fresh collision
    chance (recall ~ 1-(1-r)^L), and multi-probe raises the per-table
    catch rate r without duplicating the index: Hamming-1 probes at
    L=8 measured recall@5 0.56 on the sf0.01 corpus; Hamming-2 (the
    default: 1 + nbits + C(nbits,2) = 37 probed buckets per table)
    lifts that to 0.92 (0.96 at sf0.1) at the same table count — the
    index-light end of the quality/cost curve, preferred over more
    tables because every extra table re-sketches and re-stores the
    whole corpus while probes only widen the broadcast probe frame
    (the ann_recall_report operator is the meter). Candidate
    volume scales as L*(probes)*corpus/2^nbits — the standard LSH
    quality/cost knob; everything stays bucket-scoped, the probe frame
    (queries x L x probes rows) broadcasts, and candidates dedupe
    on (q_id, vec_id) before ranking so multi-table hits count once.

    ENGINE-PORTABLE hash family (r11, was seeded-RNG gaussians):
    hyperplane entries come from the 60-bit md5 grid
    (entry(r,d) = h60("{seed}:{r}:{d}") mod (2^21+1) − 2^20, a
    symmetric integer uniform — sign-LSH needs only symmetry around
    zero for unbiasedness) and vectors quantize to integer micro-units
    before the sign test, so every sketch bit is an EXACT int64
    comparison any engine reproduces bit-for-bit. That turns the whole
    query — bucket assignment, multi-probe, candidate set, ranking —
    into a DuckDB SQL replay (ORACLE_SQL["knn_lsh"]), upgrading the
    driver check from rows-only to hash-green; measured recall@5 is
    unchanged from the gaussian family (the recall-floor pytest in
    tests/test_neardup.py is the meter)."""
    planes = _md5_planes(num_tables * nbits, dim, seed)
    weights = (1 << np.arange(nbits)).astype(np.int64)

    @F.pandas_udf("array<long>")
    def sketch(embs: pd.Series) -> pd.Series:
        m = np.stack(embs.to_numpy()).astype(np.float64)
        mi = round_half_away(m * 1e6).astype(np.int64)
        bits = (mi @ planes.T) > 0  # exact integer dots, (n, L*nbits)
        per_table = bits.reshape(len(mi), num_tables, nbits) @ weights
        return pd.Series(list(per_table.astype(np.int64)))

    if emb is None:
        emb = load_table(spark, sf_dir, "embeddings")
    sketched = emb.select(
        "vec_id",
        _as_double(F.col("embedding")).alias("v"),
        _norm(_as_double(F.col("embedding"))).alias("v_norm"),
        sketch("embedding").alias("buckets"),
    )
    base = sketched.select(
        "vec_id",
        "v",
        "v_norm",
        F.posexplode("buckets").alias("table", "bucket"),
    )
    masks = [0]
    if probe_hamming >= 1:
        masks += [1 << b for b in range(nbits)]
    if probe_hamming >= 2:
        masks += [
            (1 << i) | (1 << j)
            for i in range(nbits)
            for j in range(i + 1, nbits)
        ]
    queries = (
        base.filter(F.col("vec_id") < n_queries)
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("v").alias("q"),
            F.col("v_norm").alias("q_norm"),
            F.col("table").alias("q_table"),
            F.explode(
                F.array(*[F.col("bucket").bitwiseXOR(F.lit(m)) for m in masks])
            ).alias("q_bucket"),
        )
    )
    sim = F.round(_dot(F.col("v"), F.col("q")) / (F.col("v_norm") * F.col("q_norm")), 6)
    scored = (
        base.join(
            # broadcast: query probe buckets (est 165 KB → 679 KB, sf0.001 → sf0.1)
            F.broadcast(queries),
            (F.col("table") == F.col("q_table"))
            & (F.col("bucket") == F.col("q_bucket")),
        )
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id", sim.alias("cosine"))
        # a candidate found by several tables/probes scores identically
        # everywhere — collapse before ranking
        .groupBy("q_id", "vec_id")
        .agg(F.max("cosine").alias("cosine"))
    )
    return _topk_per_query(scored, k)


def label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroid, exploded to (label, pos, centroid)
    rows — the k-means E-step / cluster-profile primitive over an
    embedding corpus.

    Scale shape: posexplode + groupBy(label, pos) looks like it
    shuffles corpus_size x dim rows, but partial aggregation collapses
    each partition to at most |labels| x dim partial sums before the
    exchange — the shuffle is O(partitions x labels x dim), independent
    of corpus size. Pure JVM expressions end to end.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    exploded = emb.select(
        "label", F.posexplode(_as_double(F.col("embedding"))).alias("pos", "v")
    )
    return (
        exploded.groupBy("label", F.col("pos").cast("long").alias("pos"))
        .agg(
            F.round(F.avg("v"), 6).alias("centroid"),
            F.count(F.lit(1)).alias("n_vecs"),
        )
        .orderBy("label", "pos")
    )


def ann_recall_report(
    spark: SparkSession,
    sf_dir: str,
    k: int = 5,
    methods: tuple[str, ...] = ("lsh", "ivf", "pq"),
) -> DataFrame:
    """Recall@k of the approximate ANN variants against the exact
    brute-force top-k — the calibration report that decides whether an
    LSH or IVF index is safe to deploy for a corpus (a recall that
    looks fine on a benchmark can collapse on a differently-shaped
    embedding distribution; measure, don't assume).

    Per method: |exact ∩ approx| summed over queries / (|queries| * k),
    plus mean retrieved-set size. Both approx frames union (tagged by
    method) into ONE left join against the persisted exact side and
    ONE per-method aggregate — each ANN pipeline executes exactly
    once, and only (q_id, vec_id, method) key rows shuffle, never
    vectors. (The earlier per-method semi-join + count pair ran every
    approx pipeline twice — 2x the report cost.)

    ``methods`` selects which variants run. The full three-method
    report is rows-only (PQ's residual codebooks train with float
    Lloyd on the driver — deterministic, but not SQL-replayable);
    restricted to ``("lsh", "ivf")`` every stage has a SQL form, so
    the registered ``ann_recall_lsh_ivf`` variant carries a full
    DuckDB oracle (the r12 upgrade path: compose the knn_cosine /
    knn_lsh / knn_ivf replays with the confusion aggregate). pytest
    floors the recalls on the test corpus for all three.
    """
    # One persisted corpus scan feeds all three side-by-side pipelines
    # (exact, LSH, IVF incl. its Lloyd training passes) — without it
    # the report reads the full embeddings table 3+ times, which at
    # corpus scale makes the meter cost 3 scans instead of 1.
    emb = load_table(spark, sf_dir, "embeddings").persist()
    track(emb)
    # IVF-flat and IVF-PQ use the SAME coarse quantizer (same n_cells,
    # same Lloyd rounds) — train it once here and share, instead of
    # paying the training scans twice inside the two pipelines
    from metevents_spark.similarity.semdedup import lloyd_state

    state = lloyd_state(
        emb.select("vec_id", "embedding"), IVF_PQ_N_CELLS, IVF_TRAIN_ITERS
    )
    cmat = None
    if "pq" in methods:
        cmat = state[0].astype(np.float64) / (
            state[1].astype(np.float64)[:, None] * 1e6
        )
        cmat /= np.linalg.norm(cmat, axis=1, keepdims=True)
    # dropDuplicates guards the left-join accounting below: hits ==
    # overlap only if the exact side is unique per (q_id, vec_id).
    # knn_cosine's top-k already guarantees that today; this pins the
    # invariant so a future exact-side change can't silently inflate
    # both hits and retrieved (each dup would multiply matching rows).
    exact = (
        knn_cosine(spark, sf_dir, k=k, emb=emb)
        .select("q_id", "vec_id")
        .dropDuplicates(["q_id", "vec_id"])
    )
    exact = exact.persist()
    track(exact)
    n_q = exact.select("q_id").distinct().count()
    approx = None
    for method, fn in (("lsh", knn_lsh), ("ivf", knn_ivf), ("pq", knn_ivf_pq)):
        if method not in methods:
            continue
        extra = (
            {}
            if method == "lsh"
            else ({"state": state} if method == "ivf" else {"cmat": cmat})
        )
        part = (
            fn(spark, sf_dir, k=k, emb=emb, **extra)
            .select("q_id", "vec_id")
            .withColumn("method", F.lit(method))
        )
        approx = part if approx is None else approx.unionByName(part)
    stats = {
        r["method"]: r
        for r in approx.join(
            exact.withColumn("hit", F.lit(1)), ["q_id", "vec_id"], "left"
        )
        .groupBy("method")
        .agg(
            F.count(F.lit(1)).alias("retrieved"),
            F.count("hit").alias("hits"),
        )
        .collect()
    }
    out_rows = []
    for method in ("lsh", "ivf", "pq"):
        if method not in methods:
            continue
        hits = int(stats[method]["hits"]) if method in stats else 0
        retrieved = int(stats[method]["retrieved"]) if method in stats else 0
        out_rows.append(
            (
                method,
                int(n_q),
                int(k),
                hits,
                round(hits / float(n_q * k), 6) if n_q else 0.0,
                round(retrieved / float(n_q), 6) if n_q else 0.0,
            )
        )
    return local_frame(
        spark,
        out_rows,
        "method string, n_queries long, k long, n_hits long, "
        "recall_at_k double, mean_retrieved double",
    ).orderBy("method")


def ann_recall_lsh_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """:func:`ann_recall_report` restricted to the two SQL-replayable
    ANN variants — every stage (exact brute-force top-k, md5-plane
    LSH, integer-Lloyd IVF, the confusion aggregate) has an exact
    DuckDB form, so this registered variant carries a full value-hash
    oracle (queries.ORACLE_SQL["ann_recall_lsh_ivf"]), upgrading the
    recall meter itself from rows-only to oracle-green. The full
    three-method report stays available for PQ calibration."""
    return ann_recall_report(spark, sf_dir, methods=("lsh", "ivf"))


def random_projection(
    spark: SparkSession, sf_dir: str, k: int = 16
) -> DataFrame:
    """Johnson-Lindenstrauss sign random projection: 64-dim float
    embeddings down to ``k`` dims via a deterministic ±1 matrix —
    the standard dimensionality-reduction step ahead of LSH/IVF
    indexing at corpus scale (pairwise distances preserved within
    1±eps by the JL lemma).

    Engine-portable exactness: elements quantize to 1e-6-grid BIGINTs
    (half-away-from-zero, matching SQL ROUND), the projection is an
    INTEGER matmul (order-independent, exact — no float-summation
    drift between numpy's pairwise sums and a SQL fold), and the only
    float op is one final division by 1e6*sqrt(k), identical IEEE in
    any engine. No post-rounding is needed, so there are no tie cases.

    Scale shape: one Arrow-batched pandas_udf doing a (batch x dim) @
    (dim x k) int64 matmul per batch — map-side, zero shuffle before
    the output sort; only (vec_id, k longs) rows move. The sign matrix
    is rebuilt per batch from the hash formula (48/97 +1 bias is
    irrelevant for JL; determinism is what matters).
    """
    dim = 64
    sign = np.where(
        (np.arange(dim)[:, None] * 73856093 + np.arange(k)[None, :] * 19349663)
        % 97
        < 48,
        1,
        -1,
    ).astype(np.int64)

    @F.pandas_udf("array<long>")
    def _project(col: pd.Series) -> pd.Series:
        if col.empty:
            return pd.Series([], dtype=object)
        v = np.vstack(col.to_numpy()).astype(np.float64)
        q = round_half_away(v * 1e6).astype(np.int64)
        return pd.Series(list(q @ sign))

    emb = load_table(spark, sf_dir, "embeddings")
    divisor = 1e6 * float(np.sqrt(k))
    return (
        emb.select("vec_id", _project(F.col("embedding")).alias("s"))
        .select("vec_id", F.posexplode("s").alias("j", "sv"))
        .select(
            "vec_id",
            F.col("j").cast("long").alias("j"),
            (F.col("sv").cast("double") / F.lit(divisor)).alias("proj"),
        )
        .orderBy("vec_id", "j")
    )


def knn_ivf_pq(
    spark: SparkSession,
    sf_dir: str,
    k: int = 5,
    n_queries: int = 5,
    n_cells: int | str = IVF_PQ_N_CELLS,
    nprobe: int = 4,
    m: int = 8,
    ks: int = 64,
    train_iters: int = IVF_TRAIN_ITERS,
    train_sample: int = 2048,
    rerank_factor: int = 8,
    emb: DataFrame | None = None,
    cmat: np.ndarray | None = None,
) -> DataFrame:
    """IVF-PQ approximate top-k: the memory-bounded tier of the ANN
    family. The corpus index stores ``m`` one-byte codes + a cell id
    per vector instead of the raw floats (here 8 codes vs 64 doubles —
    a ~60x index shrink), which is what makes billion-vector serving
    fit in RAM at all. Candidate scoring is asymmetric distance
    computation (ADC): per (query, probed cell) a tiny m x ks lookup
    table of subspace distances broadcasts, and each candidate's
    approximate distance is m JVM table lookups — RAW VECTORS NEVER
    ENTER THE CANDIDATE JOIN. A bounded shortlist (k*rerank_factor per
    query) is then exactly re-scored against the true vectors, the
    standard two-stage recall repair.

    Training follows FAISS practice: the coarse quantizer reuses the
    distributed deterministic Lloyd (same as knn_ivf); the per-subspace
    codebooks train driver-side on a FIXED-size deterministic sample
    (``train_sample`` lowest vec_ids) of coarse RESIDUALS — bounded
    work by design at any corpus size (production PQ trains on ~100k
    samples for billion-vector indexes). Residual encoding (classic
    IVF-PQ): codes quantize x_unit - coarse_centroid[cell], which is
    much lower-variance than raw vectors. Defaults (8 subspaces x 64
    codes, rerank 8k) measured recall@5 0.88 at sf0.01 / 0.80 at
    sf0.1 on the UNIFORM synthetic corpus — PQ's worst case (nothing
    to exploit, neighbors near-tied); clustered real embeddings
    quantize far better at the same budget.

    Scale shape: encode is map-side (one mapInPandas pass, closures
    carry (n_cells + m*ks) x dim floats); the ADC join carries
    (vec_id, cell, 4 ints) per candidate and broadcasts the probe
    tables; only the <= n_queries * k * rerank_factor shortlist joins
    back to raw vectors.

    WHY ROWS-ONLY (the r11-verdict feasibility pass, r12): the
    integer-state trick that made knn_ivf hash-exact does NOT extend
    to residual PQ, for two structural reasons, not effort ones.
    (1) knn_ivf never materializes a centroid: cosine ranking only
    needs score = (v_int . svec)/|svec| where every factor is an
    exact integer, so both engines compute the identical double. PQ
    is built on the residual VECTOR x_unit - centroid[cell] itself —
    that difference requires the unit normalization x/|x| (a division
    by an irrational sqrt) and the centroid division svec/cnt, both
    inherently float; there is no cancellation to hide them behind.
    The integer form v_int*cnt_c - svec_c IS exact, but its scale
    varies per cell (cnt_c), and after the subspace split the L2
    codebook geometry must be comparable ACROSS residuals from
    different cells — dividing the varying scale back out reintroduces
    the float division. (2) The per-subspace Lloyd update is
    ``pts.mean(axis=0)``: numpy folds with pairwise/blocked summation
    while any SQL SUM(...)/n folds sequentially, so codebook entries
    differ in ulps between engines; 5 rounds x 8 subspaces of argmin
    over those entries amplify any flipped tie into different
    codebooks, different codes, different ADC scores. Rounding to a
    1e-6 grid does not rescue exactness either: round-after-float
    agrees only with probability ~1 - eps (a value an ulp from a .5
    boundary flips the grid cell), while the hash oracle contract
    needs certainty — the hash-green precedents (knn_lsh, knn_ivf,
    random_projection) all keep EVERY pre-round operation on exact
    integers. Hence: rows-only driver check + recall-floor pytest
    (tests/test_neardup.py), with ann_recall_report as the live
    meter and ann_recall_lsh_ivf as the fully-oracled restriction.
    """
    from collections.abc import Iterator

    from metevents_spark.similarity.semdedup import lloyd_centroids

    if emb is None:
        emb = load_table(spark, sf_dir, "embeddings")
    if n_cells == "auto":
        # density-proportional cell count (FAISS practice: cells ~
        # sqrt(corpus)) — the r11 sf1 watch-item knob: fixed n_cells
        # concentrates in-cell ADC work as the corpus grows. One
        # metadata-cheap count; floor at the fixed default so tiny
        # corpora keep their committed behavior.
        n_cells = max(IVF_PQ_N_CELLS, int(round(emb.count() ** 0.5)))
    if cmat is None:
        cmat = lloyd_centroids(
            emb.select("vec_id", "embedding"), n_cells, train_iters
        ).astype(np.float64)
        cmat /= np.linalg.norm(cmat, axis=1, keepdims=True)

    # --- PQ codebooks: deterministic L2 k-means on a bounded residual
    # sample (seeded by the first ks sample rows, 5 Lloyd rounds)
    sample = sorted(
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in emb.filter(F.col("vec_id") < train_sample)
        .select("vec_id", "embedding")
        .collect()
    )
    X = np.array([v for _, v in sample], dtype=np.float64)
    if len(X) < ks:
        # the per-subspace codebooks seed from the first ks residuals;
        # fewer sampled vectors than ks would silently yield undersized
        # codebooks and an opaque numpy broadcast error at assignment
        raise ValueError(
            f"IVF-PQ needs at least ks={ks} training vectors; the "
            f"corpus/train_sample yielded only {len(X)} — lower ks or "
            "use knn_ivf for corpora this small"
        )
    X /= np.linalg.norm(X, axis=1, keepdims=True)
    R = X - cmat[(X @ cmat.T).argmax(axis=1)]
    dim = X.shape[1]
    if dim % m:
        raise ValueError(f"m={m} must divide dim={dim}")
    sub = dim // m
    codebooks = np.zeros((m, ks, sub))
    for j in range(m):
        S = R[:, j * sub : (j + 1) * sub]
        C = S[:ks].copy()
        for _ in range(5):
            d2 = ((S[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            a = d2.argmin(axis=1)
            for c in range(ks):
                pts = S[a == c]
                if len(pts):
                    C[c] = pts.mean(axis=0)
        codebooks[j] = C

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            V /= np.linalg.norm(V, axis=1, keepdims=True)
            cells = (V @ cmat.T).argmax(axis=1)
            Rv = V - cmat[cells]
            codes = np.empty((len(V), m), dtype=np.int32)
            # row-chunked assignment (r14, guide §1.2 per-task work):
            # the one-shot (batch, ks, sub) broadcast temporary was
            # ~270 MB per subspace at the 64k Arrow batch size — pure
            # allocator/memory-bandwidth cost; 4k-row chunks measured
            # 3.6x faster with BIT-IDENTICAL codes (each (row, code)
            # lane's arithmetic is independent of the chunking). NOT
            # rewritten as the ||s||^2 - 2sC + ||C||^2 matmul form:
            # that changes ulps, and argmin ties would flip codes on a
            # rows-only key whose output must stay fixed.
            chunk = 4096
            for i0 in range(0, len(V), chunk):
                i1 = min(i0 + chunk, len(V))
                for j in range(m):
                    Sj = Rv[i0:i1, j * sub : (j + 1) * sub]
                    d2 = (
                        (Sj[:, None, :] - codebooks[j][None, :, :]) ** 2
                    ).sum(axis=2)
                    codes[i0:i1, j] = d2.argmin(axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].astype("int64"),
                    "cell": cells.astype(np.int32),
                    "codes": list(codes),
                }
            )

    encoded = emb.select("vec_id", "embedding").mapInPandas(
        encode, "vec_id long, cell int, codes array<int>"
    )

    def probe(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            rows_q, rows_c, rows_t = [], [], []
            Q = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            Q /= np.linalg.norm(Q, axis=1, keepdims=True)
            order = np.argsort(-(Q @ cmat.T), axis=1)[:, :nprobe]
            for qi, q_id in enumerate(pdf["vec_id"].astype("int64")):
                for cell in order[qi]:
                    q_res = Q[qi] - cmat[cell]
                    table = np.empty((m, ks))
                    for j in range(m):
                        qs = q_res[j * sub : (j + 1) * sub]
                        table[j] = ((codebooks[j] - qs[None, :]) ** 2).sum(
                            axis=1
                        )
                    rows_q.append(int(q_id))
                    rows_c.append(int(cell))
                    rows_t.append(table.ravel().tolist())
            yield pd.DataFrame(
                {"q_id": rows_q, "cell": rows_c, "tables": rows_t}
            )

    probe_df = (
        emb.filter(F.col("vec_id") < n_queries)
        .select("vec_id", "embedding")
        .mapInPandas(probe, "q_id long, cell int, tables array<double>")
    )

    # ADC: m JVM lookups per candidate — transform's (element, index)
    # two-arg lambda form is exactly what's needed here (j = subspace)
    adc_dist = F.expr(
        f"aggregate(transform(codes, (c, j) -> "
        f"element_at(tables, j * {ks} + c + 1)), 0D, (acc, x) -> acc + x)"
    )
    shortlist = _topk_per_query(
        # broadcast: n_queries × nprobe rows (est 161 KB → 666 KB, sf0.001 → sf0.1)
        encoded.join(F.broadcast(probe_df), "cell")
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            # unit vectors: ||q-x||^2 = 2-2cos, so this ADC image of
            # cosine ranks identically to -distance
            (1.0 - adc_dist / 2.0).alias("cosine"),
        ),
        k * rerank_factor,
    ).select("q_id", "vec_id")

    base = emb.select(
        "vec_id",
        _as_double(F.col("embedding")).alias("v"),
        _norm(_as_double(F.col("embedding"))).alias("v_norm"),
    )
    qside = base.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("q_id"),
        F.col("v").alias("q"),
        F.col("v_norm").alias("q_norm"),
    )
    exact = (
        # broadcast: k·rerank_factor per query (est 14 GB → 242 GB, sf0.001 → sf0.1)
        F.broadcast(shortlist)
        .join(base, "vec_id")
        # broadcast: the n_queries query rows (est 258 KB → 1.1 MB, sf0.001 → sf0.1)
        .join(F.broadcast(qside), "q_id")
        .select(
            "q_id",
            "vec_id",
            F.round(
                _dot(F.col("v"), F.col("q"))
                / (F.col("v_norm") * F.col("q_norm")),
                6,
            ).alias("cosine"),
        )
    )
    return _topk_per_query(exact, k)


def hard_negative_mining(
    spark: SparkSession,
    sf_dir: str,
    k: int = 5,
    n_anchors: int = 20,
) -> DataFrame:
    """Contrastive-training hard negatives: for each anchor vector, the
    ``k`` most-similar corpus vectors carrying a DIFFERENT label — the
    near-misses a contrastive/metric-learning objective needs (random
    negatives are trivially separable; hard negatives drive the
    gradient).

    Same exact-scoring shape as :func:`knn_cosine` (anchors broadcast
    against one corpus scan, cosine rounded to 6 dp BEFORE ranking so
    ordering is engine-deterministic) with the cross-label filter
    applied pre-rank. The top-k is :func:`_topk_per_query`: Spark's
    ``WindowGroupLimit`` keeps at most k rows per anchor in each map
    partition, while k <= ``windowGroupLimitThreshold``. At 100 TB the
    documented swap-in is the ANN shortlist + exact re-rank pattern
    (:func:`ann_recall_report`'s IVF arm) — the anchor set stays a
    bounded broadcast either way.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.select(
        "vec_id",
        "label",
        _as_double(F.col("embedding")).alias("v"),
        _norm(_as_double(F.col("embedding"))).alias("v_norm"),
    )
    anchors = emb.filter(F.col("vec_id") < n_anchors).select(
        F.col("vec_id").alias("q_id"),
        F.col("label").alias("q_label"),
        _as_double(F.col("embedding")).alias("q"),
        _norm(_as_double(F.col("embedding"))).alias("q_norm"),
    )
    sim = F.round(
        _dot(F.col("v"), F.col("q")) / (F.col("v_norm") * F.col("q_norm")), 6
    )
    scored = (
        # broadcast: the n_anchors anchor rows (est 290 KB → 1.2 MB, sf0.001 → sf0.1)
        corpus.crossJoin(F.broadcast(anchors))
        .filter(F.col("label") != F.col("q_label"))
        .select("q_id", "vec_id", "label", sim.alias("cosine"))
    )
    topk = _topk_per_query(scored.drop("label"), k)
    return topk.join(
        corpus.select("vec_id", F.col("label").alias("neg_label")), "vec_id"
    ).select("q_id", "vec_id", "neg_label", "cosine", "rank").orderBy(
        "q_id", "rank"
    )
