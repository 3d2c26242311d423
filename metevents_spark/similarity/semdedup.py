"""SemDeDup-style semantic deduplication: k-means clustering over the
embedding corpus, then near-duplicate detection WITHIN clusters only.

The published recipe (Abbas et al. 2023, "SemDeDup: Data-efficient
learning at web-scale through semantic deduplication") clusters
embeddings with k-means and removes, inside each cluster, items whose
pairwise cosine exceeds a threshold — the cluster step bounds the
quadratic pair work exactly like the LSH band buckets bound MinHash:
pairwise cost scales with cluster size, never corpus size.

Spark shape:
  - Lloyd iterations: assignment is ONE numpy matmul per Arrow batch
    against the broadcast (k x dim) centroid matrix (pandas_udf, no
    shuffle); the M-step is the posexplode partial-aggregate trick
    (shuffle is O(partitions x k x dim), corpus-size independent) and
    collects only k x dim doubles to the driver per iteration — the
    same legitimate tiny-collect as knn_ivf's centroid fetch.
  - Dedup: one exchange on the final cluster id, then per cluster
    inside applyInPandas the pairs of ``similarity.knn.cosine_pairs``
    (the embedding_near_dup sweep) and a greedy earliest-representative
    pick that is deterministic in vec_id order.

At 100 TB: k grows to ~sqrt(corpus) so clusters stay bounded;
iterations are linear scans; the only driver state is k x dim floats.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from metevents_spark.io import load_table
from metevents_spark.numeric import round_half_away
from metevents_spark.operators.grouped import columns_frame
from metevents_spark.similarity.knn import cosine_pairs


def _normalize(m: np.ndarray) -> np.ndarray:
    return m / np.linalg.norm(m, axis=1, keepdims=True)


def _assign_udf(cmat: np.ndarray):
    """Nearest-centroid (cosine) assignment, one matmul per batch."""
    cn = _normalize(cmat)

    @F.pandas_udf("int")
    def nearest(embs: pd.Series) -> pd.Series:
        m = _normalize(np.stack(embs.to_numpy()).astype(np.float64))
        return pd.Series((m @ cn.T).argmax(axis=1).astype(np.int32))

    return nearest


def _int_assign_udf(svec: np.ndarray):
    """ENGINE-EXACT nearest-cell assignment from the integer Lloyd
    state (the knn_ivf path): quantize the batch, score with
    :func:`_int_scores` (exact integers cast to double), argmax with
    numpy's first-max tie rule — identical to the SQL replay's
    ROW_NUMBER (score DESC, cell ASC). This is what lets
    semantic_dedup / kmeans_embeddings carry full DuckDB oracles
    (r12): the float-centroid ``_assign_udf`` can flip borderline
    argmaxes by an ulp between engines; the integer path cannot."""

    @F.pandas_udf("int")
    def nearest(embs: pd.Series) -> pd.Series:
        mi = _quantize_units(np.stack(embs.to_numpy()).astype(np.float64))
        return pd.Series(
            _int_scores(mi, svec).argmax(axis=1).astype(np.int32)
        )

    return nearest


def _quantize_units(m: np.ndarray) -> np.ndarray:
    """Integer micro-units, ``ROUND(x*1e6)`` as Spark SQL and DuckDB
    compute it, so any engine rebuilds the identical int64 matrix."""
    return round_half_away(m * 1e6).astype(np.int64)


def _int_scores(mi: np.ndarray, svec: np.ndarray) -> np.ndarray:
    """Cosine-ordered assignment scores from EXACT integer state:
    score(v, cell j) = (vi · s_j) / |s_j| — the member count cancels
    out of the mean's direction, so the integer sum vector IS the
    centroid for cosine purposes. Every factor is the double cast of
    an EXACT integer (the same value DuckDB's HUGEINT arithmetic
    casts — see queries._ivf_oracle_sql), so every engine computes
    the identical IEEE score matrix:

    - |s_j|² folds in arbitrary-precision Python ints (k·dim values,
      trivial), NEVER an int64 intermediate: a per-dim member sum of
      ~3e9 (a few thousand clustered members at 1e6 micro-units)
      already wraps an int64 square, silently yielding negative s2
      and NaN scores (the r11 einsum bug).
    - the dot matrix takes the int64 BLAS path only when the proven
      worst-case bound dim·max|vi|·max|s_d| fits in int64; otherwise
      it falls back to exact object-dtype (Python-int) arithmetic —
      slower, but overflow-free and bit-identical after the final
      double cast.
    """
    dim = int(mi.shape[1]) if mi.ndim == 2 else int(svec.shape[1])
    mi_max = int(np.abs(mi).max(initial=0))
    s_max = int(np.abs(svec).max(initial=0))
    if dim * mi_max * s_max < 2**63:
        dots = (mi @ svec.T).astype(np.float64)
    else:
        dots = (mi.astype(object) @ svec.T.astype(object)).astype(
            np.float64
        )
    s2 = np.array(
        [float(sum(int(x) * int(x) for x in row)) for row in svec],
        dtype=np.float64,
    )
    return dots / np.sqrt(s2)


def lloyd_state(
    emb: DataFrame, k: int, iters: int
) -> tuple[np.ndarray, np.ndarray]:
    """ENGINE-EXACT deterministic k-means (r11 rewrite): seeded by the
    k lowest-vec_id vectors, ``iters`` Lloyd rounds. State per cell is
    the INTEGER micro-unit member-sum vector plus the member count —
    assignment scores divide exact integer dots by exact integer
    norms (see :func:`_int_scores`), and the M-step folds int64
    partials whose sum is order-independent. Unlike the previous
    float-state formulation ("centroid ulps can differ run-to-run"),
    every round is bit-reproducible across runs, partitionings, AND
    engines — DuckDB replays the whole training loop in SQL
    (ORACLE_SQL["knn_ivf"]), which upgrades the IVF driver check from
    rows-only to hash-green.

    Each round is ONE ``mapInPandas`` pass: a batch assigns itself
    with one integer matmul and emits per-cell (count, int-sum)
    partials — at most k rows per Arrow batch, folded on the driver
    (k x dim int64s, the same legitimate tiny-collect as before; the
    posexplode M-step it replaced shuffled corpus x dim rows per
    round). Empty cells keep their previous state (standard practice;
    deterministic). Ties in the assignment argmax break toward the
    LOWEST cell id (numpy first-max == ROW_NUMBER ORDER BY score
    DESC, cell ASC).

    Returns ``(svec, cnt)``: (k x dim) int64 sums, (k,) int64 counts.
    """
    seeds = sorted(
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in emb.filter(F.col("vec_id") < k)
        .select("vec_id", "embedding")
        .collect()
    )
    if len(seeds) < k:
        raise ValueError(
            f"k-means needs at least k={k} seed vectors with vec_id < k; "
            f"corpus provided {len(seeds)} (empty or too-small embedding "
            "corpus)"
        )
    svec = _quantize_units(np.array([v for _, v in seeds], dtype=np.float64))
    cnt = np.ones(k, dtype=np.int64)
    kk, dim = svec.shape
    for _ in range(iters):
        state = svec  # closure snapshot for this round's assignment

        def partials(batches, state=state):
            for pdf in batches:
                if not len(pdf):
                    continue
                m = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
                mi = _quantize_units(m)
                a = _int_scores(mi, state).argmax(axis=1)
                counts = np.bincount(a, minlength=kk)
                sums = np.zeros((kk, dim), dtype=np.int64)
                np.add.at(sums, a, mi)
                nz = np.flatnonzero(counts)
                yield pd.DataFrame(
                    {
                        "cell": nz.astype(np.int32),
                        "cnt": counts[nz].astype(np.int64),
                        "vsum": [sums[c].tolist() for c in nz],
                    }
                )

        rows = emb.select("embedding").mapInPandas(
            partials, "cell int, cnt long, vsum array<long>"
        ).collect()
        sums = np.zeros((kk, dim), dtype=np.int64)
        cnts = np.zeros(kk, dtype=np.int64)
        for r in rows:
            sums[r["cell"]] += np.asarray(r["vsum"], dtype=np.int64)
            cnts[r["cell"]] += r["cnt"]
        nz = cnts > 0
        svec = np.where(nz[:, None], sums, svec)
        cnt = np.where(nz, cnts, cnt)
    return svec, cnt


def lloyd_centroids(
    emb: DataFrame, k: int, iters: int
) -> np.ndarray:
    """(k x dim) float centroid matrix from :func:`lloyd_state`: the
    exact integer mean ``svec / (cnt * 1e6)`` — one float division of
    exact integers per entry, so (unlike the pre-r11 float fold) the
    returned matrix is bit-identical across runs and partitionings.
    Consumers (semantic_dedup, kmeans_embeddings, knn_ivf_pq) keep the
    float-centroid interface."""
    svec, cnt = lloyd_state(emb, k, iters)
    return svec.astype(np.float64) / (cnt.astype(np.float64)[:, None] * 1e6)


def _auto_clusters(n_vecs: int, target_pop: int = 4096) -> int:
    """Corpus-keyed Lloyd cell count: k = max(8, ceil(n / target_pop)).

    The r13 x100 sweep caught semantic_dedup at a 101x decade ratio —
    with FIXED k the within-cell all-pairs sweep costs ~k*(n/k)^2 =
    n^2/k, quadratic in corpus size. k proportional to n makes total
    pair work ~n*target_pop — linear; the sweep's memory is bounded by
    ``similarity.knn.cosine_pairs``' chunking. The floor of 8 makes
    ``auto`` resolve to EXACTLY the oracle's fixed k at every scale
    the static SQL replay actually runs (sf0.001, sf0.01, and the x10
    replica are all <= 8*target_pop vectors), the same
    knob-engages-above-the-oracle-scales contract as media.py's
    _auto_projections."""
    import math

    return max(8, math.ceil(n_vecs / target_pop))


def semantic_dedup(
    spark: SparkSession,
    sf_dir: str,
    k: int | str = "auto",
    iters: int = 3,
    threshold: float = 0.35,
) -> DataFrame:
    """Per-vector semantic-dedup decision: final cluster id, keep flag,
    and (for dropped items) the earliest near-duplicate it collapses
    into plus their cosine. Greedy earliest-representative rule: a
    vector is a duplicate of the LOWEST vec_id in its cluster whose
    cosine with it rounds to >= threshold — deterministic, and exactly
    reproducible by the numpy reference in tests/test_semdedup.py.

    Oracle-green since r12 (queries.ORACLE_SQL["semantic_dedup"]):
    cluster assignment uses the ENGINE-EXACT integer score path
    (:func:`_int_assign_udf`, the knn_ivf precedent), and the sweep
    cosine is dot/(|a||b|) rounded to 6 — structurally identical to
    DuckDB's list_cosine_similarity, the embedding_near_dup
    hash-green precedent. Keeps emit NULL (not NaN) cos_to_dup so
    both engines agree on the missing value.

    ``k="auto"`` (default since r13) keys the cluster count on the
    corpus size (:func:`_auto_clusters`) so the within-cell sweep
    stays linear in n; auto resolves to the oracle's fixed 8 at every
    oracle-checked scale, so the static SQL replay remains exact
    where it runs.
    """
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    if k == "auto":
        k = _auto_clusters(emb.count())
    svec, _cnt = lloyd_state(emb, k, iters)
    assigned = emb.select(
        "vec_id",
        "embedding",
        _int_assign_udf(svec)("embedding").alias("cluster"),
    )
    out_schema = (
        "vec_id long, cluster int, keep boolean, dup_of long, cos_to_dup double"
    )
    fields = StructType.fromDDL(out_schema).fields

    def sweep(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id")
        m = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        i, j, cos = cosine_pairs(m, np.sqrt((m * m).sum(axis=1)), threshold)
        # pairs run row-major in j with i ascending: each j's first pair
        # holds its earliest near-duplicate
        dups, first = np.unique(j, return_index=True)
        dup_of = np.full(len(ids), None, dtype=object)
        dup_of[dups] = ids[i[first]]
        cos_to_dup = np.full(len(ids), np.nan)  # NaN leaves as NULL
        cos_to_dup[dups] = cos[first]
        keep = np.ones(len(ids), dtype=bool)
        keep[dups] = False
        cols = (ids, pdf["cluster"], keep, dup_of, cos_to_dup)
        return columns_frame(fields, [cols])

    return (
        assigned.groupBy("cluster")
        .applyInPandas(sweep, out_schema)
        .orderBy("vec_id")
    )


def kmeans_embeddings(
    spark: SparkSession, sf_dir: str, k: int = 8, iters: int = 3
) -> DataFrame:
    """Cluster-profile report for the deterministic k-means: per
    cluster, member count and mean cosine to the centroid (cohesion).
    The assignment pass is map-side; the report is one tiny groupBy.

    Oracle-green since r12 (queries.ORACLE_SQL["kmeans_embeddings"]):
    assignment is the ENGINE-EXACT integer score path, cohesion is
    the cosine to the ASSIGNED cell's float centroid (the exact
    integer mean svec/(cnt*1e6) — the same doubles the SQL replay
    divides out of its counts chain), dot/(|a||b|) form. The MEAN
    folds in exact micro-units: each cosine rounds per-element to
    1e-6 (the embedding_near_dup hash-green risk class), the sum is
    exact integers, and one final double division is identical IEEE
    in both engines — a float AVG's summation order straddled the
    ROUND(.,6) boundary on the very first sf0.01 replay, so
    mean_cohesion is defined as mean-of-rounded (delta <= 5e-7), not
    rounded-mean."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    svec, cnt = lloyd_state(emb, k, iters)
    cvec = svec.astype(np.float64) / (cnt.astype(np.float64)[:, None] * 1e6)
    cnorm = np.sqrt((cvec * cvec).sum(axis=1))

    @F.pandas_udf("double")
    def cos_to_centroid(embs: pd.Series) -> pd.Series:
        m = np.stack(embs.to_numpy()).astype(np.float64)
        mi = _quantize_units(m)
        a = _int_scores(mi, svec).argmax(axis=1)
        c = cvec[a]
        dots = (m * c).sum(axis=1)
        vnorm = np.sqrt((m * m).sum(axis=1))
        return pd.Series(dots / (vnorm * cnorm[a]))

    assigned = emb.select(
        _int_assign_udf(svec)("embedding").alias("cluster"),
        # micro-unit cohesion: per-element ROUND to 1e-6, exact long
        F.round(cos_to_centroid("embedding") * F.lit(1e6), 0)
        .cast("long")
        .alias("mc"),
    )
    return (
        assigned.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(
                F.sum("mc") / (F.count(F.lit(1)) * F.lit(1e6)), 6
            ).alias("mean_cohesion"),
        )
        .orderBy("cluster")
    )
