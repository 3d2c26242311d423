"""Distributed covariance + PCA over the embedding column.

The similarity tier's statistics layer: the population covariance
matrix of the corpus embeddings (whitening, drift monitoring, and the
input to every spectral method) and PCA projection (dimensionality
reduction before clustering/ANN — SemDeDup and DSIR both run on
PCA-reduced vectors at scale).

Scale shape — the only one that survives 100 TB:
  * ONE map-side pass computes per-Arrow-batch partial
    outer-product sums (X^T X, column sums, count) with a single BLAS
    matmul each; a batch of any size folds to dim*(dim+1)/2 + dim + 1
    numbers, so the shuffle moves O(partitions x dim^2) floats, never
    O(rows x dim^2) — the posexplode formulation (explode i, explode
    j, groupBy) would shuffle rows x dim^2 and die at scale.
  * The partials reduce with a dimension-sized groupBy; everything
    after (index mapping, the covariance formula) runs on dim^2 rows.
  * PCA additionally folds the dim x dim matrix on the driver and
    eigendecomposes it there — O(dim^3) on a CONSTANT-size matrix, the
    same legitimate tiny-collect as ``lloyd_centroids``' k x dim state
    (semdedup.py); the component matrix broadcasts back inside the
    projection kernel's closure.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from metevents_spark.cache import track
from metevents_spark.io import load_table, local_frame
from metevents_spark.numeric import round_half_away
from metevents_spark.operators.grouped import columns_frame, map_batches

PARTIAL_SCHEMA = "n long, sums array<double>, prods array<double>"


def _covariance_partials(emb: DataFrame, dim: int) -> DataFrame:
    """Per-partition (count, column-sum, upper-triangle X^T X) rows: a
    fold over all of a partition's batches, whose float summation order
    fixes pca_embeddings' values."""
    fields = StructType.fromDDL(PARTIAL_SCHEMA).fields

    def partials(batches):
        s = np.zeros(dim)
        prods = np.zeros((dim, dim))
        n = 0
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            prods += x.T @ x
            s += x.sum(axis=0)
            n += len(x)
        if n:
            iu = np.triu_indices(dim)
            yield columns_frame(fields, [([n], [s], [prods[iu]])])

    return emb.select("embedding").mapInPandas(partials, PARTIAL_SCHEMA)


INT_PARTIAL_SCHEMA = "n long, sums array<long>, prods array<long>"


def _covariance_partials_exact(emb: DataFrame, dim: int) -> DataFrame:
    """Per-Arrow-batch EXACT integer partials: embeddings quantize to a
    1e-6 grid (half-away-from-zero, matching SQL ROUND) and X^T X /
    column sums accumulate as int64 — order-independent, so the result
    is bit-identical under any partitioning / batching / engine.

    This is the random_projection pattern (knn.py): the float-sum
    nondeterminism that flipped ROUND(...,6) at ±5e-7 boundaries
    between the BLAS fold and a SQL per-row sum cannot occur in
    integer arithmetic. Overflow bound: |q| <= max|x|*1e6, so a batch
    of B rows bounds each prod cell by B*(max|x|*1e6)^2; per-batch
    emission keeps B at Arrow-batch size (<=10k), i.e. <=1e16 even for
    |x|=1 — far under int64. The cross-batch reduce then sums as
    DECIMAL(38,0), exact at any corpus size.
    """

    iu = np.triu_indices(dim)

    def partials(pdf: pd.DataFrame):
        v = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        q = round_half_away(v * 1e6).astype(np.int64)
        # overflow guard: a prod cell is bounded by B * qmax^2; keep
        # it under 2^62 so the int64 matmul cannot silently wrap
        # (|x| ~ 30 at a full 10k-row Arrow batch is the ceiling)
        qmax = int(np.abs(q).max(initial=0))
        if qmax and qmax * qmax > (2**62) // len(q):
            raise OverflowError(
                f"embedding magnitude {qmax / 1e6:.3g} too large for "
                f"exact int64 accumulation over a {len(q)}-row batch"
            )
        prods = q.T @ q  # exact int64 matmul
        return [len(q)], [q.sum(axis=0)], [prods[iu]]

    return map_batches(emb.select("embedding"), partials, INT_PARTIAL_SCHEMA)


def embedding_covariance(
    spark: SparkSession, sf_dir: str, dim: int = 64
) -> DataFrame:
    """Upper-triangle population covariance of the 1e-6-quantized
    embedding corpus: one row (i, j, cov) per dimension pair with
    i <= j, cov = round_6dp((sp - si*sj/n)/n/1e12) where sp/si/sj are
    the exact integer moment sums on the 1e-6 grid.

    Engine-exact BY CONSTRUCTION — no float op touches the result
    until the last division: the moments accumulate as int64 / reduce
    as DECIMAL(38,0) (see :func:`_covariance_partials_exact`), the
    6-dp rounding happens in pure integer arithmetic
    (half-away-from-zero on num = sp*n - si*sj over den = n^2 * 1e6 —
    the holt_backtest micro-unit pattern, seriesstats.py), and the
    only float op is one exact-int -> double cast divided once by
    1e6, a single correctly-rounded IEEE op identical in any engine.
    The earlier formulation ended in ROUND(double, 6), whose
    half-boundary behavior differs across engine versions (Spark
    rounds the exact decimal expansion HALF_UP; DuckDB multiplies/
    rounds/divides in floats) — that split once turned the driver check
    red.

    The partial rows reduce via posexplode + groupBy on the flat
    index (O(partitions x dim^2) rows — tiny), then a driver-built
    (pos -> i, j) mapping (dim^2 CONSTANT rows, broadcast) and the
    two column-sum joins assemble the formula. No driver collect in
    the plan itself.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    # three consumers (prods, sums, count) — persist the partials so
    # the corpus scans once; partitions x dim^2 longs, trivially cached
    p = track(_covariance_partials_exact(emb, dim).persist())

    dec = "decimal(38,0)"
    sp = (
        p.select(F.posexplode("prods").alias("pos", "v"))
        .groupBy("pos")
        .agg(F.sum(F.col("v").cast(dec)).alias("sp"))
    )
    sums = (
        p.select(F.posexplode("sums").alias("idx", "v"))
        .groupBy("idx")
        .agg(F.sum(F.col("v").cast(dec)).alias("s"))
    )
    n_tot = p.groupBy().agg(F.sum("n").cast(dec).alias("n_tot"))

    iu_i, iu_j = np.triu_indices(dim)
    mapping = local_frame(
        spark,
        [(int(k), int(i), int(j)) for k, (i, j) in enumerate(zip(iu_i, iu_j))],
        "pos int, i int, j int",
    )
    si = sums.select(F.col("idx").alias("i"), F.col("s").alias("si"))
    sj = sums.select(F.col("idx").alias("j"), F.col("s").alias("sj"))
    # cov = (sp - si*sj/n)/n/1e12 rounded to 6 dp, computed WITHOUT any
    # float op: num/den with num = sp*n - si*sj (exact DECIMAL(38,0)),
    # den = n^2 * 1e6, rounded half-away-from-zero in integer
    # arithmetic — r = sign * ((2|num| + den) div (2 den)); `div` on
    # positive decimals truncates = floors, and the BIGINT quotient is
    # cov in micro-units (~|cov|*1e6, far inside int64). One exact
    # int -> double cast + /1e6 yields the double — the single
    # correctly-rounded IEEE op no engine version can disagree on.
    num = F.col("sp") * F.col("n_tot") - F.col("si") * F.col("sj")
    den = F.col("n_tot") * F.col("n_tot") * F.lit(1000000).cast("decimal(7,0)")
    micro = F.when(
        num >= 0, F.expr("(2 * num + den) div (2 * den)")
    ).otherwise(-F.expr("(-2 * num + den) div (2 * den)"))
    return (
        sp.join(mapping, "pos")
        # broadcast: one row per embedding dim (est 68 KB → 280 KB, sf0.001 → sf0.1)
        .join(F.broadcast(si), "i")
        # broadcast: one row per embedding dim (est 68 KB → 280 KB, sf0.001 → sf0.1)
        .join(F.broadcast(sj), "j")
        .crossJoin(n_tot)
        .withColumn("num", num)
        .withColumn("den", den)
        .select(
            "i",
            "j",
            (micro.cast("double") / F.lit(1e6)).alias("cov"),
        )
        .orderBy("i", "j")
    )


def _principal_components(
    emb: DataFrame, dim: int, k: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray, int]:
    """(mean vector, top-k components [k x dim], top-k eigenvalues,
    explained-variance ratios, count) from one distributed covariance
    pass + driver eigh.

    Sign convention: each component's largest-|coefficient| entry is
    made positive — eigenvectors are sign-ambiguous, this pins them
    deterministically.

    WHY pca_embeddings / embedding_whitening ARE ROWS-ONLY (a
    feasibility pass, the knn_ivf_pq precedent):
    the integer-state trick that made knn_ivf/part_pagerank
    hash-exact does NOT extend past the covariance step, for
    structural reasons, not effort ones. The covariance matrix itself
    CAN be replayed (embedding_covariance is hash-green: its entries
    round to a 1e-6 grid far from any summation-order ulp). What
    cannot is ``np.linalg.eigh``: LAPACK's dsyevd is an ITERATIVE
    float algorithm (tridiagonalization + divide-and-conquer, with
    environment-dependent blocking), so a SQL re-implementation —
    e.g. Jacobi rotations or QR sweeps in recursive CTEs — would fold
    floats in a different order and converge to eigenvectors that
    differ in ulps; there is no integer representation of an
    eigenproblem whose solution stays rational. Those ulps then
    multiply EVERY row (x - mu) @ comps.T, and grid-rounding the
    projections to 1e-6 agrees only with probability ~1 - eps per
    entry (a value an ulp from a .5 boundary flips the cell), while
    the hash contract needs certainty. Near-degenerate eigenvalues
    make it strictly worse: order and sign of the components flip on
    ulp perturbations of the input. Whitening additionally divides by
    sqrt(lambda_i) — an irrational scale applied per float entry.
    Hence: rows-only driver checks, with the pair pinned by exact
    numpy differential parity over the full corpus plus the defining
    identity-covariance invariant (tests/test_pca.py), and the
    oracle-able restriction (embedding_covariance, the exact input to
    eigh) hash-green alongside.
    """
    rows = _covariance_partials(emb, dim).collect()
    if not rows:
        raise ValueError("empty embedding corpus")
    n = 0
    s = np.zeros(dim)
    tri = np.zeros(len(rows[0]["prods"]))
    for r in rows:
        n += r["n"]
        s += np.asarray(r["sums"])
        tri += np.asarray(r["prods"])
    iu = np.triu_indices(dim)
    prods = np.zeros((dim, dim))
    prods[iu] = tri
    prods = prods + prods.T - np.diag(np.diag(prods))
    mean = s / n
    cov = prods / n - np.outer(mean, mean)
    evals, evecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(evals)[::-1][:k]
    comps = evecs[:, order].T  # k x dim
    flip = np.sign(comps[np.arange(k), np.abs(comps).argmax(axis=1)])
    flip[flip == 0] = 1.0
    comps = comps * flip[:, None]
    ratios = evals[order] / max(evals.sum(), 1e-300)
    return mean, comps, evals[order], ratios, n


def pca_embeddings(
    spark: SparkSession, sf_dir: str, k: int = 4, dim: int = 64
) -> DataFrame:
    """Project every embedding onto the corpus's top-``k`` principal
    axes: (vec_id, label, pc1..pck), centered, deterministic signs.

    Rows-only in the driver contract — see the structural proof in
    :func:`_principal_components` (eigh is iterative float; no
    integer form exists); pinned by exact differential parity with an
    independent numpy PCA over the full sf0.001 corpus
    (tests/test_pca.py).
    Projection is map-side: the k x dim component matrix rides the
    kernel closure (broadcast), so the pass after training touches
    each row once and shuffles nothing but the final sort.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    mean, comps, _, _, _ = _principal_components(emb, dim, k)
    return _project(emb, mean, comps, 1.0, "pc")


def embedding_whitening(
    spark: SparkSession, sf_dir: str, k: int = 8, dim: int = 64
) -> DataFrame:
    """PCA-whitened embeddings: z = diag(1/sqrt(lambda_i)) V_k^T (x - mu)
    — the standard preconditioner before clustering/ANN when feature
    scales are anisotropic (whitened space makes Euclidean == Mahalanobis,
    so k-means stops being dominated by the high-variance axes).

    Same scale shape as :func:`pca_embeddings`: one distributed
    covariance pass, driver eigh on the CONSTANT dim x dim matrix, then
    a map-side Arrow kernel projects and rescales each row — nothing
    shuffles but the presentation sort. Rows-only in the driver
    contract; pinned by the defining invariant (the whitened corpus's
    own covariance equals the k x k identity) plus numpy differential
    parity (tests/test_pca.py).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    mean, comps, lam, _, _ = _principal_components(emb, dim, k)
    scale = 1.0 / np.sqrt(np.maximum(lam, 1e-12))  # k
    return _project(emb, mean, comps, scale, "w")


def _project(
    emb: DataFrame, mean: np.ndarray, comps: np.ndarray, scale, prefix: str
) -> DataFrame:
    """(vec_id, label, <prefix>1..<prefix>k): each embedding centered on
    ``mean``, projected onto the k rows of ``comps``, multiplied by
    ``scale`` (a scalar or one factor per component) and rounded to 6
    places, map-side, ordered by vec_id."""
    schema = "vec_id long, label int, " + ", ".join(
        f"{prefix}{i + 1} double" for i in range(len(comps))
    )

    def project(pdf: pd.DataFrame):
        x = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        z = round_half_away(((x - mean) @ comps.T) * scale, 6)
        return (pdf["vec_id"], pdf["label"], *z.T)

    return map_batches(
        emb.select("vec_id", "label", "embedding"), project, schema
    ).orderBy("vec_id")
