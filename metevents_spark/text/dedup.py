"""Deduplication operators: exact, prefix, MinHash-LSH, SimHash.

Scale design: everything is hash-groupBy / hash-join shaped — no
pairwise O(n^2) comparison ever materializes over the full corpus.
MinHash-LSH banding means candidate pairs only form within tiny LSH
buckets; at 100 TB the band-bucket groupBy shuffles fingerprints
(~100 bytes/doc), not documents.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from metevents_spark.cache import fixpoint, sum_settled, track
from metevents_spark.functions.sketches import h60, h60_sql
from metevents_spark.io import load_table
from metevents_spark.text.stats import token_ngrams


def exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate groups by full-content hash; keeper = min doc_id.
    (hash-groupBy; the content itself never shuffles, only the digest)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", F.md5(F.col("text")).alias("text_hash"))
        .groupBy("text_hash")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
        .orderBy("keep_id")
    )


def prefix_dedup(spark: SparkSession, sf_dir: str, prefix_len: int = 64) -> DataFrame:
    """Near-dup by shared content prefix (cheap first-pass bucketing)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id", F.md5(F.substring("text", 1, prefix_len)).alias("prefix_hash")
        )
        .groupBy("prefix_hash")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_docs"))
        .orderBy("keep_id")
    )


def _exact_groups(docs: DataFrame):
    """Exact-duplicate grouping by content hash for dedup-before-LSH.

    -> (member_rep, reps): member_rep = (doc_id, rep_id) mapping every
    document to its group representative (min doc_id per md5(text));
    reps = (doc_id, text) with one row per DISTINCT text. Only hashes
    and ids shuffle — text moves once, via the rep join.
    """
    from pyspark.sql import Window

    # one shuffle: min(doc_id) over the content-hash group gives the
    # member->rep mapping directly (no groupBy + join-back)
    member_rep = (
        docs.select("doc_id", F.md5(F.col("text")).alias("gid"))
        .select(
            "doc_id",
            F.min("doc_id").over(Window.partitionBy("gid")).alias("rep_id"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    track(member_rep)
    # fetch rep texts by id: the rep-id side is distinct-text-sized;
    # AQE broadcasts it at small scale, sort-merge at corpus scale
    reps = (
        member_rep.filter(F.col("doc_id") == F.col("rep_id"))
        .select("doc_id")
        .join(docs.select("doc_id", "text"), "doc_id")
    )
    return member_rep, reps


def _expand_pairs(
    rep_pairs: DataFrame, member_rep: DataFrame, value_col: str, intra_lit
):
    """Expand representative-level near-dup pairs to member documents.

    Cross-group pairs inherit the representatives' similarity value
    (exact copies share fingerprints, so it is THEIR value too);
    intra-group pairs get ``intra_lit`` (similarity of a document with
    its exact copy). Groups are disjoint, so the union is
    duplicate-free by construction.
    """
    a = member_rep.select(
        F.col("rep_id").alias("rep_a"), F.col("doc_id").alias("ma")
    )
    b = member_rep.select(
        F.col("rep_id").alias("rep_b"), F.col("doc_id").alias("mb")
    )
    cross = (
        rep_pairs.withColumnRenamed("doc_a", "rep_a")
        .withColumnRenamed("doc_b", "rep_b")
        .join(a, "rep_a")
        .join(b, "rep_b")
        .select(
            F.least("ma", "mb").alias("doc_a"),
            F.greatest("ma", "mb").alias("doc_b"),
            value_col,
        )
    )
    m1, m2 = member_rep.alias("m1"), member_rep.alias("m2")
    intra = m1.join(
        m2,
        (F.col("m1.rep_id") == F.col("m2.rep_id"))
        & (F.col("m1.doc_id") < F.col("m2.doc_id")),
    ).select(
        F.col("m1.doc_id").alias("doc_a"),
        F.col("m2.doc_id").alias("doc_b"),
        intra_lit.alias(value_col),
    )
    return cross.union(intra)


# Default LSH bucket-membership cap (representatives per (band, bucket)
# group admitted to the candidate self-join). A degenerate hot bucket —
# boilerplate near-identical texts that survive exact-dedup because a
# few tokens differ — concentrates one band's hash and goes quadratic
# inside its bucket at corpus scale. Production dedup pipelines cap or
# drop such buckets; pairs lost from a dropped band are still found by
# any other band the pair collides in. The default is far above any
# bucket the test corpora produce (sf0.1 max observed bucket size is
# well under 100), so normal outputs are byte-identical.
HOT_BUCKET_CAP = 1000

# name -> {"dropped_buckets": DataFrame} recorded by the LAST build of
# each guarded operator: a lazy (band, bucket, bsz) frame of the
# over-cap buckets the guard dropped. Count/collect it on demand (a
# test, a monitoring job) — it reads the operator's persisted banded
# frame, so the check is bucket-cardinality cheap. (An inline
# df.observe metric was tried first, but AQE empty-relation
# propagation prunes the CollectMetrics node whenever the capped
# result is empty — exactly the degenerate case worth logging.)
LAST_GUARD_METRICS: dict[str, dict] = {}


def _cap_hot_buckets(banded: DataFrame, cap: int, name: str) -> DataFrame:
    """Drop (band, bucket) groups with more than ``cap`` members before
    the candidate self-join. ``banded`` must already be persisted; this
    call materializes it (its one action doubles as the eager cache
    fill the downstream multi-consumer plan needs).

    ADAPTIVE shape: count the over-cap buckets first — a groupBy whose
    partial aggregation collapses map-side, so the exchange carries
    |buckets| rows and the action returns one scalar. On a healthy
    corpus that count is 0 and the banded frame is returned UNTOUCHED:
    the candidate join runs the exact pre-guard plan, zero overhead.
    Only when hot buckets exist does the plan grow a broadcast
    anti-join against the (tiny) over-cap bucket list. A window count
    was tried first but forces a full sort of the banded frame and
    defeats the broadcast self-join AQE picks at small band
    cardinalities; an unconditional anti-join still cost ~1-2s per
    query in the cold bench.
    """
    over = (
        banded.groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("bsz"))
        .filter(F.col("bsz") > cap)
    )
    LAST_GUARD_METRICS[name] = {"dropped_buckets": over}
    if over.count() == 0:
        return banded
    return banded.join(
        # broadcast: the over-cap bucket list (est 106 MB → 8.7 GB, sf0.001 → sf0.1)
        F.broadcast(over.select("band", "bucket")),
        ["band", "bucket"],
        "left_anti",
    )


# the MIN identity: a signature slot over no shingle at all
SIG_EMPTY = 2**63 - 1


def minhash_signatures(
    docs: DataFrame, k: int = 3, num_hashes: int = 32
) -> DataFrame:
    """-> (doc_id, sig: array<long>) MinHash signature per document.

    Shape: explode the k-token shingles and fold all ``num_hashes``
    minima with codegen'd MIN aggregates — an md5-derived base-hash
    pair and the Kirsch-Mitzenmacher combination g_i = h1 + i*h2
    (h1 = 60 bits, h2 = 32 bits, so h1 + 31*h2 < 2^61 and ANSI bigint
    math can't overflow), with the mins all running inside whole-stage
    codegen. The aggregate is ONE ``array(min(h1 + i * h2), ...)`` SQL
    expression, like the band buckets (band_buckets): as Column objects,
    one py4j call per node, the signature + band build took ~0.5 s of
    driver time warm on a 4-core host, ~0.15 s as SQL. The base hashes
    parse fixed hex slices of ONE md5 per shingle (h1 = hex[1..15],
    h2 = hex[17..24]) rather than xxhash64: md5 costs more per call,
    but it is the hash every engine computes
    identically — the whole near-dup family (signatures, band buckets,
    pair estimates, clusters) becomes replayable as ANSI SQL, which is
    what lets DuckDB oracle-verify these operators end to end. A
    doc's shingle rows are colocated
    with it, so partial aggregation collapses to one row per doc
    map-side — the exchange carries |docs| x num_hashes longs, never
    shingles. An earlier all-array formulation (num_hashes zip_with
    passes per doc) kept everything in one row but paid interpreted
    higher-order-function evaluation: measured 9.1s vs 4.8s for
    identical output on 50k docs. MIN is duplicate-insensitive, so no
    shingle dedup is needed.

    A document shorter than ``k`` tokens is one whole-document shingle
    (:func:`token_ngrams` at width ``least(k, size)``). A NULL text has
    no shingle, so every slot holds the MIN identity ``SIG_EMPTY``, as
    in the stream's fold (``streaming.dedup.minhash_sig_col``).
    """
    toks = docs.select("doc_id", F.split(F.col("text"), " ").alias("toks"))
    sh = toks.select(
        "doc_id",
        F.explode_outer(
            token_ngrams("toks", F.least(F.lit(k), F.size("toks")))
        ).alias("s"),
    )
    hx = sh.select("doc_id", F.md5("s").alias("hx"))
    h1 = h60("hx")
    h2 = F.conv(F.substring("hx", 17, 8), 16, 10).cast("long")
    hashed = hx.select("doc_id", h1.alias("h1"), h2.alias("h2"))
    mins = ", ".join(
        f"coalesce(min(h1 + {i} * h2), {SIG_EMPTY})" for i in range(num_hashes)
    )
    sig = F.expr(f"array({mins})").alias("sig")
    return hashed.groupBy("doc_id").agg(sig)


def band_buckets(sig: str, num_hashes: int = 32, bands: int = 8) -> Column:
    """``explode`` of one (band, bucket) struct per LSH band of the
    signature column ``sig``, as ONE SQL expression.

    bucket = the md5-derived 60-bit hex parse of the comma-joined band
    rows, matching the signature base hashes: engine-portable, so the
    DuckDB oracle reproduces the exact same blocking. The batch LSH
    (_band_frame) and the streaming dedup both use it, so batch and
    stream block the same documents together.
    """
    rows = num_hashes // bands
    structs = ", ".join(
        f"struct({b} AS band, "
        + h60_sql(
            "md5(concat_ws(',', "
            + ", ".join(
                f"CAST({sig}[{b * rows + r}] AS STRING)" for r in range(rows)
            )
            + "))"
        )
        + " AS bucket)"
        for b in range(bands)
    )
    return F.expr(f"explode(array({structs}))")


def _band_frame(
    sig: DataFrame, num_hashes: int = 32, bands: int = 8
) -> DataFrame:
    """(doc_id, sig) -> (doc_id, sig, band, bucket) LSH band rows
    (see band_buckets)."""
    return sig.select(
        "doc_id", "sig", band_buckets("sig", num_hashes, bands).alias("bb")
    ).select(
        "doc_id",
        "sig",
        F.col("bb.band").alias("band"),
        F.col("bb.bucket").alias("bucket"),
    )


def _minhash_rep_pairs(
    spark: SparkSession,
    sf_dir: str,
    k: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    max_bucket: int = HOT_BUCKET_CAP,
):
    """Representative-level MinHash-LSH near-dup pairs.

    -> (rep_pairs(doc_a, doc_b, est_jaccard), member_rep(doc_id, rep_id)).
    Shared by minhash_near_dup (which expands pairs back to member
    documents) and dedup_clusters (which propagates labels over the
    rep graph only and attaches members at the end). Buckets larger
    than ``max_bucket`` are dropped before the self-join (see
    _cap_hot_buckets).
    """
    docs = load_table(spark, sf_dir, "documents")
    member_rep, reps = _exact_groups(docs)
    sig = minhash_signatures(reps, k=k, num_hashes=num_hashes)
    banded = _band_frame(sig, num_hashes=num_hashes, bands=bands)
    # the banded frame feeds BOTH sides of the self-join AND the
    # hot-bucket size scan; without persist Spark computes the whole
    # signature pipeline once per consumer (no cross-branch CSE). At
    # scale this is the "checkpoint signatures before pairing" stage
    # of a dedup pipeline. PRE-PARTITIONED on the join key: the
    # InMemoryRelation retains this partitioning, so the self-join
    # consumes the cache in place — without it each side re-exchanged
    # the full (sig-array-wide) frame (seen in an x100 profile).
    banded = track(
        banded.repartition("band", "bucket")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # the guard's bucket-count action also fills the cache eagerly —
    # the two self-join sides would otherwise race to populate it
    # inside one job, each recomputing the signature pipeline
    banded = _cap_hot_buckets(banded, max_bucket, "minhash_lsh_guard")

    left = banded.alias("l")
    # SHUFFLE_HASH: with both sides cache-co-located the sort-merge
    # strategy's only remaining cost is sorting the wide signature rows
    # twice per query — the hash build on one side's (bounded) bucket
    # partition skips both sorts, and unlike broadcast it never ships
    # the corpus to the driver
    right = banded.alias("r").hint("shuffle_hash")
    pairs = (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(
            F.col("l.doc_id").alias("doc_a"),
            F.col("r.doc_id").alias("doc_b"),
            (
                F.expr(
                    "size(filter(zip_with(l.sig, r.sig, (x, y) -> x = y), b -> b))"
                ).cast("double")
                / F.lit(num_hashes)
            ).alias("est_jaccard"),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.max("est_jaccard").alias("est_jaccard"))
        .filter(F.col("est_jaccard") >= threshold)
    )
    return pairs, member_rep


def minhash_near_dup(
    spark: SparkSession,
    sf_dir: str,
    k: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    sort: bool = True,
    max_bucket: int = HOT_BUCKET_CAP,
) -> DataFrame:
    """MinHash-LSH near-duplicate pairs.

    shingle -> minhash signature -> band buckets -> bucket self-join ->
    estimated Jaccard (fraction of agreeing minhashes) >= threshold.
    Banding with r = num_hashes/bands rows makes the S-curve cutoff
    ~ (1/bands)^(1/r). `sort=False` skips the deterministic output
    order for callers (e.g. clustering) that treat pairs as a set.

    Duplicate-heavy corpora (the norm in web-scale pretraining data)
    are handled by EXACT-dedup-first: identical texts collapse to one
    representative per content hash, the signature + LSH self-join
    pipeline runs over representatives only, and pairs expand back to
    member documents at output time. Output is identical (exact copies
    share signatures, so every expanded pair is a pair the naive
    self-join would emit with the same est_jaccard; intra-group pairs
    are est_jaccard = 1.0 by construction) but the quadratic bucket
    self-join cost scales with DISTINCT texts — without this, a bucket
    holding c copies of one document costs c^2 signature comparisons
    for pairs we already know are duplicates.
    """
    pairs, member_rep = _minhash_rep_pairs(
        spark, sf_dir, k=k, num_hashes=num_hashes, bands=bands,
        threshold=threshold, max_bucket=max_bucket,
    )
    out = _expand_pairs(pairs, member_rep, "est_jaccard", F.lit(1.0))
    return out.orderBy("doc_a", "doc_b") if sort else out


def incremental_dedup(
    spark: SparkSession,
    sf_dir: str,
    batch_mod: int = 5,
    k: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    max_bucket: int = HOT_BUCKET_CAP,
) -> DataFrame:
    """Cross-corpus dedup: classify an incoming batch AGAINST an
    existing reference corpus (the shape of deduping a new crawl into
    an already-deduped pretraining corpus, where a self-join over the
    union would redo all historic work).

    Docs with ``doc_id % batch_mod == 0`` are the incoming batch; all
    others are the reference corpus. Each batch doc gets one verdict
    row (doc_id, status, match_id, est); NULL texts are one exact group:

    - ``exact``: a reference doc has byte-identical text; match_id =
      smallest such reference doc_id, est = 1.0.
    - ``near``: no exact match, but a reference doc shares an LSH band
      bucket with estimated MinHash Jaccard >= ``threshold``; match_id
      = the best match (highest est, ties to smallest doc_id).
    - ``new``: neither; match_id = -1, est = 0.0 (sentinels, not
      NULLs, so the long/double column types are stable engine-wide).

    Scale shape: the exact tier is a digest-only join (md5 shuffles,
    text never moves). The near tier signatures only group
    REPRESENTATIVES (one per distinct text per side — exact-dedup-first
    like minhash_near_dup), and the candidate join is batch-banded ×
    reference-banded with the batch side broadcast: an ingest batch is
    bounded, so the 100 TB reference side never shuffles for the join —
    its band rows stream map-side past the broadcast hash table. The
    same hot-bucket cap guards degenerate buckets (counted over BOTH
    sides, since candidate count per bucket is |batch| × |ref|).

    Fully md5-derived hash family -> DuckDB-replayable, oracle-checked.
    The reference library (metevents) has no corpus surface; this is
    the §8.3 pipeline extension applied to the ingest boundary.
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # slim digest frame: 3 narrow columns, persisted once, feeds the
    # grouping, the exact tier, and the member-expansion joins — the
    # text column deliberately stays OUT so the cache holds digests
    slim = docs.select(
        "doc_id",
        F.md5("text").alias("gid"),
        (F.pmod("doc_id", F.lit(batch_mod)) == 0).alias("is_batch"),
    )
    slim = track(slim.persist(StorageLevel.MEMORY_AND_DISK))
    grp = slim.groupBy("gid").agg(
        F.min(F.when(~F.col("is_batch"), F.col("doc_id"))).alias("ref_match"),
        F.min(F.when(F.col("is_batch"), F.col("doc_id"))).alias("batch_rep"),
    )
    grp = track(grp.persist(StorageLevel.MEMORY_AND_DISK))
    # null-safe: a NULL text is one exact group (md5(NULL) is NULL), as
    # in minhash_near_dup's PARTITION BY md5(text)
    batch = slim.filter("is_batch")
    batch_members = batch.join(
        grp, batch["gid"].eqNullSafe(grp["gid"])
    ).drop(grp["gid"])

    exact = batch_members.filter("ref_match IS NOT NULL").select(
        "doc_id",
        F.lit("exact").alias("status"),
        F.col("ref_match").alias("match_id"),
        F.lit(1.0).alias("est"),
    )

    # near tier: signatures for batch-only reps vs reference reps.
    # BOTH sides run through ONE signature pipeline: separate
    # per-side pipelines each paid their own documents scan, shingle
    # explode and 32-min aggregate — identical total rows, twice the
    # stages and twice the text reads. The sides are disjoint doc_id
    # sets (batch vs reference ids), so one union of rep ids + one
    # text join + one signature/band pass computes the same rows, and
    # the side tag re-attaches map-side via a broadcast of the
    # rep-id→side map (rep-sized, two narrow columns).
    rep_ids = (
        grp.filter("ref_match IS NULL AND batch_rep IS NOT NULL")
        .select(F.col("batch_rep").alias("doc_id"), F.lit("b").alias("side"))
        .unionByName(
            grp.filter("ref_match IS NOT NULL").select(
                F.col("ref_match").alias("doc_id"), F.lit("r").alias("side")
            )
        )
    )
    reps = rep_ids.select("doc_id").join(docs, "doc_id")
    banded = _band_frame(
        minhash_signatures(reps, k=k, num_hashes=num_hashes),
        num_hashes=num_hashes,
        bands=bands,
    )
    # broadcast: ≤ 2 reps per ingest-batch group (est 56 KB → 510 KB, sf0.001 → sf0.1)
    both = banded.join(F.broadcast(rep_ids), "doc_id")
    both = track(both.persist(StorageLevel.MEMORY_AND_DISK))
    both = _cap_hot_buckets(both, max_bucket, "incremental_lsh_guard")
    cand = (
        # broadcast: the ingest batch's band rows (est 774 KB → 7.7 MB, sf0.001 → sf0.1)
        F.broadcast(both.filter("side = 'b'").drop("side")).alias("l")
        .join(
            both.filter("side = 'r'").drop("side").alias("r"),
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bucket") == F.col("r.bucket")),
        )
        .select(
            F.col("l.doc_id").alias("b_rep"),
            F.col("r.doc_id").alias("m_id"),
            (
                F.expr(
                    "size(filter(zip_with(l.sig, r.sig, (x, y) -> x = y), b -> b))"
                ).cast("double")
                / F.lit(num_hashes)
            ).alias("est"),
        )
        .groupBy("b_rep", "m_id")
        .agg(F.max("est").alias("est"))
        .filter(F.col("est") >= threshold)
    )
    w = Window.partitionBy("b_rep").orderBy(F.desc("est"), F.asc("m_id"))
    best = (
        cand.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .select("b_rep", "m_id", "est")
    )

    no_exact = batch_members.filter("ref_match IS NULL")
    near = no_exact.join(
        best, no_exact["batch_rep"] == best["b_rep"]
    ).select(
        "doc_id",
        F.lit("near").alias("status"),
        F.col("m_id").alias("match_id"),
        "est",
    )
    new = no_exact.join(
        best, no_exact["batch_rep"] == best["b_rep"], "left_anti"
    ).select(
        "doc_id",
        F.lit("new").alias("status"),
        F.lit(-1).cast("long").alias("match_id"),
        F.lit(0.0).alias("est"),
    )
    return exact.unionByName(near).unionByName(new).orderBy("doc_id")


def ngram_jaccard_pairs(
    spark: SparkSession, sf_dir: str, prefix_len: int = 64
) -> DataFrame:
    """Exact token-set Jaccard for candidate pairs sharing a content
    prefix bucket — the verification stage after cheap LSH/prefix
    blocking. Pairwise work only happens inside buckets, never across
    the corpus.

    Exact duplicates collapse to representatives first (identical text
    -> identical prefix bucket and token set, so expanded pairs match
    the naive bucket join with intra-group jaccard 1.0) — token arrays
    shuffle once per DISTINCT text, not per copy. The (id, bucket,
    token-set) frame is PERSISTED: it feeds both self-join sides, and
    unpersisted each side re-scanned the corpus and re-tokenized every
    rep text (the signature-binding discipline the minhash path
    already follows).
    """
    docs = load_table(spark, sf_dir, "documents")
    member_rep, reps = _exact_groups(docs)
    t = track(
        reps.select(
            "doc_id",
            F.md5(F.substring("text", 1, prefix_len)).alias("ph"),
            F.array_distinct(F.split(F.col("text"), " ")).alias("toks"),
        ).persist(StorageLevel.MEMORY_AND_DISK)
    )
    a, b = t.alias("a"), t.alias("b")
    inter = F.size(F.array_intersect(F.col("a.toks"), F.col("b.toks")))
    union = F.size(F.array_union(F.col("a.toks"), F.col("b.toks")))
    rep_pairs = a.join(
        b,
        (F.col("a.ph") == F.col("b.ph"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        F.round(inter.cast("double") / union, 6).alias("jaccard"),
    )
    return _expand_pairs(rep_pairs, member_rep, "jaccard", F.lit(1.0)).orderBy(
        "doc_a", "doc_b"
    )


def _simhash_frame(docs: DataFrame, nbits: int = 64) -> DataFrame:
    """-> (doc_id, simhash) 64-bit SimHash per document.

    Token hashes stay JVM-side (md5-derived 60-bit hex parse via a
    transform over the token array — engine-portable, so the DuckDB
    oracle reproduces the exact fingerprints; bits 60-63 always vote
    negative and pack to 0); the per-bit signed VOTE runs in a
    scalar pandas UDF over the per-document hash array: one Arrow batch
    in, numpy bit-unpack + sign-sum + weight-pack per row, no explode
    and no shuffle. Produces bit-identical fingerprints to the
    explode/64-aggregate formulation at ~3x the throughput (numpy int64
    shift semantics match Java's arithmetic shift, and summing distinct
    powers of two — including the wrapping 1<<63 — equals the OR fold).
    """
    htoks = F.transform(F.split(F.col("text"), " "), lambda t: h60(F.md5(t)))

    # NOTE: a batch-flattened np.add.reduceat formulation was measured
    # 3x SLOWER at 500k docs (the (total_tokens, 64) int64 intermediate
    # is memory-bandwidth-bound across 32 threads); the per-document
    # loop keeps each (tokens, 64) bit matrix cache-resident.
    @F.pandas_udf("long")
    def simhash_votes(harrs: pd.Series) -> pd.Series:
        out = np.empty(len(harrs), dtype=np.int64)
        weights = np.int64(1) << np.arange(nbits, dtype=np.int64)
        for i, hs in enumerate(harrs):
            h = np.asarray(hs, dtype=np.int64)
            bits = (h[:, None] >> np.arange(nbits, dtype=np.int64)) & 1
            votes = (2 * bits - 1).sum(axis=0)
            out[i] = weights[votes > 0].sum()
        return pd.Series(out)

    return docs.select("doc_id", simhash_votes(htoks).alias("simhash"))


def simhash_fingerprints(
    spark: SparkSession, sf_dir: str, nbits: int = 64
) -> DataFrame:
    """64-bit SimHash per document (see _simhash_frame).

    Runs the vote directly over every document: fingerprinting is
    LINEAR, so unlike the pairwise operators there is no quadratic
    blowup for exact-dedup-first to guard against — collapsing to
    representatives would trade two shuffles for a map-side constant,
    a loss at any scale where duplicates are not the majority.
    """
    docs = load_table(spark, sf_dir, "documents")
    return _simhash_frame(docs, nbits=nbits).orderBy("doc_id")


def simhash_near_dup(
    spark: SparkSession,
    sf_dir: str,
    max_hamming: int = 3,
    bands: int = 4,
    nbits: int = 64,
    max_bucket: int = HOT_BUCKET_CAP,
) -> DataFrame:
    """SimHash near-duplicate pairs via band-bucket candidate join.

    The 64-bit fingerprint splits into ``bands`` disjoint bit-bands; by
    pigeonhole, any pair within ``bands - 1`` differing bits shares at
    least one identical band, so candidates form only inside band-bucket
    groups (hash join on 16-bit keys — never all-pairs). Survivors are
    filtered on exact Hamming distance bit_count(a XOR b) <= threshold.
    With the default max_hamming = bands - 1 the result is EXACT (no
    false negatives), not approximate. Only (doc_id, 8-byte
    fingerprint) ever shuffles.

    Exact duplicates collapse to one representative per content hash
    before fingerprinting (see minhash_near_dup) — identical texts have
    identical SimHashes, so the expanded pairs match the naive
    self-join's output with intra-group pairs at hamming 0, while the
    bucket self-join cost scales with distinct texts.
    """
    width = nbits // bands
    mask = (1 << width) - 1
    docs = load_table(spark, sf_dir, "documents")
    member_rep, reps = _exact_groups(docs)
    sig = _simhash_frame(reps, nbits=nbits)
    band_cols = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright(F.col("simhash"), b * width)
                .bitwiseAND(F.lit(mask))
                .alias("bucket"),
            )
            for b in range(bands)
        ]
    )
    banded = sig.select(
        "doc_id", "simhash", F.explode(band_cols).alias("bb")
    ).select(
        "doc_id", "simhash",
        F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"),
    )
    # persisted for the same reason as minhash_near_dup: the vote
    # aggregation feeds both self-join sides and the hot-bucket scan
    banded = track(banded.persist(StorageLevel.MEMORY_AND_DISK))
    banded = _cap_hot_buckets(banded, max_bucket, "simhash_lsh_guard")
    left, right = banded.alias("l"), banded.alias("r")
    hamming = F.bit_count(
        F.col("l.simhash").bitwiseXOR(F.col("r.simhash"))
    ).cast("long")
    rep_pairs = (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(
            F.col("l.doc_id").alias("doc_a"),
            F.col("r.doc_id").alias("doc_b"),
            hamming.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )
    return _expand_pairs(
        rep_pairs, member_rep, "hamming", F.lit(0).cast("long")
    ).orderBy("doc_a", "doc_b")


def dedup_clusters(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.5,
    max_iters: int = 10,
) -> DataFrame:
    """Near-duplicate CLUSTER assignment: connected components over the
    MinHash near-dup pair graph by iterative min-label propagation.

    Each iteration is one join + groupBy (label = min of own and
    neighbors' labels); convergence in O(component diameter) rounds —
    near-dup components are shallow (stars/cliques), so 2-3 rounds in
    practice. Iteration state is persisted and replaced each round, the
    standard Spark pattern for iterative graph algorithms (Pregel-lite).

    Scale note: the propagation loop runs ONLY over exact-dedup
    REPRESENTATIVES that appear in a near-dup edge — at corpus scale
    the overwhelming majority of documents are isolated (their own
    cluster) and must not be dragged through every iteration's shuffle,
    and exact copies cannot change the outcome (each rep is already the
    min doc_id of its copy group, so a member's min-reachable label IS
    its rep's). Members and isolated docs attach with single joins at
    the end, outside the loop.

    Output: (doc_id, cluster) where cluster = min doc_id reachable.
    """
    # materialize the DIRECTED rep-level pairs once and TRUNCATE LINEAGE:
    # the LSH self-join behind them is the expensive part, and — the
    # iterative-algorithm pitfall — every round's Catalyst analysis
    # otherwise re-walks the whole signature-pipeline logical plan,
    # which measured ~3.2 s/round of pure driver-side planning at sf0.1
    # vs ~0.6 s/round checkpointed. localCheckpoint is the Pregel-style
    # iteration cut GraphX/MLlib use; on a fault-tolerant cluster run,
    # swap for reliable .checkpoint() with a checkpoint dir.
    rep_pairs, member_rep = _minhash_rep_pairs(spark, sf_dir, threshold=threshold)
    # tracked like every multi-consumer persist: the next registry
    # query (after this one's result materializes) releases the
    # checkpoint instead of waiting for the ContextCleaner to GC it
    pairs = track(rep_pairs.select("doc_a", "doc_b").localCheckpoint())
    # the symmetric edge frame is joined on doc_b EVERY round; cached
    # pre-partitioned on it (on top of the lineage-cutting checkpoint,
    # which itself scans back as UnknownPartitioning) each round
    # consumes the cache in place and shuffles only the label frame;
    # the rounds run under cache.fixpoint, which states the round contract
    edges = track(
        pairs.union(
            pairs.select(
                F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b")
            )
        )
        .repartition("doc_b")
        .persist()
    )

    def propagate(labels: DataFrame, _: int) -> DataFrame:
        # next label = min over own label and in-neighbors' labels: one
        # shuffle-join to pull neighbor labels + one groupBy-min over
        # the union with the current labels (map-side combinable).
        contrib = edges.join(
            labels.hint("shuffle_hash"),
            edges["doc_b"] == labels["doc_id"],
        ).select(F.col("doc_a").alias("doc_id"), "cluster")
        return (
            contrib.union(labels)
            .groupBy("doc_id")
            .agg(F.min("cluster").alias("cluster"))
        )

    # vertices touched by at least one edge — the only ones whose label
    # can ever change under min-propagation. Labels only ever DECREASE,
    # so the label sum strictly drops until fixpoint — one aggregate per
    # round detects convergence, no self-join diff needed
    labels = edges.select(F.col("doc_a").alias("doc_id")).distinct()
    labels = labels.withColumn("cluster", F.col("doc_id"))
    labels, _ = fixpoint(spark, labels, propagate, sum_settled("cluster"), max_iters)

    # attach every document via its exact-dedup representative:
    # edge-less reps (isolated texts) become singleton clusters, exact
    # copies inherit their rep's label (= min doc_id of the copy group,
    # which is what intra-group edges would have propagated anyway)
    out = member_rep.join(
        labels.withColumnRenamed("doc_id", "rep_id"), "rep_id", "left"
    ).select(
        "doc_id", F.coalesce("cluster", F.col("rep_id")).alias("cluster")
    )
    return out.orderBy("doc_id")


def edit_distance_pairs(
    spark: SparkSession, sf_dir: str, prefix_len: int = 64, cap_len: int = 1024
) -> DataFrame:
    """Exact Levenshtein distance for candidate pairs sharing a content
    prefix bucket — the character-level verification stage companion to
    :func:`ngram_jaccard_pairs` (token-level). Levenshtein is
    O(len_a * len_b) per pair, so it only ever runs inside prefix
    buckets after exact-duplicate collapse, and on at most ``cap_len``
    characters per side (a bounded-cost guarantee the 100 TB plan
    needs; corpus texts below the cap get the exact full distance).

    Exact copies expand from representative pairs with distance 0.
    """
    docs = load_table(spark, sf_dir, "documents")
    member_rep, reps = _exact_groups(docs)
    # persisted PRE-PARTITIONED on the prefix bucket (the
    # _minhash_rep_pairs pattern, guide §2.4/§3.1): without the cache
    # each self-join side re-ran the rep text join + md5 + substring,
    # and each side paid its own ph exchange; the InMemoryRelation
    # retains the ph partitioning, so the self-join consumes the cache
    # in place — the capped texts move once, at build
    t = track(
        reps.select(
            "doc_id",
            F.md5(F.substring("text", 1, prefix_len)).alias("ph"),
            F.substring("text", 1, cap_len).alias("text"),
        )
        .repartition("ph")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # eager fill (one bounded count job): an UNexecuted AQE cached plan
    # reports unknown output partitioning, so the self-join below would
    # re-exchange BOTH sides on ph despite the cache; once materialized
    # the InMemoryRelation's final plan pins hashpartitioning(ph) and
    # the join consumes the cache in place (the same mechanism that
    # makes _minhash_rep_pairs' guard count double as its cache fill)
    t.count()
    # SHUFFLE_HASH on the build side: both sides are cache-co-located,
    # so sort-merge would only add two sorts of kilobyte-wide text rows
    a, b = t.alias("a"), t.alias("b").hint("shuffle_hash")
    rep_pairs = a.join(
        b,
        (F.col("a.ph") == F.col("b.ph")) & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        F.levenshtein(F.col("a.text"), F.col("b.text")).cast("long").alias("edit_dist"),
    )
    return _expand_pairs(
        rep_pairs, member_rep, "edit_dist", F.lit(0).cast("long")
    ).orderBy("doc_a", "doc_b")


def dedup_keep_list(
    spark: SparkSession, sf_dir: str, **cluster_kwargs
) -> DataFrame:
    """The user-facing end of the dedup pipeline: one keep/drop
    decision per document. Canonical = the minimum doc_id of each
    near-dup cluster (deterministic, id-stable across runs); everything
    else in the cluster is dropped with a pointer to its canonical.

    Adds ONE cluster-keyed aggregate + one join on top of
    :func:`dedup_clusters`; the aggregate side is |clusters| rows.
    Output: (doc_id, cluster, canonical_id, keep).
    """
    clusters = dedup_clusters(spark, sf_dir, **cluster_kwargs)
    canon = clusters.groupBy("cluster").agg(
        F.min("doc_id").alias("canonical_id")
    )
    return (
        clusters.join(canon, "cluster")
        .select(
            "doc_id",
            "cluster",
            "canonical_id",
            (F.col("doc_id") == F.col("canonical_id")).alias("keep"),
        )
        .orderBy("doc_id")
    )


def duplicate_spans(
    spark: SparkSession,
    sf_dir: str,
    n: int = 8,
    min_run: int = 3,
) -> DataFrame:
    """Exact-substring duplicate SPANS: per document, the maximal runs
    of consecutive token positions whose ``n``-grams also occur in at
    least one OTHER document — the span-removal stage of
    "deduplicate long common substrings" training-data pipelines
    (:func:`cross_doc_ngram_share` reports the per-doc share; this
    operator reports WHERE the shared material sits so it can be cut).
    A run of ``r`` consecutive duplicated n-gram positions is a shared
    substring of ``r + n - 1`` tokens; only runs with
    ``r >= min_run`` are reported.

    Scale shape — never pairwise, two digest-keyed exchanges:
      1. positions x n-grams expand MAP-SIDE (higher-order transform;
         only 16-byte dual-xxhash64 fingerprints leave the scan, never
         gram text — hashing the token-array slice directly skips both
         the array_join string build and the md5 crypto rounds of the
         earlier formulation, and two independent 64-bit hashes put
         corpus-scale collision odds past 1e-18);
      2. ONE digest-keyed exchange marks duplicated positions:
         min/max(doc_id) window aggregates over the gram partition
         ("occurs in >= 2 distinct docs" == min != max) annotate every
         position in place — the earlier aggregate-then-join-back
         formulation shuffled the full position frame TWICE (agg
         exchange + join probe exchange); the window pays one exchange
         plus the partition sort the grouping needs anyway (measured
         2x faster at the tenfold corpus, byte-identical output; the
         same pattern as _exact_groups' member->rep window);
      3. gaps-and-islands per doc — ``pos - row_number()`` constant
         within a consecutive run (the engine's run_group kernel,
         SURVEY §2.1, applied to token positions instead of
         timestamps) — one doc-keyed exchange for the window + span
         aggregate.

    Output: (doc_id, start_pos, end_pos, span_tokens, n_grams),
    1-based token positions, ordered (doc_id, start_pos).
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toked = docs.select("doc_id", F.split(F.col("text"), " ").alias("t"))
    grams = token_ngrams(
        "t",
        n,
        lambda w, i: F.struct(
            i.alias("pos"),
            F.struct(
                F.xxhash64(w).alias("h1"), F.xxhash64(w, F.lit(1)).alias("h2")
            ).alias("g"),
        ),
    )
    pos_grams = toked.select(
        "doc_id", F.explode(grams).alias("pg")
    ).select("doc_id", F.col("pg.pos").alias("pos"), F.col("pg.g").alias("g"))
    wg = Window.partitionBy("g")
    marked = (
        pos_grams.select(
            "doc_id",
            "pos",
            F.min("doc_id").over(wg).alias("mn"),
            F.max("doc_id").over(wg).alias("mx"),
        )
        .filter(F.col("mn") != F.col("mx"))
        .select("doc_id", "pos")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    runs = marked.withColumn("rid", F.col("pos") - F.row_number().over(w))
    return (
        runs.groupBy("doc_id", "rid")
        .agg(
            F.min("pos").cast("long").alias("start_pos"),
            F.max("pos").cast("long").alias("end_pos"),
            F.count(F.lit(1)).alias("n_grams"),
        )
        .filter(F.col("n_grams") >= min_run)
        .select(
            "doc_id",
            "start_pos",
            "end_pos",
            (F.col("end_pos") - F.col("start_pos") + n).alias("span_tokens"),
            F.col("n_grams").cast("long").alias("n_grams"),
        )
        .orderBy("doc_id", "start_pos")
    )


def remove_duplicate_spans(
    spark: SparkSession,
    sf_dir: str,
    n: int = 8,
    min_run: int = 3,
) -> DataFrame:
    """Apply the :func:`duplicate_spans` cut-list: drop every token
    covered by a reported span (a span of gram positions a..b covers
    tokens a .. b+n-1) and re-join the survivors — the actual
    span-removal rewrite step of exact-substring dedup pipelines.

    Scale shape: spans collapse to one tiny array per affected doc
    (|spans| rows, far smaller than the corpus), LEFT-join onto the
    documents, and the cut itself is a map-side higher-order
    filter-with-exists over the token array — no token-level explode,
    no token-level join; untouched documents stream through with an
    empty span list.

    Output: (doc_id, n_tokens, n_removed, clean_text), one row per
    document, ordered by doc_id.
    """
    spans = duplicate_spans(spark, sf_dir, n=n, min_run=min_run)
    span_lists = spans.groupBy("doc_id").agg(
        F.collect_list(
            F.struct(
                F.col("start_pos").alias("a"),
                (F.col("end_pos") + (n - 1)).alias("b"),
            )
        ).alias("spans")
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toked = docs.select("doc_id", F.split(F.col("text"), " ").alias("t"))
    joined = toked.join(span_lists, "doc_id", "left").withColumn(
        "spans", F.coalesce("spans", F.array().cast("array<struct<a:long,b:long>>"))
    )
    indexed = F.transform(
        F.col("t"), lambda x, i: F.struct(x.alias("tok"), (i + 1).alias("pos"))
    )
    kept = F.filter(
        indexed,
        lambda s: ~F.exists(
            F.col("spans"),
            lambda sp: (s["pos"] >= sp["a"]) & (s["pos"] <= sp["b"]),
        ),
    )
    # bind the kept array once: n_removed and clean_text both reference
    # it, and codegen does not CSE repeated references — inlined, the
    # O(tokens x spans) filter-with-exists ran twice per row
    bound = joined.select("doc_id", "t", kept.alias("_kept"))
    return (
        bound.select(
            "doc_id",
            F.size("t").cast("long").alias("n_tokens"),
            (F.size("t") - F.size("_kept")).cast("long").alias("n_removed"),
            F.array_join(
                F.transform(F.col("_kept"), lambda k: k["tok"]), " "
            ).alias("clean_text"),
        )
        .orderBy("doc_id")
    )


def paragraph_dedup(
    docs: DataFrame, sep: str = "\n\n", min_chars: int = 16
) -> DataFrame:
    """Corpus-wide paragraph-level dedup (the CCNet recipe: hash every
    paragraph, keep each distinct paragraph's FIRST occurrence, rewrite
    documents without the repeats). Catches boilerplate that recurs
    across documents — headers, footers, license blocks — which
    document-level dedup cannot see and span dedup only catches at
    fixed n-gram granularity.

    Winner rule: lowest (doc_id, pos) per paragraph md5 — deterministic
    and engine-portable. Paragraphs shorter than ``min_chars`` are
    never deduped (short strings collide semantically: "Thanks!" is
    not boilerplate worth deleting).

    Scale shape: explode paragraphs map-side; ONE hash exchange on the
    md5 digest decides winners (only 32-char digests + (doc_id, pos)
    keys shuffle — paragraph text stays at the scan until reassembly);
    rebuild is a per-doc groupBy of the kept paragraphs (second
    exchange, doc-keyed). No self-joins, nothing quadratic.

    Registered as the ``paragraph_dedup`` query (oracle-backed:
    DuckDB expresses the same explode/argmin/rebuild).

    Returns (doc_id, text, n_paragraphs, n_dropped).
    """
    from pyspark.sql import Window

    # F.split takes a JAVA REGEX: quote the separator (\Q...\E) so '. '
    # splits on the literal two characters, not any-char-plus-space
    sep_re = "\\Q" + sep + "\\E"
    paras = docs.select(
        "doc_id",
        F.posexplode(F.split(F.col("text"), sep_re)).alias(
            "pos", "para"
        ),
    )
    w = Window.partitionBy("digest")
    flagged = (
        paras.withColumn("digest", F.md5(F.col("para")))
        .withColumn(
            "keep",
            (F.length("para") < min_chars)
            | (
                F.struct("doc_id", "pos")
                == F.min(F.struct("doc_id", "pos")).over(w)
            ),
        )
    )
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("keep"),
                                F.struct("pos", "para"),
                            )
                        )
                    ),
                    lambda s: s.getField("para"),
                ),
                sep,
            ).alias("text"),
            F.count(F.lit(1)).cast("long").alias("n_paragraphs"),
            F.sum(F.when(~F.col("keep"), 1).otherwise(0))
            .cast("long")
            .alias("n_dropped"),
        )
        .orderBy("doc_id")
    )


def dedup_recall_report(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.5,
    sample: int = 200,
    k: int = 3,
) -> DataFrame:
    """Calibration meter for the MinHash-LSH dedup path: measured
    precision / recall / F1 of :func:`minhash_near_dup` against exact
    shingle-set Jaccard ground truth on a deterministic document
    sample — the dedup counterpart of ann_recall_report (is the banded
    signature actually catching the near-dups the threshold promises,
    and how much does it over-fire?). Pipelines gate LSH parameter
    changes (bands, hashes, shingle size) on this number.

    Ground truth is EXACT Jaccard over the same k-shingle sets the
    signatures sketch, computed all-pairs over an md5-deterministic
    ``sample`` of exact-dedup representatives: a FIXED-size bounded
    cross product (sample^2/2 pairs, broadcast nested-loop — never
    corpus-sized; the sample stays 200 docs at 100 TB, the measurement
    cost is scale-independent). The predicted side is the PRODUCTION
    pair stream — minhash_near_dup's actual output restricted to
    sampled pairs — so the meter measures the deployed path (banding,
    hot-bucket caps, member expansion included), not a reimplementation.

    Oracle-green: the predicted side IS the
    minhash_near_dup SQL replay (md5-derived signatures)
    restricted to sampled pairs, and the ground truth is plain SQL —
    queries.ORACLE_SQL["dedup_recall_report"] value-hash-matches this
    frame. tests/test_round7_ops.py additionally recomputes the
    ground truth independently in pandas and pins the confusion
    counts.

    Returns ONE row: (n_sample, n_true_pairs, n_pred_pairs,
    true_positives, precision, recall, f1).
    """
    docs = load_table(spark, sf_dir, "documents")
    _, reps = _exact_groups(docs)
    # persisted: the sample is picked by a TakeOrdered over ALL
    # representatives (a corpus-sized pass above the member_rep cache),
    # and it feeds FOUR consumers — the truth cross join's two sides
    # via `shingled` and the two pred-side semi-join broadcasts; without
    # the cache each consumer re-ran the rep text join + md5 sort
    # (DataFrame reuse shares no subplan). The cache is `sample` rows
    # (200) with text — bounded at any corpus size.
    picked = track(
        reps.select(
            "doc_id", "text", F.md5(F.col("doc_id").cast("string")).alias("pk")
        )
        .orderBy("pk", "doc_id")
        .limit(sample)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # eager fill: the four consumers materialize inside one job and a
    # LAZY cache makes them RACE to fill it, each paying the full
    # TakeOrdered pass (measured 6.3 → 10.9 s warm before this count)
    picked.count()
    shingled = picked.select(
        "doc_id", F.split("text", " ").alias("w")
    ).select(
        "doc_id",
        F.array_distinct(
            token_ngrams("w", F.least(F.lit(k), F.size("w")))
        ).alias("sh"),
    )
    a = shingled.select(
        F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a")
    )
    b = shingled.select(
        F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b")
    )
    truth = (
        a.crossJoin(b)
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            (
                F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
                / F.size(F.array_union("sh_a", "sh_b"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    sample_ids = picked.select("doc_id")
    pred = (
        minhash_near_dup(spark, sf_dir, threshold=threshold, sort=False)
        .join(
            sample_ids.withColumnRenamed("doc_id", "doc_a"),
            "doc_a",
            "left_semi",
        )
        .join(
            sample_ids.withColumnRenamed("doc_id", "doc_b"),
            "doc_b",
            "left_semi",
        )
        .select("doc_a", "doc_b")
    )
    joined = truth.select("doc_a", "doc_b").withColumn(
        "is_true", F.lit(1)
    ).join(
        pred.withColumn("is_pred", F.lit(1)), ["doc_a", "doc_b"], "full"
    )
    agg = joined.agg(
        F.sum(F.coalesce("is_true", F.lit(0))).cast("long").alias("n_true_pairs"),
        F.sum(F.coalesce("is_pred", F.lit(0))).cast("long").alias("n_pred_pairs"),
        F.sum(
            F.when(
                F.col("is_true").isNotNull() & F.col("is_pred").isNotNull(),
                1,
            ).otherwise(0)
        ).cast("long").alias("true_positives"),
    )
    prec = F.when(
        F.col("n_pred_pairs") > 0,
        F.col("true_positives") / F.col("n_pred_pairs"),
    ).otherwise(F.lit(None).cast("double"))
    rec = F.when(
        F.col("n_true_pairs") > 0,
        F.col("true_positives") / F.col("n_true_pairs"),
    ).otherwise(F.lit(None).cast("double"))
    f1 = F.when(
        prec.isNotNull() & rec.isNotNull() & ((prec + rec) > 0),
        2 * prec * rec / (prec + rec),
    ).otherwise(F.lit(None).cast("double"))
    return agg.select(
        F.lit(sample).cast("long").alias("n_sample"),
        "n_true_pairs",
        "n_pred_pairs",
        "true_positives",
        F.round(prec, 6).alias("precision"),
        F.round(rec, 6).alias("recall"),
        F.round(f1, 6).alias("f1"),
    )


def doc_containment(
    spark: SparkSession,
    sf_dir: str,
    n: int = 5,
    max_df: int = 10,
    min_containment_ppm: int = 500_000,
    min_shared: int = 3,
) -> DataFrame:
    """Asymmetric n-gram containment C(A in B) = |S_A ∩ S_B| / |S_A| —
    the superset detector Jaccard misses: a short document quoted
    wholesale inside a long one has tiny Jaccard but containment ~1.
    The standard screen for quote extraction / boilerplate supersets /
    training-eval contamination in one direction.

    Candidate generation is an inverted-index join on n-gram shingles
    with a document-frequency cap: shingles appearing in more than
    ``max_df`` documents are dropped BEFORE the self-join (the PPJoin
    family's posting-list bound), so pair fan-out is bounded by
    max_df^2 per surviving shingle, never corpus^2. Pairs must share
    ``min_shared`` capped shingles to be scored.

    Scoring contract: the numerator counts shared shingles among the
    RARE (df <= max_df) set only, while |S_A| counts all of A's
    distinct shingles — so the reported value is a LOWER BOUND on true
    containment. Corpus-common shingles carry no pairwise-containment
    signal (they match everything) and keeping them would undo the
    posting-list bound; a pair whose overlap is entirely boilerplate
    is exactly the pair this screen should NOT surface.

    Engine-exact: shingle sets are distinct md5 digests; shared counts
    and set sizes are exact integers; containment is emitted in integer
    ppm via floor division. No float op anywhere.

    Scale shape (guide §2.3/§2.4): the per-doc distinct
    shingle ARRAY is cached (not the exploded postings), so |S_A| is a
    map-side ``size(array)`` — the old groupBy(doc_id) re-aggregation
    of every posting is gone, one full exchange removed. Postings then
    explode into ONE exchange on the shingle hash, where a count
    window computes document frequency WITHOUT buffering hot-shingle
    groups (sort-based, spills gracefully — a collect_list-first plan
    would have to materialize a boilerplate shingle's full posting
    list in one aggregation buffer before dropping it, the exact
    unboundedness the df-cap exists to prevent). Rare postings
    collapse in place (no second exchange — already clustered on sh)
    into per-shingle id lists BOUNDED at max_df elements, and the
    d^2 pair fan-out is a map-side double explode of those bounded
    lists — the old cache-the-postings-twice self-join (which AQE
    turned into a broadcast of the full rare frame: a driver collect
    that grows with the corpus) is gone. One groupBy(pair) whose
    partial aggregation collapses map-side, then a broadcast-sized
    join back to per-doc set sizes (|docs| rows, two columns).
    Document text never moves past the first projection.
    """
    docs = load_table(spark, sf_dir, "documents")
    # two consumers (set sizes, postings) — persist so the text
    # shingles ONCE; the frame is (doc_id, digest array) only, text
    # itself never enters it. Short docs (< n tokens) have an empty
    # shingle set.
    words = docs.select("doc_id", F.split(F.col("text"), " ").alias("w"))
    arrs = track(
        words.select(
            "doc_id",
            F.array_distinct(
                token_ngrams("w", n, lambda w, _: F.md5(F.array_join(w, " ")))
            ).alias("shs"),
        ).persist()
    )
    # cast: size() is int, the contract column n_a is long (was count())
    sizes = arrs.select(
        "doc_id", F.size("shs").cast("long").alias("n_sh")
    )
    grams = arrs.select("doc_id", F.explode("shs").alias("sh"))
    from pyspark.sql import Window

    # document frequency via a count window over the shingle hash —
    # ONE exchange on sh; the rare-shingle posting lists (<= max_df
    # ids each) aggregate IN PLACE on that same partitioning
    w_sh = Window.partitionBy("sh")
    rare_ids = (
        grams.withColumn("df", F.count(F.lit(1)).over(w_sh))
        .where(F.col("df") <= max_df)
        .groupBy("sh")
        .agg(F.collect_list("doc_id").alias("ids"))
    )
    shared = (
        rare_ids.select(F.explode("ids").alias("doc_a"), "ids")
        .select("doc_a", F.explode("ids").alias("doc_b"))
        .where(F.col("doc_a") != F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )
    sz_a = sizes.select(
        F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a")
    )
    return (
        shared.join(sz_a, "doc_a")
        .select(
            "doc_a",
            "doc_b",
            "n_shared",
            "n_a",
            F.expr("n_shared * 1000000L div n_a").alias("containment_ppm"),
        )
        .where(F.col("containment_ppm") >= min_containment_ppm)
        .orderBy("doc_a", "doc_b")
    )


def dedup_survivor_pick(
    spark: SparkSession, sf_dir: str, threshold: float = 0.5
) -> DataFrame:
    """Canonicalization step after near-dup clustering: inside every
    :func:`dedup_clusters` component, elect ONE survivor (longest text
    by ``n_chars``, ties to the lowest doc_id) and tag each member —
    the decision real dedup pipelines actually ship (clustering alone
    answers "what is duplicated", this answers "which copy do we
    keep"). ``is_survivor`` emits as 0/1 LONG for engine-stable
    hashing.

    Plan: the cluster assignment (one row per doc) joins the documents
    scan pruned to (doc_id, n_chars) — NO text payload moves — then
    one cluster-partitioned row_number window picks the survivor and a
    cluster-keyed self-join tags members. Cluster components are small
    (near-dup stars/cliques), so the window partitions are bounded; at
    100 TB the n_chars column rides the same scan that fed clustering.
    """
    from pyspark.sql import Window

    clusters = dedup_clusters(spark, sf_dir, threshold=threshold)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    # two consumers (survivor election + member tagging) — persist the
    # |docs|-row (doc_id, cluster, n_chars) frame so the clustering
    # pipeline upstream runs ONCE (4.6s saved at sf0.1)
    j = track(clusters.join(docs, "doc_id").persist())
    w = Window.partitionBy("cluster").orderBy(F.desc("n_chars"), "doc_id")
    surv = (
        j.select("doc_id", "cluster", F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") == 1)
        .select("cluster", F.col("doc_id").alias("survivor_id"))
    )
    return (
        j.join(surv, "cluster")
        .select(
            "doc_id",
            "cluster",
            "survivor_id",
            (F.col("doc_id") == F.col("survivor_id"))
            .cast("long")
            .alias("is_survivor"),
        )
        .orderBy("doc_id")
    )


def dedup_rate_by_source(
    spark: SparkSession, sf_dir: str, prefix_len: int = 64
) -> DataFrame:
    """Per-source duplication rate on the ``prefix_dedup`` key: for
    each source, how many of its documents share a ``prefix_len``-char
    opening digest with ANY document corpus-wide — the provider-quality
    readout a data-acquisition team runs before renewing a feed
    ("which supplier ships copies"). Complements ``exact_dedup`` /
    ``prefix_dedup`` (which rows to drop) with WHO is responsible.
    The prefix key (not the full-text hash) keeps the signal live on
    near-duplicates that differ in a few trailing tokens — the common
    real-world case, and the only duplication the synthetic corpus
    carries below sf0.1.

    Exact integers + one division: the corpus-wide digest multiplicity
    annotates each row IN PLACE as an unbounded count-window over the
    digest partition (payloads never move — only 32-byte digests plus
    the source tag shuffle once), then one |sources|-sized aggregate.
    The earlier grouped-count/join-back shape scanned documents twice
    and paid the digest exchange twice; the
    explicit ``dig IS NOT NULL`` filter reproduces that inner join's
    implicit null-key drop (NULL text => NULL digest), so the row set
    is identical. Scale-safe by the same argument as every digest-keyed
    dedup op here.
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents").select(
        "source", F.md5(F.substring("text", 1, prefix_len)).alias("dig")
    ).filter(F.col("dig").isNotNull())
    n_dig = F.count(F.lit(1)).over(Window.partitionBy("dig"))
    return (
        docs.select("source", n_dig.alias("n"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("n") > 1, 1).otherwise(0)).alias("n_dup"),
        )
        .select(
            "source",
            "n_docs",
            "n_dup",
            F.round(
                F.col("n_dup").cast("double") / F.col("n_docs").cast("double"),
                6,
            ).alias("dup_rate"),
        )
        .orderBy("source")
    )
