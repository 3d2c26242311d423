"""Streaming near-duplicate detection: MinHash-LSH dedup on ingest.

The batch path (text/dedup.py) dedups a corpus that already exists;
a pretraining ingest wants the same signal AS DOCUMENTS ARRIVE — flag
each incoming document against everything already accepted, so the
writer can drop or tag near-dups before they ever land in a shard.
Same sketch family as batch (k-shingles -> Kirsch-Mitzenmacher MinHash
-> banded buckets), so streaming and batch agree document-for-document:
signatures, band buckets, and est_jaccard are computed with IDENTICAL
expressions, and the emitted pair set over a replayed corpus equals
the batch pair set (asserted in tests/test_streaming_dedup.py).

Spark shape:
  - signature + band buckets are PURE MAP-SIDE column expressions on
    the stream (higher-order array functions; no shuffle, no
    aggregation — a per-doc signature needs nothing but the doc), so
    the only stateful stage is the bucket store;
  - state lives per (band, bucket) key in ``applyInPandasWithState``:
    the signatures previously seen in that bucket, flattened to a
    fixed-schema long array. An arriving document compares against its
    bucket's residents with one vectorized numpy pass and emits every
    pair whose estimated Jaccard clears the threshold;
  - hot buckets close at ``max_bucket`` DISTINCT-SIGNATURE residents
    (exact copies join their group without consuming a slot — the same
    rep-level accounting as the batch exact-dedup-first cap): new
    arrivals in a closed bucket are neither compared nor stored there —
    bounded state and bounded per-batch work per key, the only viable
    contract on an unbounded stream. Other bands still cover the
    document.

A pair discovered in several bands is emitted once PER DISCOVERING
BUCKET (at-least-once, always with the same est_jaccard since the
estimate depends only on the two signatures); sinks that need
exactly-once pairs dedupe on (doc_a, doc_b) downstream. For unbounded
retention use GroupStateTimeout event-time timeouts with a watermark
to age buckets out; the default keeps buckets forever (the
replay-a-corpus case).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from metevents_spark.functions.sketches import h60
from metevents_spark.operators.grouped import columns_frame
from metevents_spark.similarity.knn import cosine_pairs
from metevents_spark.text.dedup import SIG_EMPTY, band_buckets
from metevents_spark.text.stats import token_ngrams

PAIR_OUTPUT_SCHEMA = "doc_a long, doc_b long, est_jaccard double"
# SHARDED state: the state key is hash(band, bucket) % n_shards,
# not (band, bucket) itself — see stream_minhash_dedup's docstring.
# Parallel arrays as PACKED BINARY numpy buffers (int64/int32
# little-endian): per accepted doc (doc_ids/doc_grp), per
# distinct-signature group row (grp_band/grp_bucket + the flattened
# G x H sigs), per closed bucket (closed_band/closed_bucket). Binary
# because a shard's state is the sum of its buckets' sketch mass and
# round-trips through the state serializer on EVERY trigger that
# touches the shard — as array<long> that's a Python-list conversion
# of ~1e5 elements per call (measured ~2x the whole kernel's wall
# time at sf0.1); as binary it's one buffer memcpy each way.
SHARD_STATE_SCHEMA = StructType(
    [
        StructField("doc_ids", BinaryType()),  # int64[n_docs]
        StructField("doc_grp", BinaryType()),  # int32[n_docs]
        StructField("grp_band", BinaryType()),  # int32[G]
        StructField("grp_bucket", BinaryType()),  # int64[G]
        StructField("sigs", BinaryType()),  # int64[G x H]
        StructField("closed_band", BinaryType()),  # int32
        StructField("closed_bucket", BinaryType()),  # int64
    ]
)


def minhash_sig_col(text_col, k: int = 3, num_hashes: int = 32):
    """Per-row MinHash signature as ONE map-side column expression —
    the streaming-safe formulation of text/dedup.py's
    minhash_signatures (same shingles, same md5-derived K-M family
    g_i = h1 + i*h2, identical values), trading the batch explode +
    groupBy-min for a single higher-order fold that needs no
    aggregation.

    Shape matters here (a stream-bench finding): the obvious
    formulation — ``num_hashes`` separate ``array_min(zip_with(h1s,
    h2s, ...))`` columns — re-inlines the whole md5/conv expression
    tree into every one of the 32 mins, and Catalyst performs NO
    common-subexpression elimination across higher-order-function
    boundaries, so each shingle was md5-hashed 32x (measured 93 s /
    5000 sf0.1 docs for the signature projection alone). This
    ``aggregate`` fold evaluates the (h1, h2) pair array ONCE — HOF
    *arguments* are ordinary expressions, only lambda bodies run per
    element — and updates all 32 running minima per shingle with
    cheap long multiply/add/least ops: same values, one md5 per
    shingle (~30x faster map side).
    """
    def _sig(toks):
        shingles = token_ngrams(toks, F.least(F.lit(k), F.size(toks)))
        # md5-derived K-M base hashes, IDENTICAL to the batch path
        # (text/dedup.py minhash_signatures): h1 = 60-bit / h2 = 32-bit
        # hex slices of one md5 per shingle — engine-portable, so
        # batch, stream and the DuckDB oracle all compute the same
        # signatures
        pairs = F.transform(
            # nested transform so each shingle is md5-hashed exactly
            # once (the struct lambda would otherwise evaluate md5(s)
            # per slice)
            F.transform(shingles, lambda s: F.md5(s)),
            lambda h: F.struct(
                h60(h).alias("h1"),
                F.conv(F.substring(h, 17, 8), 16, 10)
                .cast("long")
                .alias("h2"),
            ),
        )
        # h1 < 2^60, h2 < 2^32, i < num_hashes: h1 + i*h2 stays far
        # from the long boundary, and the identity SIG_EMPTY is above
        # any real g_i value (a NULL text, with no shingle, keeps it)
        return F.aggregate(
            pairs,
            F.array_repeat(F.lit(SIG_EMPTY), num_hashes),
            lambda acc, x: F.transform(
                acc,
                lambda m, i: F.least(
                    m, x["h1"] + i.cast("long") * x["h2"]
                ),
            ),
        )

    # transform-over-singleton-array binds the token array once per
    # row as a lambda variable, keeping the whole signature a single
    # map-side column expression
    return F.transform(F.array(F.split(text_col, " ")), _sig)[0]


def stream_minhash_dedup(
    stream_df: DataFrame,
    k: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    max_bucket: int = 1000,
    n_shards: int = 64,
) -> DataFrame:
    """Near-dup pair stream over a document stream (doc_id, text).

    Emits (doc_a, doc_b, est_jaccard) with doc_a < doc_b as soon as
    the second member of a pair arrives; replaying a static corpus
    yields exactly the batch minhash_near_dup pair set (same sketch,
    same buckets, same estimate — pytest-pinned).

    SHARDED STATE (a stream-bench finding): the state key is
    ``hash(band, bucket) % n_shards``, not (band, bucket). With
    per-bucket keys, every trigger paid the applyInPandasWithState
    per-group floor (~0.8 ms: one Arrow round trip + state
    deserialize/serialize per group) once per DISTINCT BUCKET in the
    batch — docs x bands calls, which capped ingest at ~150 docs/s
    regardless of how cheap the per-doc math was. Sharding coalesces
    that to <= n_shards calls per trigger while each call handles its
    buckets in one vectorized pass; the per-BUCKET logic (cap,
    close-at-cap, pair emission, doc_id processing order) is
    byte-identical, buckets are independent, and the shard assignment
    is deterministic, so the emitted pair set is exactly the
    per-bucket kernel's (pytest-pinned vs the batch path). Measured
    ~9x docs/s at sf0.1 (STREAM_BENCH.json). State per shard is the
    sum of its buckets' bounded states (~|buckets|/n_shards of the
    corpus sketch mass): n_shards is the parallelism knob — raise it
    on a cluster until shards ~ 2-4x cores.

    Cap accounting mirrors the batch path's exact-dedup-first design:
    bucket residency is counted per DISTINCT SIGNATURE (one stored
    signature row per exact-duplicate group; arriving exact copies
    join their group without consuming a resident slot), so a
    duplicate-heavy corpus cannot close a bucket the batch rep-level
    cap would keep open. Replay equality therefore holds whenever
    every bucket's REPRESENTATIVE count is <= ``max_bucket`` — the
    same condition under which the batch guard leaves the bucket
    untouched. Above the cap the two still diverge by design: batch
    drops the whole over-cap bucket retroactively, while a stream
    cannot un-emit — it keeps the first ``max_bucket`` groups and
    closes (other bands still cover the documents).
    """
    H = num_hashes
    fields = StructType.fromDDL(PAIR_OUTPUT_SCHEMA).fields

    def fn(key, pdf_iter, state: GroupState):
        if state.exists:
            (b_doc_ids, b_doc_grp, b_grp_band, b_grp_bucket, b_sigs,
             b_closed_band, b_closed_bucket) = state.get
            doc_ids = np.frombuffer(b_doc_ids, dtype="<i8").tolist()
            doc_grp = np.frombuffer(b_doc_grp, dtype="<i4").tolist()
            grp_band = np.frombuffer(b_grp_band, dtype="<i4").tolist()
            grp_bucket = np.frombuffer(
                b_grp_bucket, dtype="<i8"
            ).tolist()
            closed_band = np.frombuffer(b_closed_band, dtype="<i4")
            closed_bucket = np.frombuffer(b_closed_bucket, dtype="<i8")
            stored = np.frombuffer(b_sigs, dtype="<i8").reshape(-1, H)
        else:
            doc_ids, doc_grp, grp_band, grp_bucket = [], [], [], []
            closed_band, closed_bucket = [], []
            stored = np.empty((0, H), dtype=np.int64)
        sig_rows = [stored[i] for i in range(stored.shape[0])]
        # members[g] = doc_ids of exact-duplicate group g (same sig)
        members: list[list[int]] = [[] for _ in range(len(sig_rows))]
        for d, g in zip(doc_ids, doc_grp):
            members[g].append(int(d))
        # per-bucket group-row index + closed set
        by_bucket: dict[tuple[int, int], list[int]] = {}
        for gi, (b, bk) in enumerate(zip(grp_band, grp_bucket)):
            by_bucket.setdefault((int(b), int(bk)), []).append(gi)
        closed = {
            (int(b), int(bk))
            for b, bk in zip(closed_band, closed_bucket)
        }
        out_a: list[int] = []
        out_b: list[int] = []
        out_e: list[float] = []
        batch = pd.concat(list(pdf_iter), ignore_index=True)
        # deterministic intra-BUCKET order (doc_id): pair SETS are
        # order independent below the cap; this fixes WHICH docs a
        # closing bucket stores. Bucket visit order is irrelevant —
        # buckets share no state.
        batch = batch.sort_values(
            ["band", "bucket", "doc_id"], kind="stable"
        )
        def visit_doc(bkey, rows, doc_id, sig_arr):
            """One arriving doc against its bucket's residents —
            byte-identical to the per-bucket kernel's inner loop."""
            own_group = -1
            if rows:
                res = np.asarray([sig_rows[i] for i in rows])
                est = (res == sig_arr).mean(axis=1)
                for j in np.flatnonzero(est >= threshold):
                    ej = float(est[j])
                    for other in members[rows[j]]:
                        if other == doc_id:
                            continue
                        out_a.append(min(other, doc_id))
                        out_b.append(max(other, doc_id))
                        out_e.append(ej)
                exact = np.flatnonzero(est == 1.0)
                if exact.size:
                    own_group = rows[int(exact[0])]
            if own_group >= 0:
                # exact copy: joins its group, no resident slot
                members[own_group].append(doc_id)
                doc_ids.append(doc_id)
                doc_grp.append(own_group)
            elif len(rows) < max_bucket:
                gi = len(sig_rows)
                sig_rows.append(sig_arr)
                members.append([doc_id])
                grp_band.append(bkey[0])
                grp_bucket.append(bkey[1])
                rows.append(gi)
                doc_ids.append(doc_id)
                doc_grp.append(gi)
            else:
                closed.add(bkey)

        for (band, bucket), sub in batch.groupby(
            ["band", "bucket"], sort=False
        ):
            bkey = (int(band), int(bucket))
            rows = by_bucket.setdefault(bkey, [])
            for doc_id, sig in zip(
                sub["doc_id"].astype("int64"), sub["sig"]
            ):
                if bkey in closed:
                    break
                visit_doc(
                    bkey, rows, int(doc_id),
                    np.asarray(sig, dtype=np.int64),
                )
        cb = sorted(closed)
        state.update(
            (
                np.asarray(doc_ids, dtype="<i8").tobytes(),
                np.asarray(doc_grp, dtype="<i4").tobytes(),
                np.asarray(grp_band, dtype="<i4").tobytes(),
                np.asarray(grp_bucket, dtype="<i8").tobytes(),
                (
                    np.concatenate(sig_rows).astype("<i8").tobytes()
                    if sig_rows
                    else b""
                ),
                np.asarray([b for b, _ in cb], dtype="<i4").tobytes(),
                np.asarray([bk for _, bk in cb], dtype="<i8").tobytes(),
            )
        )
        if out_a:
            yield columns_frame(fields, [(out_a, out_b, out_e)])

    sig = minhash_sig_col(F.col("text"), k=k, num_hashes=num_hashes)
    banded = stream_df.select(
        F.col("doc_id").cast("long").alias("doc_id"), sig.alias("sig")
    ).select(
        "doc_id", "sig", band_buckets("sig", num_hashes, bands).alias("bb")
    ).select(
        "doc_id",
        "sig",
        F.col("bb.band").alias("band"),
        F.col("bb.bucket").alias("bucket"),
        F.pmod(F.xxhash64("bb.band", "bb.bucket"), F.lit(n_shards))
        .cast("int")
        .alias("shard"),
    )
    return banded.groupBy("shard").applyInPandasWithState(
        fn,
        PAIR_OUTPUT_SCHEMA,
        SHARD_STATE_SCHEMA,
        "append",
        GroupStateTimeout.NoTimeout,
    )


EMB_PAIR_OUTPUT_SCHEMA = "vec_a long, vec_b long, label int, cosine double"
EMB_BLOCK_STATE_SCHEMA = StructType(
    [
        StructField("vec_ids", ArrayType(LongType())),
        # n x dim float64 residents, row-major (``ndarray.tobytes``)
        StructField("flat", BinaryType()),
        StructField("closed", IntegerType()),
    ]
)


def stream_embedding_near_dup(
    stream_df: DataFrame,
    threshold: float = 0.35,
    max_block: int = 10000,
) -> DataFrame:
    """Embedding-cosine near-dup pair stream — the similarity-tier
    ingest twin of :func:`stream_minhash_dedup`, mirroring the batch
    ``similarity.knn.embedding_near_dup`` contract: replaying a static
    corpus yields exactly the batch pair set (same blocking key, same
    float64 cosine math, same round-to-6 threshold cut — pytest-pinned,
    chunking-invariant).

    Input stream: (vec_id long, label int, embedding array<float>).
    The blocking key (``label``; in production a coarse cluster id or
    LSH bucket) is the state key, so pairwise work stays within-block
    exactly as in batch. Per micro-batch the new vectors join the
    block's residents and ``similarity.knn.cosine_pairs`` scores only
    the (resident, new) and (new, new) pairs, so a trigger's pair work
    is residents × new, not residents². A pair is emitted by whichever
    member arrives later, so the replayed union over micro-batches is
    the full within-block pair set.

    Bounded state: blocks close at ``max_block`` residents (batch has
    no cap because a batch block is bounded by construction; an
    unbounded stream needs one). Replay equality holds whenever every
    block stays under the cap.
    """
    fields = StructType.fromDDL(EMB_PAIR_OUTPUT_SCHEMA).fields

    def fn(key, pdf_iter, state: GroupState):
        label = int(key[0])
        vec_ids, flat, closed = state.get if state.exists else ([], b"", 0)
        # an empty iterator is impossible under NoTimeout but becomes
        # reachable the moment a state timeout is added — guard it
        # instead of letting pd.concat raise "No objects to concatenate"
        pdfs = list(pdf_iter)
        if not pdfs:
            state.update((vec_ids, flat, int(closed)))
            return
        batch = pd.concat(pdfs, ignore_index=True)
        if not len(batch) or closed:
            state.update((vec_ids, flat, int(closed)))
            return
        # deterministic intra-batch order; pair SETS are order
        # independent below the cap, this fixes WHICH vectors a
        # closing block stores
        batch = batch.sort_values("vec_id", kind="stable")
        new_ids = batch["vec_id"].astype("int64").to_numpy()
        new_m = np.stack(batch["embedding"].to_numpy()).astype(np.float64)
        admit = min(len(new_ids), max_block - len(vec_ids))
        closed = int(admit < len(new_ids))
        # even when the block just closed, the admitted prefix still
        # compares + stores; the rejected tail is neither compared nor
        # stored (same contract as the MinHash bucket close)
        new_ids, new_m = new_ids[:admit], new_m[:admit]
        if not len(new_ids):
            state.update((vec_ids, flat, closed))
            return
        stored = np.frombuffer(flat, dtype="<f8").reshape(-1, new_m.shape[1])
        allm = np.vstack([stored, new_m])
        norms = np.sqrt((allm * allm).sum(axis=1))
        # only pairs touching a NEW vector; resident-resident pairs
        # were emitted when their later member arrived
        i, j, cos = cosine_pairs(allm, norms, threshold, start=len(vec_ids))
        ids = np.concatenate([np.asarray(vec_ids, dtype=np.int64), new_ids])
        ia, ib = ids[i], ids[j]
        out = (np.minimum(ia, ib), np.maximum(ia, ib), np.full(len(ia), label), cos)
        state.update((ids.tolist(), np.asarray(allm, dtype="<f8").tobytes(), closed))
        if len(ia):
            yield columns_frame(fields, [out])

    return (
        stream_df.select(
            F.col("vec_id").cast("long").alias("vec_id"),
            F.col("label").cast("int").alias("label"),
            "embedding",
        )
        .groupBy("label")
        .applyInPandasWithState(
            fn,
            EMB_PAIR_OUTPUT_SCHEMA,
            EMB_BLOCK_STATE_SCHEMA,
            "append",
            GroupStateTimeout.NoTimeout,
        )
    )
