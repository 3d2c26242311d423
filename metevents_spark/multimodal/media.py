"""Multimodal columns: opaque binary payloads + typed metadata.

Images/audio/video are carried as ``binary`` columns with structured
metadata, processed by Arrow-batched ``grouped.map_batches`` kernels —
the Spark-side plumbing (schema, partitioning, batch shape) is real and
tested; the actual codec step is import-gated (PIL/av are not in this
container) and falls back to a deterministic fake decoder so pipelines
are exercisable end-to-end.

Scale notes: binary payloads never shuffle here — features extract
map-side in one pass; only the (small) feature rows move. For real
media at 100 TB, payloads would live in parquet binary columns or
object-store references; either way the kernel signature is unchanged.
"""

from __future__ import annotations

import hashlib

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from metevents_spark.operators.grouped import columns_frame, map_batches


def attach_fake_media(docs: DataFrame) -> DataFrame:
    """Synthesize a deterministic binary payload per document (stands in
    for a stored image/audio blob; real data arrives as parquet binary).
    JVM-side: encode(text) — no Python."""
    return docs.select(
        "doc_id",
        F.encode(F.col("text"), "UTF-8").alias("media"),
        F.lit("image/fake").alias("media_type"),
    )


def _decode_real(payload: bytes) -> tuple[int, int]:
    """Real decode path: PIL when installed, else the vendored PPM/BMP
    decoders (metevents_spark.multimodal.codecs) — so the real-codec
    branch is executable (and pytest-proven) even in codec-less
    environments, on the two containers the vendored decoders cover.
    Raises NotImplementedError only for containers nothing can open."""
    try:
        from PIL import Image  # type: ignore
        import io

        with Image.open(io.BytesIO(payload)) as im:
            return im.width, im.height
    except ImportError:
        pass
    try:
        from metevents_spark.multimodal.codecs import decode_image

        arr = decode_image(payload)
        return arr.shape[1], arr.shape[0]
    except ValueError as exc:
        raise NotImplementedError(
            f"no available codec can open this payload: {exc}"
        ) from exc


def _decode_fake(payload: bytes) -> tuple[int, int]:
    """Deterministic stand-in decode: pseudo width/height derived from
    payload length (stable across engines/runs, SQL-mirrorable)."""
    width = 64 + len(payload) % 192
    height = 64 + (len(payload) * 7) % 192
    return width, height


def media_features(media_df: DataFrame, use_real_codecs: bool = False) -> DataFrame:
    """Per-payload features via a batch kernel: byte length, sha256, and
    decoded dimensions (fake decoder unless real codecs requested)."""

    def extract(pdf: pd.DataFrame):
        decode = _decode_real if use_real_codecs else _decode_fake
        payloads = pdf["media"].tolist()
        dims = [decode(p) for p in payloads]
        return (
            pdf["doc_id"],
            [len(p) for p in payloads],
            [hashlib.sha256(p).hexdigest() for p in payloads],
            [d[0] for d in dims],
            [d[1] for d in dims],
        )

    return map_batches(
        media_df,
        extract,
        "doc_id long, n_bytes long, sha256 string, width long, height long",
    ).orderBy("doc_id")


def frame_sample(
    media_df: DataFrame, n_frames: int = 4, frame_bytes: int = 16
) -> DataFrame:
    """Frame-sampling shape for video-like payloads: each payload
    explodes into ``n_frames`` evenly spaced byte windows (the real
    sampler would seek keyframes; the batch/explode plumbing is what
    scales)."""

    def sample(pdf: pd.DataFrame):
        doc_ids: list[int] = []
        idxs: list[int] = []
        frames: list[bytes] = []
        for doc_id, payload in zip(pdf["doc_id"], pdf["media"]):
            n = len(payload)
            if n == 0:
                continue
            step = max(n // n_frames, 1)
            for k in range(min(n_frames, n)):
                off = k * step
                doc_ids.append(int(doc_id))
                idxs.append(k)
                frames.append(bytes(payload[off : off + frame_bytes]))
        return doc_ids, idxs, frames

    return map_batches(
        media_df, sample, "doc_id long, frame_idx long, frame binary"
    )


def media_resize(
    media_df: DataFrame,
    target_w: int = 32,
    target_h: int = 32,
    use_real_codecs: bool = False,
) -> DataFrame:
    """Resize shape: payload -> fixed-size thumbnail payload. The real
    path decodes (PIL or the vendored PPM/BMP codecs), nearest-neighbor
    resamples to ``target_w x target_h``, and re-encodes as binary PPM;
    the fake path deterministically resamples the raw bytes to
    ``target_w*target_h`` via evenly spaced strides — same schema,
    batch flow, and bounded output sizing either way, so the pipeline
    swaps to real codecs without a plan change."""

    def resize(pdf: pd.DataFrame):
        n_out = target_w * target_h
        out: list[bytes] = []
        for payload in pdf["media"]:
            if use_real_codecs:
                from metevents_spark.multimodal.codecs import (
                    decode_image,
                    encode_ppm,
                    resize_nearest,
                )

                arr = decode_image(bytes(payload))
                out.append(encode_ppm(resize_nearest(arr, target_w, target_h)))
                continue
            n = len(payload)
            if n == 0:
                out.append(b"\x00" * n_out)
                continue
            idx = [(k * n) // n_out for k in range(n_out)]
            out.append(bytes(payload[i] for i in idx))
        return pdf["doc_id"], [target_w] * len(out), [target_h] * len(out), out

    return map_batches(
        media_df, resize, "doc_id long, width long, height long, thumb binary"
    )


def media_pipeline(spark, sf_dir: str) -> DataFrame:
    """documents -> fake media -> features (the end-to-end multimodal
    query registered with the driver)."""
    from metevents_spark.io import load_table

    docs = load_table(spark, sf_dir, "documents")
    return media_features(attach_fake_media(docs))


def media_dedup(media_df: DataFrame) -> DataFrame:
    """Exact content-hash dedup over binary payloads — the first stage
    of any multimodal ingest (identical images/audio recur massively in
    web crawls). Only 64-char digests shuffle; payloads never leave the
    scan. Output maps every document to its canonical representative
    (min doc_id per digest) with the copy count.
    """
    from pyspark.sql import Window

    digests = media_df.select(
        "doc_id", F.sha2(F.col("media"), 256).alias("digest")
    )
    w = Window.partitionBy("digest")
    return digests.select(
        "doc_id",
        F.min("doc_id").over(w).alias("rep_id"),
        F.count(F.lit(1)).over(w).cast("long").alias("n_copies"),
    ).orderBy("doc_id")


def media_embed(media_df: DataFrame, dim: int = 64) -> DataFrame:
    """Content embedding for binary payloads: the L2-normalized
    histogram of byte BIGRAMS hashed into ``dim`` bins — a crude but
    REAL content feature (identical payloads embed identically;
    near-identical payloads embed nearby), and the swap point for a
    learned encoder: replace the histogram line with a CLIP/wav2vec
    forward pass and the surrounding plumbing (Arrow batches in,
    fixed-width vector column out, payloads never shuffle) is exactly
    what a production encoder needs.

    Bigrams, not single bytes: unigram byte histograms of same-language
    text are all nearly parallel (measured median pairwise cosine 0.994
    on the documents corpus — 8% of ALL pairs cleared a 0.999 near-dup
    threshold, making any downstream pairwise op inherently quadratic).
    Hashed bigrams drop the median to 0.88 with ~1e-5 of pairs ≥ 0.999,
    so "near-dup" again means near-duplicate."""
    import numpy as np

    def embed(pdf: pd.DataFrame):
        vecs = []
        for payload in pdf["media"]:
            h = _bigram_hist(bytes(payload), dim).astype(np.float64)
            n = np.linalg.norm(h)
            vecs.append(h / n if n else h)
        return pdf["doc_id"], vecs

    return map_batches(media_df, embed, "doc_id long, vec array<double>")


def _bigram_hist(payload: bytes, dim: int):
    """Integer bigram histogram of one payload — the shared kernel of
    :func:`media_embed` and the near-dup cell pipeline (int64 counts;
    callers normalize). Kept as a per-payload numpy pass: an
    attempt to vectorize it across the batch (one concatenated buffer
    + a single (row*dim + bin) bincount) was bit-identical but
    measured SLOWER in steady state (0.07-0.17 s vs 0.04-0.06 s per
    2k-payload batch) plus a ~2 s first-call page-fault penalty per
    worker — the per-payload form already amortizes numpy just fine
    at these payload sizes."""
    import numpy as np

    b = np.frombuffer(payload, dtype=np.uint8).astype(np.int64)
    if len(b) < 2:
        b = np.pad(b, (0, 2 - len(b)))
    idx = (b[:-1] * 31 + b[1:]) % dim
    return np.bincount(idx, minlength=dim)[:dim]


def _embed_hist_cells(
    media_df: DataFrame, dim: int, axes: list[list[float]], w: float
) -> DataFrame:
    """(doc_id, h, c1..cp): per-payload integer bigram histogram as a
    PACKED int32 binary plus the grid-LSH cell coordinate per axis —
    the near-dup pipeline's shuffle-lean embedding stage.

    Why this exists (guide §2.3 / §8 "shuffle a proxy, not the
    payload"): the pair stage groups 2^p emitted copies of every
    representative by cell, so each byte of the per-doc row crosses
    the exchange (and the pre-kernel sort, and the Arrow boundary)
    2^p times. The L2-normalized float64 vector is 64 x 8 B + list
    overhead ≈ 525 B/row; the histogram it derives from is 64 exact
    small ints = 256 B packed. Shipping ``h`` and re-normalizing
    inside the pair kernel halves the shuffled bytes and replaces
    8M-row list-of-float64 pandas materialization with one
    frombuffer per cell.

    BIT-EXACT equivalence with the media_embed + JVM-fold path, piece
    by piece (pinned by tests/test_media_embed.py):
    - vec reconstruction: h's squares and their sums are integers
      < 2^53, so sum-of-squares is EXACT in any summation order;
      np.linalg.norm(h) (BLAS ddot + sqrt) therefore equals
      sqrt((h*h).sum()) bit-for-bit, and h/norm is the same scalar
      division both places.
    - cell coordinates: the JVM fold
      aggregate(zip_with(vec, axis, a*b), 0.0, acc+x) is the strictly
      sequential left sum of the elementwise products;
      np.cumsum(vec*axis)[..., -1] accumulates in the identical
      order (ufunc accumulate is sequential), 0.0 + x0 == x0, so
      every partial — and floor(proj/w) — matches to the bit.
    """
    import numpy as np

    p = len(axes)
    amat = np.asarray(axes, dtype=np.float64)  # (p, dim)
    ccols = [f"c{i + 1}" for i in range(p)]
    schema = "doc_id long, h binary, " + ", ".join(
        f"{c} int" for c in ccols
    )

    def kernel(pdf: pd.DataFrame):
        n = len(pdf)
        hists = np.empty((n, dim), dtype=np.int64)
        for i, payload in enumerate(pdf["media"]):
            hists[i] = _bigram_hist(bytes(payload), dim)
        hf = hists.astype(np.float64)
        norms = np.sqrt((hf * hf).sum(axis=1))  # exact ints < 2^53
        np.divide(hf, norms[:, None], out=hf, where=norms[:, None] > 0)
        # sequential-order projections: cumsum == the JVM fold
        cells = np.empty((p, n), dtype=np.int32)
        for k in range(p):
            proj = np.cumsum(hf * amat[k], axis=1)[:, -1]
            cells[k] = np.floor(proj / w).astype(np.int32)
        h32 = hists.astype("<i4")
        return (pdf["doc_id"], [row.tobytes() for row in h32], *cells)

    return map_batches(media_df, kernel, schema)


def _lcg_unit(seed: int, n: int) -> list[float]:
    """Deterministic pseudo-random unit vector (fixed LCG, no RNG
    state) — engine- and run-stable, safe for plan-build time."""
    import math

    s, out = seed, []
    for _ in range(n):
        s = (s * 6364136223846793005 + 1442695040888963407) % (1 << 64)
        out.append((s >> 11) / float(1 << 53) - 0.5)
    nrm = math.sqrt(sum(x * x for x in out))
    return [x / nrm for x in out]


def _auto_projections(n_reps: int, base_density: int = 10_000) -> int:
    """Density-adaptive grid-LSH axis count: 2 axes up to
    ``base_density`` distinct payloads, then +1 per decade of corpus
    growth — the same corpus-keyed scaling contract as knn_ivf_pq's
    ``n_cells="auto"`` (similarity/knn.py). The pair SET is invariant
    to p (recall is guaranteed by the cell width, not the axis count
    — pytest-pinned), so auto only shapes candidate work.

    Measured honestly (x10 replica): because the bigram
    embeddings are CONCENTRATED, one extra axis divides hot-cell
    populations by only ~1/0.53 ≈ 1.9x (the dual-emission central
    band share — NOT the uniform-spread 1/w ≈ 3.3x an earlier
    version of this docstring assumed), so +1 axis/decade leaves
    hot-cell gram work mildly superlinear (top cell ~7.5k reps of
    50k at p=3). Each cell's pairs come from
    ``similarity.knn.cosine_pairs``, whose chunked sweep keeps a hot
    cell's memory at chunk × n. Raising p further trades 2x emission
    per axis against ~1.9x division — a wash at these densities, so
    the knob stays at +1/decade for candidate-volume control."""
    import math

    if n_reps <= base_density:
        return 2
    return 2 + math.ceil(math.log10(n_reps / base_density))


def media_embedding_near_dup(
    spark,
    sf_dir: str,
    threshold: float = 0.999,
    dim: int = 64,
    max_block: int = 8192,
    n_projections: int | str = "auto",
) -> DataFrame:
    """End-to-end multimodal near-dup: payload -> content embedding ->
    blocked cosine pairs — the decode→embed→ANN composition a
    multimodal ingest runs to catch re-encoded copies that the exact
    content hash (media_dedup) misses.

    Blocking = GRID LSH with a recall guarantee: project each unit
    vector onto ``n_projections`` fixed pseudo-random directions,
    quantize each projection into cells of width
    w = sqrt(2*(1-threshold)), and emit the vector into the 2^p cells
    {c_i, c_i+1} per axis. Any pair with cosine >= threshold has L2
    distance <= w, so its per-axis cells differ by at most 1 and the
    pair is GUARANTEED to share at least one emitted cell — unlike the
    previous dominant-bin blocking, where a near-tied argmax could
    separate a true near-dup pair, and where same-language corpora
    concentrated 60% of documents into one block (a single quadratic
    task: the hot-bucket failure mode at scale). Duplicate discoveries
    across shared cells collapse via a (doc_a, doc_b) groupBy; the 2^p
    emission factor buys provable recall and exponentially-smaller
    quadratic blocks.

    DENSITY KNOB (``"auto"`` by default): the cell width is PINNED by
    the recall guarantee (w must cover the threshold's L2 ball), so a
    denser corpus cannot shrink cells — it raises ``n_projections``
    instead: per-cell population
    scales ~ density^(1) · w^p, so each extra axis divides expected
    block sizes by ~1/w (>3x at threshold 0.999) for a 2x emission
    cost. The 10x corpus sweep measured in-cell gram work creeping
    superlinear at p=2 (BENCH_sf1: 17.5x at 10x data); p=3 at that
    density restores the linear regime. The default is therefore
    ``"auto"``: p keyed on the DISTINCT-payload count, +1 axis per
    ~10x density (see :func:`_auto_projections`) — a 100x corpus no
    longer goes quadratic in the cells at a fixed p. Blocks larger
    than ``max_block`` are still
    truncated to their ``max_block`` smallest doc_ids inside the
    kernel (deterministic, bounded cost) — the same guard discipline
    as the LSH text families.

    Exact-dedup-first, like every pairwise text family here:
    byte-identical payloads collapse to one representative per content
    hash BEFORE embedding, the LSH + gram work runs over distinct
    payloads only, and pairs expand back to member documents at output
    time (intra-group pairs are cosine 1.0 by construction).
    A duplicate-heavy corpus — the norm for scraped media — therefore
    costs LSH work proportional to DISTINCT payloads, not total.

    Oracle-green: dropping the p-dependent block label
    makes the output exactly the recall-guaranteed pair set, which a
    DuckDB replay reaches by blocking at p=1 over the SAME bigram
    embedding (queries.ORACLE_SQL["media_embedding_near_dup"] —
    byte bigrams via hex(encode(text)), exact integer histogram
    norms, the identical sequential projection fold). Tests also
    plant byte-identical and one-byte-flip payload pairs and assert
    both surface.
    """
    import math

    from pyspark.sql import Window
    from pyspark.sql.types import StructType
    from pyspark.storagelevel import StorageLevel

    from metevents_spark.cache import track
    from metevents_spark.io import load_table
    from metevents_spark.similarity.knn import cosine_pairs
    from metevents_spark.text.dedup import _expand_pairs

    docs = load_table(spark, sf_dir, "documents")
    media = attach_fake_media(docs)
    member_rep = track(
        media.select("doc_id", F.md5(F.col("media")).alias("gid"))
        .select(
            "doc_id",
            F.min("doc_id").over(Window.partitionBy("gid")).alias("rep_id"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # materialize NOW: six downstream consumers (rep fetch, pair
    # expansion sides, intra pairs) would otherwise race to fill the
    # cache inside one job, each re-running the payload-hash pass
    member_rep.count()
    reps = member_rep.filter(F.col("doc_id") == F.col("rep_id")).select(
        "doc_id"
    ).join(media, "doc_id")
    w = math.sqrt(2.0 * max(1.0 - threshold, 1e-12))
    if n_projections == "auto":
        # one cheap count over the cached rep map — the blocking
        # density must be chosen from the DISTINCT-payload corpus
        # size, not a fixed default (the sf1 watch item: a fixed
        # p goes quadratic in the cells as the corpus grows)
        n_reps = member_rep.filter(
            F.col("doc_id") == F.col("rep_id")
        ).count()
        p = _auto_projections(n_reps)
    else:
        p = int(n_projections)
    if p < 1:
        raise ValueError(f"n_projections must be >= 1, got {p}")
    axes = [_lcg_unit(i + 1, dim) for i in range(p)]
    bcols = [f"b{i + 1}" for i in range(p)]

    # (§2.3/§8) the embedding stage ships the packed INTEGER
    # histogram plus the cell coordinates — not the float64 vector —
    # through the 2^p-amplified cell shuffle; the pair kernel
    # re-normalizes bit-identically (see _embed_hist_cells). The JVM
    # projection folds this replaces were re-derived per axis from the
    # same vec; the kernel computes them once in the same float64
    # sequential order.
    blocked = _embed_hist_cells(reps, dim, axes, w)
    import itertools

    cells = blocked.select(
        "doc_id",
        "h",
        F.explode(
            F.array(
                *[
                    F.struct(
                        *[
                            (F.col(f"c{i + 1}") + F.lit(off[i])).alias(
                                bcols[i]
                            )
                            for i in range(p)
                        ]
                    )
                    for off in itertools.product((0, 1), repeat=p)
                ]
            )
        ).alias("cell"),
    ).select("doc_id", "h", *[f"cell.{b}" for b in bcols])

    out_schema = "doc_a long, doc_b long, cosine double"
    fields = StructType.fromDDL(out_schema).fields

    def block_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        pdf = pdf.sort_values("doc_id").iloc[:max_block]
        # one frombuffer for the whole cell, then the bit-exact
        # re-normalization (integer sums < 2^53: see _embed_hist_cells)
        m = (
            np.frombuffer(b"".join(pdf["h"]), dtype="<i4")
            .reshape(len(pdf), -1)
            .astype(np.float64)
        )
        norms = np.sqrt((m * m).sum(axis=1))
        np.divide(m, norms[:, None], out=m, where=norms[:, None] > 0)
        # unit rows against unit norms: dividing by 1.0 is exact, so the
        # cosine is the dot of the unit vectors, as the oracle computes it
        i, j, cos = cosine_pairs(m, np.ones(len(m)), threshold)
        ids = pdf["doc_id"].to_numpy(dtype=np.int64)
        return columns_frame(fields, [(ids[i], ids[j], cos)])

    # the which-cell-found-it `block` label is not in the output. It
    # was the one p-DEPENDENT column (the auto density default picks p
    # from corpus size, so labels would churn with scale), its fold
    # aliased coordinates >= 100000, and a normalization change had
    # already silently relabeled historical output. Without it the result is exactly the
    # recall-guaranteed pair set, invariant to p, which is what lets
    # this query carry a full DuckDB oracle (the replay blocks at p=1
    # and arrives at the same set).
    rep_pairs = (
        cells.groupBy(*bcols)
        .applyInPandas(block_pairs, out_schema)
        # a pair found in several shared cells reports once; cosine is
        # identical everywhere
        .groupBy("doc_a", "doc_b")
        .agg(F.max("cosine").alias("cosine"))
    )
    # expand representative pairs to member documents; intra-group
    # pairs are exact byte copies, cosine 1.0
    return _expand_pairs(rep_pairs, member_rep, "cosine", F.lit(1.0)).orderBy(
        "doc_a", "doc_b"
    )
