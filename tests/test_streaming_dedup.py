"""Streaming MinHash dedup must agree with the batch path exactly:
same per-document signatures (map-side HOF formulation vs explode +
groupBy-min), and — replaying the corpus as a file stream — the same
near-dup pair set with the same estimates, independent of chunking.
"""

from __future__ import annotations

import shutil
from pathlib import Path

import pandas as pd
import pytest

from tests.conftest import SF_SMALL


@pytest.fixture()
def stream_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("sdedup")
    yield str(d)
    shutil.rmtree(d, ignore_errors=True)


def test_map_side_signature_matches_batch(spark):
    from pyspark.sql import functions as F

    from metevents_spark.io import load_table
    from metevents_spark.streaming.dedup import minhash_sig_col
    from metevents_spark.text.dedup import minhash_signatures

    docs = load_table(spark, SF_SMALL, "documents").select("doc_id", "text")
    batch = {
        r.doc_id: list(r.sig)
        for r in minhash_signatures(docs).collect()
    }
    mapside = {
        r.doc_id: list(r.sig)
        for r in docs.select(
            "doc_id", minhash_sig_col(F.col("text")).alias("sig")
        ).collect()
    }
    assert batch == mapside


def test_signatures_agree_on_short_and_null_texts(spark):
    """A text shorter than k tokens is one whole-document shingle and a
    NULL text has none: batch and stream give the same signature, and
    for NULL it is the MIN identity in every slot."""
    from pyspark.sql import functions as F

    from metevents_spark.streaming.dedup import minhash_sig_col
    from metevents_spark.text.dedup import SIG_EMPTY, minhash_signatures

    texts = ["", "a", "a b", "a b c", "x y z w", None]
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    batch = {r.doc_id: list(r.sig) for r in minhash_signatures(docs).collect()}
    mapside = {
        r.doc_id: list(r.sig)
        for r in docs.select(
            "doc_id", minhash_sig_col(F.col("text")).alias("sig")
        ).collect()
    }
    assert batch == mapside
    assert batch[5] == [SIG_EMPTY] * 32
    assert all(SIG_EMPTY not in sig for d, sig in batch.items() if d != 5)


def _run_stream(spark, stream_dir, n_chunks: int, name: str):
    from metevents_spark.streaming import stream_minhash_dedup

    docs = pd.read_parquet(f"{SF_SMALL}/documents.parquet")[
        ["doc_id", "text"]
    ].sort_values("doc_id")
    Path(stream_dir, f"in_{name}").mkdir()
    splits = [
        docs.iloc[i * len(docs) // n_chunks : (i + 1) * len(docs) // n_chunks]
        for i in range(n_chunks)
    ]
    for i, chunk in enumerate(splits):
        chunk.to_parquet(f"{stream_dir}/in_{name}/chunk{i}.parquet")

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{stream_dir}/in_{name}")
    )
    out = stream_minhash_dedup(stream, threshold=0.5)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName(f"neardup_{name}")
        .option("checkpointLocation", f"{stream_dir}/ckpt_{name}")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    rows = spark.sql(f"SELECT * FROM neardup_{name}").collect()
    # at-least-once across discovering buckets -> dedupe to the pair set
    return {(r.doc_a, r.doc_b): r.est_jaccard for r in rows}


def test_stream_pairs_equal_batch_and_chunk_invariant(spark, stream_dir):
    from metevents_spark.text.dedup import minhash_near_dup

    batch = {
        (r.doc_a, r.doc_b): r.est_jaccard
        for r in minhash_near_dup(
            spark, SF_SMALL, threshold=0.5, sort=False
        ).collect()
    }
    assert batch  # fixture sanity: the corpus contains near-dups

    # the 3-chunk replay pins BOTH claims at once: stream == batch, and
    # (since batch is chunking-independent by construction) any other
    # chunking that also equals batch is equal to this one — a separate
    # 1-chunk replay re-proved the same thing at +18s suite time
    three = _run_stream(spark, stream_dir, 3, "three")
    assert three == batch


def _run_emb_stream(spark, stream_dir, n_chunks: int, name: str):
    from metevents_spark.streaming import stream_embedding_near_dup

    emb = pd.read_parquet(f"{SF_SMALL}/embeddings.parquet")[
        ["vec_id", "label", "embedding"]
    ].sort_values("vec_id")
    Path(stream_dir, f"ein_{name}").mkdir()
    splits = [
        emb.iloc[i * len(emb) // n_chunks : (i + 1) * len(emb) // n_chunks]
        for i in range(n_chunks)
    ]
    for i, chunk in enumerate(splits):
        chunk.to_parquet(f"{stream_dir}/ein_{name}/chunk{i}.parquet")

    stream = (
        spark.readStream.schema("vec_id long, label int, embedding array<float>")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{stream_dir}/ein_{name}")
    )
    out = stream_embedding_near_dup(stream, threshold=0.35)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName(f"embdup_{name}")
        .option("checkpointLocation", f"{stream_dir}/eckpt_{name}")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    rows = spark.sql(f"SELECT * FROM embdup_{name}").collect()
    return {(r.vec_a, r.vec_b): (r.label, r.cosine) for r in rows}


def test_embedding_stream_pairs_equal_batch_and_chunk_invariant(
    spark, stream_dir
):
    """The similarity-tier ingest twin: replaying the embeddings corpus
    through stream_embedding_near_dup must reproduce the batch
    embedding_near_dup pair set exactly (same label blocking, float64
    cosine, round-6 threshold), independent of micro-batch chunking."""
    from metevents_spark.similarity.knn import embedding_near_dup

    batch = {
        (r.vec_a, r.vec_b): (r.label, r.cosine)
        for r in embedding_near_dup(spark, SF_SMALL, threshold=0.35).collect()
    }
    assert batch  # fixture sanity: the corpus contains near-dup pairs

    three = _run_emb_stream(spark, stream_dir, 3, "three")
    assert three == batch


def test_embedding_stream_block_cap_closes(spark, stream_dir):
    """Above max_block the block closes: the admitted prefix still
    pairs, the rejected tail is neither compared nor stored."""
    from metevents_spark.streaming import stream_embedding_near_dup

    emb = pd.read_parquet(f"{SF_SMALL}/embeddings.parquet")[
        ["vec_id", "label", "embedding"]
    ].sort_values("vec_id")
    one_label = emb[emb.label == emb.label.iloc[0]]
    assert len(one_label) > 3
    Path(stream_dir, "cap_in").mkdir()
    one_label.to_parquet(f"{stream_dir}/cap_in/chunk0.parquet")
    stream = (
        spark.readStream.schema("vec_id long, label int, embedding array<float>")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{stream_dir}/cap_in")
    )
    out = stream_embedding_near_dup(stream, threshold=-1.0, max_block=3)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("embdup_cap")
        .option("checkpointLocation", f"{stream_dir}/cap_ckpt")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    rows = spark.sql("SELECT * FROM embdup_cap").collect()
    admitted = sorted(one_label.vec_id.astype(int))[:3]
    expect = {
        (a, b) for i, a in enumerate(admitted) for b in admitted[i + 1 :]
    }
    assert {(r.vec_a, r.vec_b) for r in rows} == expect
