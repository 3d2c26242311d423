"""MinHash signatures and LSH band buckets are built as single SQL
expressions (text/dedup.py). These tests keep the Column-by-Column
formulation they replaced as the reference and require identical
values on a seeded in-memory corpus, so they need no generated
testdata. The streaming dedup buckets through the same builder.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from metevents_spark.text.dedup import (
    SIG_EMPTY,
    _band_frame,
    band_buckets,
    minhash_signatures,
)

NUM_HASHES, BANDS = 32, 8


def _reference_signatures(docs, k=3, num_hashes=NUM_HASHES):
    """One MIN aggregate Column per hash function (SIG_EMPTY over no
    shingle), then an array."""
    toks = docs.select("doc_id", F.split(F.col("text"), " ").alias("toks"))
    sh = toks.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(
                    F.lit(1),
                    F.greatest(F.size("toks") - (k - 1), F.lit(1)),
                ),
                lambda i: F.array_join(F.slice("toks", i, k), " "),
            )
        ).alias("s"),
    )
    hx = sh.select("doc_id", F.md5("s").alias("hx"))
    h1 = F.conv(F.substring("hx", 1, 15), 16, 10).cast("long")
    h2 = F.conv(F.substring("hx", 17, 8), 16, 10).cast("long")
    hashed = hx.select("doc_id", h1.alias("h1"), h2.alias("h2"))
    agg = hashed.groupBy("doc_id").agg(
        *[
            F.coalesce(
                F.min(F.col("h1") + F.lit(i) * F.col("h2")), F.lit(SIG_EMPTY)
            ).alias(f"m{i}")
            for i in range(num_hashes)
        ]
    )
    return agg.select(
        "doc_id", F.array(*[f"m{i}" for i in range(num_hashes)]).alias("sig")
    )


def _reference_band_cols(sig_col, num_hashes=NUM_HASHES, bands=BANDS):
    """One struct Column per band over md5 of the comma-joined rows."""
    rows = num_hashes // bands
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat_ws(
                                ",",
                                *[
                                    sig_col[b * rows + r].cast("string")
                                    for r in range(rows)
                                ],
                            )
                        ),
                        1,
                        15,
                    ),
                    16,
                    10,
                )
                .cast("long")
                .alias("bucket"),
            )
            for b in range(bands)
        ]
    )


@pytest.fixture(scope="module")
def corpus(spark):
    """Seeded tiny corpus: short and one-word texts, exact copies and
    one-word edits, so shingle counts of 1 and shared buckets occur."""
    rnd = random.Random(11)
    vocab = [f"w{i}" for i in range(25)]
    texts = [" ".join(rnd.choices(vocab, k=rnd.randint(1, 30))) for _ in range(60)]
    texts += [texts[3], texts[7] + " dup", "w1", "w1 w2"]
    return spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )


def test_signatures_match_column_formulation(corpus):
    got = minhash_signatures(corpus)
    want = _reference_signatures(corpus)
    assert got.schema == want.schema
    assert sorted(got.collect()) == sorted(want.collect())


@pytest.mark.parametrize("num_hashes,bands", [(32, 8), (12, 3)])
def test_band_buckets_match_column_formulation(corpus, num_hashes, bands):
    sig = _reference_signatures(corpus, num_hashes=num_hashes)
    got = _band_frame(sig, num_hashes=num_hashes, bands=bands)
    want = sig.select(
        "doc_id",
        "sig",
        F.explode(
            _reference_band_cols(F.col("sig"), num_hashes, bands)
        ).alias("bb"),
    ).select("doc_id", "sig", "bb.band", "bb.bucket")
    assert got.schema == want.schema
    rows = got.collect()
    assert len(rows) == corpus.count() * bands
    assert sorted(rows) == sorted(want.collect())


def test_stream_buckets_through_the_same_builder(corpus):
    """Stream and batch share one bucket expression: the streaming
    map-side signature fed through band_buckets gives the batch rows."""
    from metevents_spark.streaming.dedup import minhash_sig_col

    mapside = corpus.select(
        "doc_id", minhash_sig_col(F.col("text")).alias("sig")
    ).select("doc_id", band_buckets("sig").alias("bb"))
    got = mapside.select("doc_id", "bb.band", "bb.bucket").collect()
    want = _band_frame(minhash_signatures(corpus)).select(
        "doc_id", "band", "bucket"
    ).collect()
    assert sorted(got) == sorted(want)
