"""The token n-gram primitive and the short-document rules it carries.

``token_ngrams`` is checked against a Python list comprehension on an
in-memory corpus (no generated testdata needed). The short-document
rules are then checked end to end: every query that builds n-grams or
shingles runs on the sf0.001 documents plus planted texts of 0 to 8
tokens and NULL texts, on Spark and on its DuckDB oracle, and the two
must agree.
"""

from __future__ import annotations

import os
import sys

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from metevents_spark.text.stats import token_ngrams
from tests.conftest import SF_SMALL

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))

from check_oracle import TABLES, frame_hash, normalize  # noqa: E402

TEXTS = [
    "",
    "a",
    "a b",
    "a b a",
    "a b c d",
    "x y x y x",
    "the cat sat on the mat the cat",
    None,
]


def _py_ngrams(text, n):
    if text is None:
        return []
    t = text.split(" ")
    return [" ".join(t[i : i + n]) for i in range(len(t) - n + 1)]


@pytest.fixture(scope="module")
def toked(spark):
    docs = spark.createDataFrame(list(enumerate(TEXTS)), "id long, text string")
    return docs.select("id", "text", F.split("text", " ").alias("t"))


@pytest.mark.parametrize("n", [1, 2, 3, 4])
def test_token_ngrams_matches_list_comprehension(toked, n):
    rows = toked.select(
        "id",
        "text",
        token_ngrams("t", n).alias("grams"),
        token_ngrams("t", n, lambda w, i: i).alias("starts"),
    ).collect()
    assert len(rows) == len(TEXTS)
    for r in rows:
        want = _py_ngrams(r.text, n)
        assert r.grams == want, (r.text, n)
        assert r.starts == list(range(1, len(want) + 1)), (r.text, n)


def test_token_ngrams_width_column_gives_whole_document_shingle(toked):
    """The MinHash width ``least(k, size(t))``: a document shorter than
    k tokens is one whole-document shingle; a NULL text has none."""
    k = 3
    width = F.least(F.lit(k), F.size("t"))
    for r in toked.select("text", token_ngrams("t", width).alias("sh")).collect():
        if r.text is None:
            assert r.sh == []
        elif len(r.text.split(" ")) < k:
            assert r.sh == [r.text]
        else:
            assert r.sh == _py_ngrams(r.text, k)


# every registry query whose n-grams or shingles come from token_ngrams
NGRAM_QUERIES = [
    "minhash_near_dup",
    "dedup_clusters",
    "incremental_dedup",
    "dedup_recall_report",
    "duplicate_spans",
    "remove_duplicate_spans",
    "doc_containment",
    "decontaminate_ngram",
    "decontaminate_bloom",
    "contamination_fraction",
    "boilerplate_phrases",
    "ngram_novelty",
    "cross_doc_ngram_share",
    "repetition_stats",
]


def _planted(words):
    """(doc_id, text) rows of 0 to 8 tokens and NULL: prefixes and a
    slice of a real document (so they share grams with it), exact and
    near copies of each other, and ids on the eval (% 50) and batch
    (% 5) splits."""
    w = words
    texts = ["", w[0]] + [" ".join(w[:m]) for m in range(2, 9)]
    texts += ["x y", "x y", "x y z", "x y z w", "q", "q", "", None]
    rows = list(enumerate(texts, start=1000))
    rows += [(1020, None), (1050, " ".join(w[:5])), (1051, " ".join(w[2:10]))]
    return rows


@pytest.fixture(scope="module")
def short_sf(tmp_path_factory):
    d = tmp_path_factory.mktemp("short_docs")
    for t in TABLES:
        if t != "documents":
            os.symlink(f"{SF_SMALL}/{t}.parquet", d / f"{t}.parquet")
    docs = pq.read_table(f"{SF_SMALL}/documents.parquet")
    words = docs.column("text")[0].as_py().split(" ")
    rows = _planted(words)
    extra = pa.table(
        {
            "doc_id": [i for i, _ in rows],
            "text": [t for _, t in rows],
            "lang": ["en"] * len(rows),
            "source": [f"src{i % 5}" for i, _ in rows],
            "n_chars": [None if t is None else len(t) for _, t in rows],
        }
    ).cast(docs.schema)
    pq.write_table(pa.concat_tables([docs, extra]), d / "documents.parquet")
    return str(d)


@pytest.fixture(scope="module")
def short_duck(short_sf):
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{short_sf}/{t}.parquet'")
    yield con
    con.close()


@pytest.mark.parametrize("name", NGRAM_QUERIES)
def test_short_documents_match_oracle(spark, short_sf, short_duck, name):
    import __spark_entry__ as entrymod

    sdf = normalize(entrymod.queries()[name](spark, short_sf).toPandas())
    ddf = normalize(short_duck.sql(entrymod.oracle_sql()[name]).df())
    assert len(sdf) == len(ddf), f"{name}: rows spark={len(sdf)} duck={len(ddf)}"
    assert frame_hash(sdf) == frame_hash(ddf), f"{name}: value-hash mismatch"
