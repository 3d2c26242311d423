"""Adversarial Spark-vs-DuckDB parity for the BPE oracles on corpora
where ADJACENT occurrences of a learned pair appear inside one word
('banana', 'aaaa', 'anan') — exactly the shape where a single-space
oracle encoding diverges from the greedy non-overlapping
``bpe.merge_pair``: the shared boundary space makes global
``replace`` merge only the first of two back-to-back occurrences. The
two-space encoding must make the full learn + encode chain
hash-identical on these corpora, not just on the (lucky) real
testdata, also when more merges are asked for than the corpus holds.
"""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

from metevents_spark.queries import (
    _bpe_learn_oracle_sql,
    _bpe_token_count_oracle_sql,
)
from metevents_spark.text.bpe import bpe_learn, bpe_token_count

# Overlap-heavy corpus: 'banana' has back-to-back (a,n); 'aaaa' and
# 'aaaaaa' have chained (a,a); 'anana'/'nananana' stack both shapes;
# repeated words give the pairs enough mass to be picked in the first
# few merge rounds, so the training rounds THEMSELVES compound any
# merge-application divergence, not just the final encode.
DOCS = pd.DataFrame(
    {
        "doc_id": range(6),
        "text": [
            "banana banana banana bandana",
            "aaaa aaaa aaaaaa a an",
            "anana nananana banana aaaa",
            "ana ana anan nan",
            "banana aaaa anana cabana",
            "na na na batman",
        ],
        "lang": ["en"] * 6,
        "source": ["t"] * 6,
        "n_chars": [0] * 6,
    }
)
N_MERGES = 8
# 25 merges leave every word of DOCS a single symbol
PAST_EXHAUSTION = 32


@pytest.fixture(scope="module")
def corpus_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("bpe_overlap")
    DOCS["n_chars"] = DOCS["text"].str.len()
    DOCS.to_parquet(d / "documents.parquet", index=False)
    return str(d)


def _oracle(sql: str) -> pd.DataFrame:
    con = duckdb.connect()
    con.register("documents", DOCS)
    return con.sql(sql).df()


def _learn_both(spark, corpus_dir, n_merges: int) -> pd.DataFrame:
    got = bpe_learn(spark, corpus_dir, n_merges=n_merges).toPandas()
    exp = _oracle(_bpe_learn_oracle_sql(n_merges))
    # identical column order by construction (rank/left/right/merged/
    # pair_count); compare the full ordered table value-by-value
    assert list(got.columns) == list(exp.columns)
    pd.testing.assert_frame_equal(
        got.astype({"rank": "int64", "pair_count": "int64"}),
        exp.astype({"rank": "int64", "pair_count": "int64"}),
    )
    return exp


def _token_counts_both(spark, corpus_dir, n_merges: int) -> None:
    got = (
        bpe_token_count(spark, corpus_dir, n_merges=n_merges)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    exp = (
        _oracle(_bpe_token_count_oracle_sql(n_merges))
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        got.astype("int64"), exp.astype("int64")
    )


def test_bpe_learn_oracle_matches_spark_on_overlaps(spark, corpus_dir):
    exp = _learn_both(spark, corpus_dir, N_MERGES)
    # the corpus genuinely exercises the overlap shape: at least one
    # learned merge's (left, right) pair occurs back-to-back in a word
    # ('banana' -> ...(a,n)(a,n)...), otherwise this test pins nothing
    pairs = {(r["left"], r["right"]) for _, r in exp.iterrows()}
    assert ("a", "n") in pairs or ("a", "a") in pairs or ("n", "a") in pairs


def test_bpe_token_count_oracle_matches_spark_on_overlaps(
    spark, corpus_dir
):
    _token_counts_both(spark, corpus_dir, N_MERGES)


def test_bpe_oracle_matches_spark_past_exhaustion(spark, corpus_dir):
    """Asked for more merges than the corpus holds, both engines stop
    at the same shorter table, and encode with it alike."""
    exp = _learn_both(spark, corpus_dir, PAST_EXHAUSTION)
    assert len(exp) == 25
    _token_counts_both(spark, corpus_dir, PAST_EXHAUSTION)


def test_old_single_space_encoding_was_wrong():
    """Documents the bug shape: single-space padded global replace
    merges only the first of two adjacent occurrences; the two-space
    encoding merges both, matching the greedy fold."""
    con = duckdb.connect()
    one = con.sql(
        "SELECT replace(' b a n a n a </w> ', ' a n ', ' an ')"
    ).fetchone()[0]
    assert one == " b an a n a </w> "  # second occurrence missed
    two = con.sql(
        "SELECT replace(' b  a  n  a  n  a  </w> ', ' a  n ', ' an ')"
    ).fetchone()[0]
    assert two == " b  an  an  a  </w> "  # both merged, fold-identical
