"""Invariant tests for the training-pipeline operators
(decontamination, sequence packing, stratified sampling).

Value-level parity with DuckDB is covered by the oracle harness; these
tests assert the semantic invariants that the hashes alone don't make
obvious.
"""

import pytest
from pyspark.sql import functions as F

from metevents_spark.text.pipeline import (
    decontaminate_ngram,
    sequence_pack,
    stratified_sample,
)

SF = "/root/testdata/sf0.001"


def test_decontaminate_excludes_eval_docs(spark):
    out = decontaminate_ngram(spark, SF, eval_mod=10).collect()
    # eval docs themselves must never be flagged, and counts are positive
    assert all(r.doc_id % 10 != 0 for r in out)
    assert all(r.n_shared >= 1 for r in out)


def test_decontaminate_short_docs_no_grams(spark):
    # n larger than any doc -> no n-grams anywhere -> empty result,
    # and the empty-array guard must not raise on sequence(0, negative)
    assert decontaminate_ngram(spark, SF, n=10_000).count() == 0


def test_sequence_pack_partitions_docs_exactly_once(spark):
    packs = sequence_pack(spark, SF, budget=512)
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    total = packs.agg(
        F.sum("n_docs").alias("d"), F.sum("pack_tokens").alias("t")
    ).first()
    expected = docs.select(
        F.count(F.lit(1)).alias("d"),
        F.sum(F.size(F.split("text", " "))).alias("t"),
    ).first()
    assert total.d == expected.d
    assert total.t == expected.t


def test_sequence_pack_ids_contiguous_from_zero(spark):
    rows = sequence_pack(spark, SF, budget=512).collect()
    by_source = {}
    for r in rows:
        by_source.setdefault(r.source, []).append(r.pack_id)
    for ids in by_source.values():
        assert sorted(ids) == list(range(len(ids)))


def test_stratified_sample_k_per_language(spark):
    out = stratified_sample(spark, SF, k=5)
    sizes = {r.lang: r.n for r in out.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    strata = {r.lang: r.n for r in docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    for lang, n in sizes.items():
        assert n == min(5, strata[lang])


def test_stratified_sample_deterministic(spark):
    a = [tuple(r) for r in stratified_sample(spark, SF, k=7).collect()]
    b = [tuple(r) for r in stratified_sample(spark, SF, k=7).collect()]
    assert a == b


def test_vocab_top_terms_approx_matches_exact(spark):
    """The frequent-items sketch recovers the exact top-k on the test
    corpus (counters=512 >> true heavy-hitter count)."""
    from metevents_spark.text import vocab_top_terms, vocab_top_terms_approx

    from tests.conftest import SF_SMALL

    exact = vocab_top_terms(spark, SF_SMALL, k=20).collect()
    approx = vocab_top_terms_approx(spark, SF_SMALL, k=20).collect()
    assert [(r["token"], r["n"]) for r in exact] == [
        (r["token"], r["n"]) for r in approx
    ]


def test_ngram_novelty_invariants(spark):
    from metevents_spark.text.pipeline import ngram_novelty

    out = ngram_novelty(spark, SF).toPandas()
    # shard 0 is all-novel by construction; ratios live in (0, 1];
    # cum_distinct is the running sum of novel counts and total
    # distinct grams equal the corpus-wide distinct trigram count
    assert out.iloc[0]["novelty_ratio"] == 1.0
    assert ((out["novelty_ratio"] > 0) & (out["novelty_ratio"] <= 1)).all()
    assert (out["n_novel"] <= out["n_grams"]).all()
    assert list(out["cum_distinct"]) == list(out["n_novel"].cumsum())
    from metevents_spark.io import load_table
    from metevents_spark.text.pipeline import _doc_ngrams

    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    n_distinct = _doc_ngrams(docs, 3).select("gram").distinct().count()
    assert out["cum_distinct"].iloc[-1] == n_distinct


def test_boilerplate_phrases_invariants(spark):
    from metevents_spark.text.pipeline import boilerplate_phrases

    out = boilerplate_phrases(spark, SF).toPandas()
    # per-source rank sequences are 1..k contiguous, df is
    # non-increasing within a source, and df_frac is df / source docs
    for _, g in out.groupby("source"):
        assert list(g["rnk"]) == list(range(1, len(g) + 1))
        assert (g["df"].diff().dropna() <= 0).all()
    assert (out["df"] >= 2).all()
    assert ((out["df_frac"] > 0) & (out["df_frac"] <= 1)).all()


def test_contamination_fraction_consistent_with_binary(spark):
    from metevents_spark.text.pipeline import (
        contamination_fraction,
        decontaminate_ngram,
    )

    frac = contamination_fraction(spark, SF).toPandas()
    binary = decontaminate_ngram(spark, SF).toPandas()
    # the graded meter must agree with the binary one: docs with
    # frac > 0 are EXACTLY the contaminated set, with equal n_shared
    contaminated = frac[frac["n_shared"] > 0].set_index("doc_id")
    assert set(contaminated.index) == set(binary["doc_id"])
    b = binary.set_index("doc_id")
    assert (
        contaminated["n_shared"] == b.loc[contaminated.index, "n_shared"]
    ).all()
    assert ((frac["contaminated_frac"] >= 0)
            & (frac["contaminated_frac"] <= 1)).all()


def test_importance_resample_key_finite_at_top_hash(spark):
    """u = (h + 1) / 2^60 is 1.0 in doubles for the top 60-bit hashes,
    where ln(-ln u) is NULL in Spark and an error in DuckDB. Both
    engines clamp u below 1, so h = 2^60 - 1 gets the same finite key;
    the key expression is taken from the oracle SQL itself."""
    import re

    import duckdb

    from metevents_spark.queries import ORACLE_SQL
    from metevents_spark.text.pipeline import _gumbel_key

    sql = ORACLE_SQL["importance_resample"]
    key = re.search(r"(ROUND\(log_ratio.*?)\s+AS sel_key", sql, re.S).group(1)
    hex_h = "('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT"
    assert hex_h in key
    for h in (0, 123456789012345678, 2**60 - 65, 2**60 - 1):
        duck_sql = key.replace(hex_h, f"CAST({h} AS BIGINT)")
        duck = duckdb.sql(
            "SELECT " + duck_sql.replace("log_ratio", "0.25")
        ).fetchone()[0]
        got = (
            spark.range(1)
            .select(_gumbel_key(F.lit(0.25), F.lit(h)).alias("k"))
            .first()
            .k
        )
        assert got is not None and got == duck, (h, got, duck)
